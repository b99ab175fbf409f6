"""Execute queries with the noop sink and print per-Exchange SQLMetrics
(shuffle records/bytes written) from the SQL status store — the
committed evidence for shuffle-volume claims (r12 verdict ask #8: a
plan's Exchange COUNT can rise while the bytes it moves collapse; only
the runtime metrics settle the claim).

    python tools/shuffle_bytes.py [sf_dir] [q1,q2,...]
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from connect_server_spark.session import get_spark  # noqa: E402
from connect_server_spark import registry  # noqa: E402
from connect_server_spark import queries as _q  # noqa: E402,F401

_KEEP = ("shuffle bytes written", "shuffle records written", "data size")


def exchange_metrics(spark, since_id: int) -> list[str]:
    """(node, metric, value) rows for every Exchange-ish node of every
    SQL execution with id > since_id, via the live SQLAppStatusStore."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        eid = e.executionId()
        if eid <= since_id:
            continue
        metric_vals = store.executionMetrics(eid)
        g = store.planGraph(eid)
        nodes = g.allNodes().iterator()
        while nodes.hasNext():
            n = nodes.next()
            name = n.name()
            if "Exchange" not in name and "Shuffle" not in name:
                continue
            ms = n.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                if not any(k in m.name() for k in _KEEP):
                    continue
                v = metric_vals.get(m.accumulatorId())
                if v.isDefined():
                    out.append(
                        f"exec {eid} node {n.id()} {name}: "
                        f"{m.name()} = {v.get()}"
                    )
    return out


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    return lst.last().executionId() if lst.nonEmpty() else -1


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = (
        sys.argv[2].split(",") if len(sys.argv) > 2 else ["corpus_from_crawl"]
    )
    spark = get_spark(app_name="shuffle-bytes")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()
    for n in names:
        if n not in qs:
            print(f"{n}: UNKNOWN")
            continue
        # warm-up (constructs stores/models so the measured run is the
        # steady-state plan)
        qs[n](spark, sf_dir).write.mode("overwrite").format("noop").save()
        since = last_execution_id(spark)
        qs[n](spark, sf_dir).write.mode("overwrite").format("noop").save()
        print(f"=== {n} (post-warm-up executions only)")
        for row in exchange_metrics(spark, since):
            print(" ", row)


if __name__ == "__main__":
    main()
