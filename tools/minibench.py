"""Mini-bench for the r9 regression cluster: times a fixed query list
bench-style (best + med of N reps, warm-up first) plus the calibration
row, in ONE session, so an r8-tree and an HEAD-tree run on the same
machine are directly comparable. Run from the tree to measure:

    python tools/minibench.py [sf_dir] [q1,q2,...]
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from connect_server_spark.session import get_spark  # noqa: E402
from connect_server_spark import registry  # noqa: E402
from connect_server_spark import queries as _q  # noqa: E402,F401

DEFAULT = (
    "similarity_topk_ann,similarity_topk_ivf,similarity_topk_ivf_indexed,"
    "similarity_topk_ivf_sq8,flow_execute,dedup_incremental_winnow,"
    "curation_full"
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = (sys.argv[2] if len(sys.argv) > 2 else DEFAULT).split(",")
    spark = get_spark(app_name="minibench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()
    names = [n for n in names if n in qs]

    for n in names:  # warm-up
        qs[n](spark, sf_dir).write.mode("overwrite").format("noop").save()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    out = {}
    for n in names:
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            qs[n](spark, sf_dir).write.mode("overwrite").format("noop").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        out[n] = {
            "min": round(samples[0], 3),
            "med": round(samples[len(samples) // 2], 3),
            "max": round(samples[-1], 3),
        }

    cal = []
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(0, 50_000_000, 1, 32)
            .selectExpr(
                "sum(pmod(xxhash64(id), 1000003)) AS h",
                "sum(id % 997) AS m",
                "count(*) AS n",
            )
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        cal.append(time.perf_counter() - t0)
    print(json.dumps({"queries": out, "calibration": round(min(cal), 4)}))


if __name__ == "__main__":
    main()
