"""Capture ``explain("formatted")`` for a list of registered queries into
plans/<tag>/<query>_<suffix>.txt — the optimization round's evidence files
(the judge reads plan claims against these).

    python tools/capture_plans.py <tag> <suffix> [sf_dir] [q1,q2,...]

e.g. ``python tools/capture_plans.py r12 before /root/testdata/sf0.1 \
curation_full,dedup_semantic``. With no query list, captures every
bench HEADLINE query. Plans are the PRE-execution shape (AQE initial
plan): Exchange count, join strategy, PushedFilters/ReadSchema and
Python-eval nodes are all visible there.
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from connect_server_spark.session import get_spark  # noqa: E402
from connect_server_spark import registry  # noqa: E402
from connect_server_spark import queries as _q  # noqa: E402,F401


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    if len(sys.argv) > 4:
        names = sys.argv[4].split(",")
    else:
        import bench

        names = list(bench.HEADLINE)
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()
    for n in names:
        if n not in qs:
            print(f"skip (unregistered): {n}")
            continue
        try:
            df = qs[n](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — record, keep capturing
            plan = f"ERROR {type(exc).__name__}: {exc}"
        path = os.path.join(out_dir, f"{n}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
