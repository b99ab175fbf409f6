"""Per-query cost breakdown for the optimization rounds: splits each
query's wall time into DataFrame-construction time (driver-side work —
eager checkpoints, collects, index builds) vs noop-execution time, and
counts the Spark jobs each phase submitted (statusTracker job ids under
a per-query job group). High construction share = driver actions to
hunt; high job count = sequential-action overhead.

    python tools/profile_query.py [sf_dir] [q1,q2,...] [reps]
"""

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from connect_server_spark.session import get_spark  # noqa: E402
from connect_server_spark import registry  # noqa: E402
from connect_server_spark import queries as _q  # noqa: E402,F401


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2].split(",") if len(sys.argv) > 2 else []
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    spark = get_spark(app_name="profile-query")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()
    names = [n for n in names if n in qs] or sorted(qs)

    tracker = spark.sparkContext.statusTracker()
    out = {}
    for n in names:
        # warm-up rep (codegen, parquet footers, model caches)
        try:
            qs[n](spark, sf_dir).write.mode("overwrite").format("noop").save()
        except Exception as exc:  # noqa: BLE001
            out[n] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            continue
        best = None
        for _ in range(reps):
            g1 = f"prof-{n}-build-{time.monotonic_ns()}"
            spark.sparkContext.setJobGroup(g1, n)
            t0 = time.perf_counter()
            df = qs[n](spark, sf_dir)
            t1 = time.perf_counter()
            g2 = f"prof-{n}-exec-{time.monotonic_ns()}"
            spark.sparkContext.setJobGroup(g2, n)
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            jobs_build = len(tracker.getJobIdsForGroup(g1))
            jobs_exec = len(tracker.getJobIdsForGroup(g2))
            row = {
                "total": round(t2 - t0, 3),
                "build": round(t1 - t0, 3),
                "exec": round(t2 - t1, 3),
                "jobs_build": jobs_build,
                "jobs_exec": jobs_exec,
            }
            if best is None or row["total"] < best["total"]:
                best = row
        out[n] = best
        print(json.dumps({n: best}), flush=True)
    print("== summary (desc by total) ==")
    for n in sorted(out, key=lambda k: -out[k].get("total", 0)):
        print(json.dumps({n: out[n]}))


if __name__ == "__main__":
    main()
