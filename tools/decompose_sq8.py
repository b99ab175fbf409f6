"""Stage-decompose similarity_topk_ivf_sq8 (r9 verdict ask #1).

Times each driver-side stage of the serving path per repetition so the
generation-pointer suspects (resolve_store round-trips, centroid
collect, cells schema inference, plan build, execution) are separated.
Run:  python tools/decompose_sq8.py [sf_dir]
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from connect_server_spark.session import get_spark  # noqa: E402

def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="decompose-sq8")
    spark.sparkContext.setLogLevel("WARN")

    from connect_server_spark.queries.similarity_queries import (
        _ivf_index_for,
        _probes,
        similarity_topk_ivf_sq8,
    )
    from connect_server_spark.tables import load_table
    from connect_server_spark.fsutil import resolve_store
    from connect_server_spark.operators.similarity import (
        ivf_topk_indexed,
        read_ivf_cells,
        read_ivf_centroids,
    )

    # warm: build the index + one full run
    t0 = time.perf_counter()
    similarity_topk_ivf_sq8(spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()
    print(f"warm run (incl. index build if cold): {time.perf_counter()-t0:.3f}s")

    index_path = _ivf_index_for(spark, sf_dir, quantize=True)

    for rep in range(4):
        t = {}
        t0 = time.perf_counter()
        emb = load_table(spark, "embeddings", sf_dir)
        probes = _probes(emb)
        t["load_table+probes"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        live = resolve_store(spark, index_path)
        t["resolve_store"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        cents = read_ivf_centroids(spark, live)
        t["centroids_collect"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        cells = read_ivf_cells(spark, live)
        t["cells_read_plan"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        df = ivf_topk_indexed(probes, spark, index_path, 5, nprobe=4)
        t["full_plan_build"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t["execute"] = time.perf_counter() - t0

        total = sum(t.values())
        print(
            f"rep{rep}: total={total:.3f}s  "
            + "  ".join(f"{k}={v:.3f}" for k, v in t.items())
        )

    # and the plain query-callable wall, bench-style
    for rep in range(4):
        t0 = time.perf_counter()
        similarity_topk_ivf_sq8(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        print(f"bench-style rep{rep}: {time.perf_counter()-t0:.3f}s")


if __name__ == "__main__":
    main()
