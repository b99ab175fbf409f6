"""recall@5 vs nprobe at the 10x sweep point (r9 verdict ask #6).

The r9 quantization-ladder table measured recall at sf0.1 defaults;
this measures the PQ (and SQ8 comparator) recall@5 curve across nprobe
at the SCALE.md decade-sweep corpus (10x embeddings, /tmp/scale_sf1 —
build with tools/make_scale_dataset.py), where the PQ trade actually
matters. Probes = every 500th vector (~120 probes) so the exact
baseline stays tractable; recall is per-probe overlap with the exact
cosine top-5, averaged.

Usage: python tools/measure_pq_nprobe_recall.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

K = 5
PROBE_MOD = 500
NPROBES = [4, 8, 16, 32]


def main(sf_dir: str = "/tmp/scale_sf1") -> None:
    from pyspark.sql import functions as F

    from connect_server_spark.operators.similarity import (
        cosine_topk,
        ivf_topk_indexed,
        write_ivf_index,
    )
    from connect_server_spark.session import get_spark

    spark = get_spark(app_name="pq-nprobe-recall")
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    nlist = max(16, n // 256)
    probes = emb.filter(F.col("vec_id") % PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    print(f"corpus={n} nlist={nlist} probes={probes.count()}")

    exact = {}
    for r in cosine_topk(probes, emb, K).collect():
        exact.setdefault(r.probe_id, set()).add(r.vec_id)

    paths = {}
    for quant, tag in ((True, "sq8"), ("pq", "pq")):
        index_path = f"/tmp/pq_nprobe_recall_{tag}_{n}"
        paths[tag] = index_path
        if not os.path.exists(f"{index_path}/cells/_SUCCESS"):
            write_ivf_index(emb, index_path, nlist=nlist, quantize=quant)
        row = {}
        for nprobe in NPROBES:
            approx = {}
            got = ivf_topk_indexed(
                probes, spark, index_path, K, nprobe=nprobe
            ).collect()
            for r in got:
                approx.setdefault(r.probe_id, set()).add(r.vec_id)
            hits = sum(
                len(exact[p] & approx.get(p, set())) for p in exact
            )
            row[nprobe] = round(hits / (len(exact) * K), 3)
        print(tag, row)

    # the composed IVFPQ+refine deployment (r10 verdict ask #4): PQ
    # candidates re-ranked by the SQ8 payload — the serving answer the
    # bare-PQ plateau above motivates. Same deterministic coarse
    # quantizer in both stores (seed-fixed training over the same
    # corpus); the operator verifies centroid equality.
    from connect_server_spark.operators.similarity import pq_refine_topk

    row = {}
    for nprobe in NPROBES:
        approx = {}
        got = pq_refine_topk(
            probes, spark, paths["pq"], paths["sq8"], K,
            nprobe=nprobe, refine_mult=8,
        ).collect()
        for r in got:
            approx.setdefault(r.probe_id, set()).add(r.vec_id)
        hits = sum(len(exact[p] & approx.get(p, set())) for p in exact)
        row[nprobe] = round(hits / (len(exact) * K), 3)
    print("pq_refine(x8)", row)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_sf1")
