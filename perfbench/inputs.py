"""Seeded input generators for the benchmark workloads.

Everything here is plain Python/NumPy/pyarrow and runs before the JVM
starts, so input generation never counts toward ``setup_s``. The same
seed always yields byte-identical inputs.

The corpus mirrors the shape of the repository's synthetic
``documents``/``embeddings`` test tables: 10-100 words drawn from a
30-word vocabulary, about 5% near-duplicates (an earlier document plus a
trailing ``dup`` token), a few exact copies, five languages, twenty
sources, and unit-norm 64-d embeddings with a 0-9 label.
"""

from __future__ import annotations

import os
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMB_DIM = 64
REPLICA_STRIDE = 100_000_000  # same id stride as tools/make_scale_dataset.py


def _write(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def corpus_texts(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Documents of the test-table shape, with planted near/exact dups."""
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 20 and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and u < 0.053:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    return texts


def unit_embeddings(rng: np.random.Generator, n: int) -> np.ndarray:
    x = rng.standard_normal((n, EMB_DIM))
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def documents_table(
    rng: np.random.Generator, n_docs: int, replicas: int = 1
) -> pa.Table:
    """``documents`` rows; ``replicas`` > 1 adds shingle-disjoint copies
    (every word prefixed with a replica tag, ids strided), as the scale
    dataset tool builds them, so input grows without planting
    cross-replica near-duplicates."""
    base = corpus_texts(rng, n_docs)
    ids, texts, langs, sources = [], [], [], []
    lang_idx = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    for k in range(replicas):
        for i, t in enumerate(base):
            text = t if k == 0 else " ".join(f"r{k}{w}" for w in t.split(" "))
            ids.append(i + k * REPLICA_STRIDE)
            texts.append(text)
            langs.append(LANGS[lang_idx[i]])
            sources.append(f"src{i % 20}")
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_corpus(sf_dir: str, seed: int, n_docs: int, replicas: int = 1) -> None:
    """Write the ``documents`` table under ``sf_dir`` and an
    ``embeddings`` table whose ``vec_id`` is the document id (the id
    space the hybrid retrieval query joins on)."""
    rng = np.random.default_rng([seed, 1])
    docs = documents_table(rng, n_docs, replicas)
    _write(os.path.join(sf_dir, "documents.parquet"), docs)
    rng = np.random.default_rng([seed, 4])
    emb = unit_embeddings(rng, docs.num_rows)
    _write(
        os.path.join(sf_dir, "embeddings.parquet"),
        pa.table(
            {
                "vec_id": docs.column("doc_id"),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, docs.num_rows), pa.int32()),
            }
        ),
    )


# ---------------------------------------------------------------- MDF

N_USERS = 40
N_GROUPS = 6
FLOW_STATES = ("active", "failed", "hibernating", "cancelled", "succeeded")
NATIONS = 25
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def org_tables(sf_dir: str) -> None:
    """``nation``/``region`` in the test-table shape: the org registry
    is derived from them (canonical names, aliases, curation flag)."""
    _write(
        os.path.join(sf_dir, "nation.parquet"),
        pa.table(
            {
                "n_nationkey": pa.array(range(NATIONS), pa.int32()),
                "n_name": pa.array([f"NATION_{k}" for k in range(NATIONS)]),
                "n_regionkey": pa.array([k % 5 for k in range(NATIONS)], pa.int32()),
            }
        ),
    )
    _write(
        os.path.join(sf_dir, "region.parquet"),
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(list(REGIONS)),
            }
        ),
    )


def org_names() -> list[str]:
    return [f"nation_{k}" for k in range(NATIONS)] + [
        f"region-{k}" for k in range(5)
    ]


def status_rows(rng: np.random.Generator, n_sources: int) -> list[dict]:
    """Versioned status records: 1-4 dotted versions per source."""
    rows = []
    day0 = date(2021, 1, 1)
    seq = 0
    for s in range(n_sources):
        owner = f"u{int(rng.integers(0, N_USERS))}"
        title_words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), 4)]
        org = org_names()[int(rng.integers(0, NATIONS + 5))]
        for v in range(int(rng.integers(1, 5))):
            seq += 1
            tags = sorted({f"tag{int(t)}" for t in rng.integers(0, 12, 3)})
            rows.append(
                {
                    "source_id": f"src_{s}",
                    "version": f"1.{v}" if v else "1.0",
                    "version_seq": seq,
                    "owner": owner,
                    "user_id": owner,
                    "title": " ".join(title_words),
                    "organization": org,
                    "tags": tags,
                    "flow_state": FLOW_STATES[int(rng.integers(0, len(FLOW_STATES)))],
                    "status_code": "".join(
                        "SMzF"[int(c)] for c in rng.integers(0, 4, 12)
                    ),
                    "n_files": int(rng.integers(1, 5000)),
                    "size_mb": round(float(rng.gamma(2.0, 300.0)), 3),
                    "submitted": (day0 + timedelta(days=int(rng.integers(0, 900)))).isoformat(),
                    "doi": None if rng.random() < 0.4 else f"10.0000/mdf.{s}.{v}",
                }
            )
    return rows


def write_status_seed(path: str, rows: list[dict]) -> None:
    _write(path, pa.Table.from_pylist(rows, schema=STATUS_SCHEMA))


STATUS_SCHEMA = pa.schema(
    [
        ("source_id", pa.string()),
        ("version", pa.string()),
        ("version_seq", pa.int64()),
        ("owner", pa.string()),
        ("user_id", pa.string()),
        ("title", pa.string()),
        ("organization", pa.string()),
        ("tags", pa.list_(pa.string())),
        ("flow_state", pa.string()),
        ("status_code", pa.string()),
        ("n_files", pa.int64()),
        ("size_mb", pa.float64()),
        ("submitted", pa.string()),
        ("doi", pa.string()),
    ]
)

# ``(field, op)`` shapes covering all ten filter operators; values are
# drawn per request.
FILTER_SHAPES = (
    ("title", "^"),
    ("tags", "*"),
    ("flow_state", "=="),
    ("doi", "!="),
    ("n_files", ">"),
    ("size_mb", ">="),
    ("n_files", "<"),
    ("size_mb", "<="),
    ("submitted", "[]"),
    ("organization", "in"),
)
PROJECTIONS = (
    ["source_id", "version", "flow_state", "status_code"],
    ["source_id", "version", "title", "tags", "n_files", "size_mb", "doi"],
)


def filter_value(rng: np.random.Generator, field: str, op: str):
    if field == "title":
        return VOCAB[int(rng.integers(0, len(VOCAB)))][:2]
    if field == "tags":
        return f"tag{int(rng.integers(0, 12))}"
    if field == "flow_state":
        return FLOW_STATES[int(rng.integers(0, len(FLOW_STATES)))]
    if field == "doi":
        return None
    if field == "n_files":
        return int(rng.integers(100, 4900))
    if field == "size_mb":
        return round(float(rng.uniform(50.0, 1500.0)), 3)
    if field == "submitted":
        a = date(2021, 1, 1) + timedelta(days=int(rng.integers(0, 700)))
        return [a.isoformat(), (a + timedelta(days=int(rng.integers(30, 300)))).isoformat()]
    names = org_names()
    return sorted({names[int(i)] for i in rng.integers(0, len(names), 6)})
