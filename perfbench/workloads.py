"""The three benchmark workloads.

Each workload builds its fixtures in :meth:`setup` (timed as part of
``setup_s``), then yields operations from :meth:`ops` for the closed
loop. An operation returns its result; :meth:`check` validates it
outside the timed region and returns an error string or ``None``.
Every library call goes through a module attribute (``storage.x``, not
``from storage import x``) so the traced run's wrappers see it.
"""

from __future__ import annotations

import os
import shutil
import statistics
from datetime import datetime, timedelta, timezone

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs

N_BUCKETS = 32


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def quantile(values, q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def _vkey(version: str) -> tuple:
    return tuple(int(p) for p in version.split("."))


def _norm(rows) -> list:
    def cell(v):
        if isinstance(v, (list, tuple, np.ndarray)):
            return tuple(cell(x) for x in v)
        return v

    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


class Workload:
    name = ""
    #: operation kinds whose latencies are ``op_p50_s`` and ``op2_p50_s``;
    #: a cycle of :meth:`ops` ends with a secondary operation
    primary = ""
    secondary = ""
    #: operations per kind run untimed during set-up: the runs it takes
    #: until an operation's time stops falling
    warmup = {}

    def __init__(self, spark, run_dir: str, seed: int):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.rng = np.random.default_rng([seed, 2])

    def prepare_inputs(self) -> None:
        """Harness time: write seeded inputs (runs before the JVM)."""

    def setup(self) -> None:
        """Build fixtures on the session (counted in ``setup_s``)."""

    def rebind(self, spark) -> None:
        """Continue on a new session (the single-core reference)."""
        self.spark = spark

    def ops(self):
        """Endless (or input-bounded) stream of ``(kind, op)``."""
        raise NotImplementedError

    def named_metrics(self, loop) -> list[tuple]:
        """Workload-specific end-to-end rows: (name, value, unit, samples)."""
        return []

    def tag(self, kind: str, result) -> str | None:
        """A sub-kind to record with the sample (e.g. repeated reads)."""
        return None

    def check(self, kind: str, result) -> str | None:
        return None

    def final_check(self) -> list[str]:
        return []

    def store_bytes_per_doc(self) -> float:
        raise NotImplementedError


# ------------------------------------------------------------ mdf_service


class MdfService(Workload):
    """The MDF Connect request path: filter scans and point reads of the
    versioned status store, plus submissions through the submit
    pipeline and the flow DAG whose accepted rows append to the store."""

    name = "mdf_service"
    primary = "read"
    secondary = "submit"
    # reads settle after ~12 runs (1.4 s cold, ~0.45 s warm); a
    # submission is within ~5% of its steady time on its second run
    warmup = {"read": 12, "submit": 1}
    N_SOURCES = 3000
    # The traffic mix is assumed, not measured: neither the paper nor the
    # reference service publishes request rates, repeat rates or refusal
    # rates. Reads per submission, the exact-repeat share of reads, the
    # submission batch size, the share of new sources and the share of
    # refused updates below are all assumptions; the run reports the
    # repeat share it actually produced (``read_repeat_share``) and the
    # latency of repeated and new reads separately.
    READS_PER_SUBMIT = 4
    # three reads in every ten (at fixed positions, so each run holds
    # the same share) repeat an earlier read exactly
    REPEATS = (3, 6, 9)
    BATCH = 8
    NEW_P = 0.4
    REFUSE_P = 0.25

    def prepare_inputs(self) -> None:
        self.sf = os.path.join(self.run_dir, "mdf_tables")
        inputs.org_tables(self.sf)
        rows = inputs.status_rows(self.rng, self.N_SOURCES)
        self.seed_path = os.path.join(self.run_dir, "status_seed.parquet")
        inputs.write_status_seed(self.seed_path, rows)
        self.store = os.path.join(self.run_dir, "status_store")
        self.latest: dict[str, str] = {}
        self.owner: dict[str, str] = {}
        for r in rows:
            sid = r["source_id"]
            if sid not in self.latest or _vkey(r["version"]) > _vkey(self.latest[sid]):
                self.latest[sid] = r["version"]
            self.owner[sid] = r["owner"]
        self.seq = max(r["version_seq"] for r in rows)
        self.seed_rows = len(rows)
        self.n_new = 0
        self.history: list = []
        self.duck = duckdb.connect()
        # the flow's search-ingest leg: accepted versions are indexed for
        # full-text search by title
        self.search_index = os.path.join(self.run_dir, "search_index")
        self.search_docs = os.path.join(self.run_dir, "search_docs")
        self.indexed: list[str] = []
        self.n_ingest = 0

    def setup(self) -> None:
        from connect_server_spark import storage

        seed_df = self.spark.read.parquet(self.seed_path)
        storage.write_status_layout(
            seed_df, self.store, "source_id", "version", n_buckets=N_BUCKETS
        )
        # measured on the seeded layout: the number of appends a run
        # makes depends on its speed
        self.seed_store_bytes = dir_bytes(self.store)

    # -- requests ----------------------------------------------------------
    def _read_request(self, i: int):
        """A status read: a user-scoped filter scan with two filters
        (shapes cycle so every five reads cover all ten operators), then a
        point read of one source. Reads at ``REPEATS`` positions repeat a
        seeded earlier read exactly. Returns ``(request, repeated)``."""
        if self.history and i % 10 in self.REPEATS:
            return self.history[int(self.rng.integers(0, len(self.history)))], True
        shapes = inputs.FILTER_SHAPES[2 * (i % 5):2 * (i % 5) + 2]
        filters = [(f, op, inputs.filter_value(self.rng, f, op)) for f, op in shapes]
        user = f"u{int(self.rng.integers(0, inputs.N_USERS))}"
        fields = inputs.PROJECTIONS[int(self.rng.integers(0, len(inputs.PROJECTIONS)))]
        key = f"src_{int(self.rng.integers(0, self.N_SOURCES))}"
        req = (user, filters, fields, key)
        self.history.append(req)
        return req, False

    def named_metrics(self, loop) -> list[tuple]:
        reads, subs = loop.times("read"), loop.times("submit")
        rows = [
            ("read_p50_s", statistics.median(reads), "s", len(reads)),
            ("read_p90_s", quantile(reads, 0.9), "s", len(reads)),
            ("submit_p50_s", statistics.median(subs), "s", len(subs)),
        ]
        repeated = loop.times("read", tag="repeat")
        rows.append(("read_repeat_share", len(repeated) / len(reads), "ratio", len(reads)))
        for tag in ("new", "repeat"):
            t = loop.times("read", tag=tag)
            if t:
                rows.append((f"read_{tag}_p50_s", statistics.median(t), "s", len(t)))
        return rows

    def tag(self, kind: str, result) -> str | None:
        if kind == "read":
            return "repeat" if result[-1] else "new"
        return None

    def ops(self):
        i = 0
        while True:
            for _ in range(self.READS_PER_SUBMIT):
                req, repeated = self._read_request(i)
                i += 1
                yield "read", (lambda r=req, rep=repeated: self._read(r) + (rep,))
            batch = self._submission_batch()
            yield "submit", (lambda b=batch: self._submit(b))

    def _read(self, req):
        from connect_server_spark import storage
        from connect_server_spark.plans import filter_compiler

        user, filters, fields, key = req
        res = filter_compiler.try_scan_table(
            self.spark.read.parquet(self.store),
            fields,
            filter_compiler.user_scoped_filters(filters, user),
        )
        if not res["success"]:
            return req, res, None
        scanned = res["results"].collect()
        point = storage.status_point_read(
            self.spark, self.store, "source_id", key, n_buckets=N_BUCKETS
        )
        return req, scanned, point.select(*_POINT_COLS).collect()

    def _submission_batch(self) -> list[dict]:
        rng = self.rng
        existing = rng.choice(sorted(self.latest), self.BATCH, replace=False)
        orgs = [f"n{k}" for k in range(1, inputs.NATIONS)] + [
            r.lower() for r in inputs.REGIONS[1:]
        ]
        rows = []
        for i in range(self.BATCH):
            u = rng.random()
            group = f"g{int(rng.integers(0, inputs.N_GROUPS))}"
            row = {
                "sub_id": i,
                "title": " ".join(inputs.VOCAB[int(j)] for j in rng.integers(0, 30, 4)),
                "org_ref": orgs[int(rng.integers(0, len(orgs)))],
                "required_group": group,
                "user_groups": [group, f"g{int(rng.integers(0, inputs.N_GROUPS))}"],
                "metadata_value": float(rng.uniform(0, 100)),
                "update_metadata_only": bool(rng.random() < 0.2),
                "transfer_fail": bool(rng.random() < 0.1),
                "decision": ("accept", "accept", "reject", "pending")[int(rng.integers(0, 4))],
            }
            if u < self.NEW_P:
                self.n_new += 1
                row.update(
                    source_id=f"new_{self.seed}_{self.n_new}",
                    update=False,
                    identities=[f"u{int(rng.integers(0, inputs.N_USERS))}"],
                )
            else:
                sid = str(existing[i])
                owner = self.owner[sid]
                row.update(source_id=sid, update=True, identities=[owner])
                if u > 1.0 - self.REFUSE_P:  # refusals: not the owner, no update flag, bad value
                    fault = int(rng.integers(0, 4))
                    if fault == 0:
                        row["identities"] = [owner + "x"]
                    elif fault == 1:
                        row["update"] = False
                    elif fault == 2:
                        row["metadata_value"] = float("nan")
                    else:
                        row["org_ref"] = "unknown-org"
            rows.append(row)
        return rows

    def _submit(self, batch: list[dict]):
        from pyspark.sql import functions as F

        from connect_server_spark import storage, tables
        from connect_server_spark.pipeline import flow, submit
        from connect_server_spark.streaming import search_ingest

        subs = self.spark.createDataFrame(batch, schema=_SUBMISSION_DDL)
        orgs = self._org_registry(tables)
        status = self.spark.read.parquet(self.store)
        out = submit.submit_pipeline(subs, orgs, status, status_tiebreaker="version_seq")
        meta_only = F.col("update_metadata_only")
        st = flow.FlowStage
        stages = [
            st("start", step="sub_start"),
            st("cancel_old", step="old_cancel", choice=F.col("update")),
            st("download", step="data_download", choice=~meta_only),
            st("transfer", step="data_transfer", choice=~meta_only, fail=F.col("transfer_fail")),
            st("extract", step="extracting", choice=~meta_only),
            st(
                "curate",
                step="curation",
                choice=F.coalesce(F.col("curation"), F.lit(False)),
                fail=F.col("decision") == "reject",
                hibernate=F.col("decision") == "pending",
                result={"decision": F.col("decision")},
            ),
            st("search", step="ingest_search"),
            st("backup", step="ingest_backup", choice=~meta_only),
            st("publish", step="ingest_publish", result={"doi": F.concat(F.lit("10.0000/mdf."), F.col("versioned_source_id"))}),
            st("citrine", step="ingest_citrine", choice=F.lit(False)),
            st("mrr", step="ingest_mrr", choice=F.lit(False)),
            st("cleanup", step="ingest_cleanup"),
        ]
        flowed = flow.run_flow(
            out.withColumn("rejected", ~F.col("success")), stages, cancelled_col="rejected"
        )
        rows = flowed.select(
            "sub_id", "effective_source_id", "success", "error", "assigned_version",
            "canonical_name", "status_code", "flow_state", "title", "identities",
            F.col("publish_result.doi").alias("doi"),
        ).collect()
        accepted = []
        for r in rows:
            if not r.success:
                continue
            self.seq += 1
            accepted.append(
                {
                    "source_id": r.effective_source_id,
                    "version": r.assigned_version,
                    "version_seq": self.seq,
                    "owner": r.identities[0],
                    "user_id": r.identities[0],
                    "title": r.title,
                    "organization": r.canonical_name,
                    "tags": ["tag0"],
                    "flow_state": r.flow_state,
                    "status_code": r.status_code,
                    "n_files": 1,
                    "size_mb": 1.0,
                    "submitted": "2024-01-01",
                    "doi": r.doi,
                }
            )
        if accepted:
            df = self.spark.createDataFrame(
                pa.Table.from_pylist(accepted, schema=inputs.STATUS_SCHEMA).to_pandas()
            ).select(*inputs.STATUS_SCHEMA.names)
            storage.write_status_layout(
                df, self.store, "source_id", "version", n_buckets=N_BUCKETS, mode="append"
            )
            self.n_ingest += 1
            docs = self.spark.createDataFrame(
                [(_search_id(a["source_id"], a["version"]), a["title"]) for a in accepted],
                "doc_id string, text string",
            )
            sink = search_ingest.search_ingest_sink(
                self.spark, self.search_index, self.search_docs, "doc_id", "text"
            )
            sink(docs, self.n_ingest)
        return batch, rows

    def _org_registry(self, tables):
        from pyspark.sql import functions as F

        nation = tables.load_table(self.spark, "nation", self.sf)
        region = tables.load_table(self.spark, "region", self.sf)
        n = nation.select(
            F.lower("n_name").alias("canonical_name"),
            F.array(
                F.concat(F.lit("n"), F.col("n_nationkey").cast("string")),
                F.concat(F.lower("n_name"), F.lit("-org")),
            ).alias("aliases"),
            (F.col("n_nationkey") % 3 == 0).alias("curation"),
        )
        r = region.select(
            F.concat(F.lit("region-"), F.col("r_regionkey").cast("string")).alias("canonical_name"),
            F.array(F.lower("r_name")).alias("aliases"),
            (F.col("r_regionkey") % 2 == 0).alias("curation"),
        )
        return n.unionByName(r)

    # -- checks ------------------------------------------------------------
    def check(self, kind: str, result) -> str | None:
        if kind == "submit":
            return self._check_submit(*result)
        (user, filters, fields, key), scanned, point, _repeated = result
        if isinstance(scanned, dict):
            return f"scan refused: {scanned.get('error')}"
        glob = f"read_parquet('{self.store}/*/*.parquet', hive_partitioning = true)"
        where, params = _duck_where([("user_id", "==", user)] + filters)
        want = self.duck.execute(
            f"SELECT {', '.join(fields)} FROM {glob} WHERE {where}", params
        ).fetchall()
        if _norm(scanned) != _norm(want):
            return f"filter scan differs from DuckDB: {len(scanned)} vs {len(want)} rows"
        want = self.duck.execute(
            f"SELECT {', '.join(_POINT_COLS)} FROM {glob} WHERE source_id = ?", [key]
        ).fetchall()
        if _norm(point) != _norm(want):
            return f"point read differs from DuckDB: {len(point)} vs {len(want)} rows"
        return None

    def _check_submit(self, batch, rows) -> str | None:
        if sorted(r.sub_id for r in rows) != list(range(len(batch))):
            return "submission results are not one row per submission"
        for r in rows:
            if r.success == (r.error is not None):
                return f"submission {r.sub_id}: success and error disagree"
            if len(r.status_code or "") != 12:
                return f"submission {r.sub_id}: status_code {r.status_code!r}"
            if not r.success:
                continue
            prev = self.latest.get(r.effective_source_id)
            if prev is None:
                if r.assigned_version != "1.0":
                    return f"new source got version {r.assigned_version}"
            elif _vkey(r.assigned_version) <= _vkey(prev):
                return f"{r.effective_source_id}: version {r.assigned_version} after {prev}"
            self.latest[r.effective_source_id] = r.assigned_version
            self.owner.setdefault(r.effective_source_id, r.identities[0])
            self.indexed.append(_search_id(r.effective_source_id, r.assigned_version))
        searchable = self._search_ids()
        missing = set(self.indexed) - set(searchable)
        if missing:
            return f"{len(missing)} accepted versions missing from the search ingest"
        return None

    def _search_ids(self) -> list[str]:
        if not os.path.isdir(self.search_docs):
            return []
        return [r[0] for r in self.duck.execute(
            f"SELECT doc_id FROM read_parquet('{self.search_docs}/**/*.parquet')"
        ).fetchall()]

    def final_check(self) -> list[str]:
        """The search ingest holds every accepted version once, and the
        index's document-count ledger agrees."""
        ids = self._search_ids()
        errs = []
        if len(ids) != len(set(ids)):
            errs.append("a version was ingested for search twice")
        if set(ids) != set(self.indexed):
            errs.append(f"search ingest holds {len(set(ids))} versions, {len(set(self.indexed))} accepted")
        if ids:
            (n_docs,) = self.duck.execute(
                f"SELECT sum(n_docs) FROM read_parquet('{self.search_index}/meta/**/*.parquet')"
            ).fetchone()
            if n_docs != len(ids):
                errs.append(f"search index ledger counts {n_docs} docs, ingest holds {len(ids)}")
        return errs

    def store_bytes_per_doc(self) -> float:
        return self.seed_store_bytes / self.seed_rows


def _search_id(source_id: str, version: str) -> str:
    return f"{source_id}@{version}"


_POINT_COLS = ("source_id", "version", "version_seq", "owner", "flow_state", "status_code")
_SUBMISSION_DDL = (
    "sub_id int, source_id string, title string, org_ref string, update boolean, "
    "identities array<string>, user_groups array<string>, required_group string, "
    "metadata_value double, update_metadata_only boolean, transfer_fail boolean, "
    "decision string"
)


def _duck_where(filters) -> tuple[str, list]:
    """The filter language compiled to DuckDB SQL (the reference side)."""
    preds, params = [], []
    for field, op, value in filters:
        if op == "^":
            preds.append(f"starts_with({field}, ?)")
            params.append(value)
        elif op == "*":
            fn = "list_contains" if field == "tags" else "contains"
            preds.append(f"{fn}({field}, ?)")
            params.append(value)
        elif op in ("==", "!=") and value is None:
            preds.append(f"{field} IS {'NOT ' if op == '!=' else ''}NULL")
        elif op in ("==", "!=", ">", ">=", "<", "<="):
            preds.append(f"{field} {'=' if op == '==' else op} ?")
            params.append(value)
        elif op == "[]":
            preds.append(f"{field} BETWEEN ? AND ?")
            params.extend(value)
        elif op == "in":
            preds.append(f"{field} IN ({', '.join('?' for _ in value)})")
            params.extend(value)
    return " AND ".join(preds), params


# ------------------------------------------------------------ corpus_batch


class CorpusBatch(Workload):
    """Full passes of ``training_release``, then ``dedup_clusters`` and a
    hybrid (BM25 plus embedding) retrieval, over a seeded replica
    corpus."""

    name = "corpus_batch"
    primary = "release"
    secondary = "dedup_search"
    # a release settles on its third run (~18 s cold, ~8.5 s, then
    # ~6.5 s); dedup plus search is within ~10% of its steady time on
    # its second run (~5 s cold, ~3.8 s, then ~3.5 s)
    warmup = {"release": 2, "dedup_search": 1}
    BASE_DOCS = 300
    REPLICAS = 2

    def prepare_inputs(self) -> None:
        self.sf = os.path.join(self.run_dir, "corpus")
        inputs.write_corpus(self.sf, self.seed, self.BASE_DOCS, self.REPLICAS)
        self.n_pass = 0
        self.release_dir = None
        self.released_docs = None
        self.hybrid_want = None

    def setup(self) -> None:
        from connect_server_spark.operators import tokenizer
        from connect_server_spark.queries import text_queries
        from connect_server_spark import tables

        # The library caches the trained BPE model as JSON under a fixed
        # /tmp path; the benchmark keeps the same model in memory instead
        # so it writes nowhere outside its run directory.
        models: dict = {}

        def bpe_model_for(spark, sf_dir):
            if sf_dir not in models:
                docs = tables.load_table(spark, "documents", sf_dir)
                models[sf_dir] = tokenizer.train_bpe(
                    docs, "text", num_merges=500, max_pieces=20000
                )
            return models[sf_dir]

        text_queries._bpe_model_for = bpe_model_for
        bpe_model_for(self.spark, self.sf)

    def ops(self):
        """One full pass is a release, then a dedup clustering and a
        hybrid retrieval query."""
        while True:
            yield "release", self._release
            yield "dedup_search", self._dedup_search

    def named_metrics(self, loop) -> list[tuple]:
        rel, ded = loop.times("release"), loop.times("dedup_search")
        n = min(len(rel), len(ded))
        return [("pass_s", statistics.median(rel) + statistics.median(ded), "s", n)]

    def _release(self):
        from connect_server_spark.queries import release_queries

        if self.release_dir:
            shutil.rmtree(self.release_dir, ignore_errors=True)
        self.n_pass += 1
        self.release_dir = os.path.join(self.run_dir, f"release_{self.n_pass}")
        return release_queries.training_release(
            self.spark, self.sf, out_path=self.release_dir
        ).collect()

    def _dedup_search(self):
        from connect_server_spark.queries import dedup_queries, retrieval_queries

        clusters = dedup_queries.dedup_clusters(self.spark, self.sf).toPandas()
        hits = retrieval_queries.corpus_hybrid_retrieval(self.spark, self.sf).collect()
        return clusters, hits

    def check(self, kind: str, result) -> str | None:
        if kind == "release":
            return self._check_release(result)
        clusters, hits = result
        if clusters["doc_id"].duplicated().any():
            return "dedup_clusters assigned a document twice"
        canon = clusters[clusters["is_canonical"]]
        if canon["component"].nunique() != clusters["component"].nunique() or len(canon) != canon["component"].nunique():
            return "dedup_clusters: not exactly one canonical per component"
        if sorted(map(tuple, hits)) != self._hybrid_reference():
            return "corpus_hybrid_retrieval differs from its DuckDB oracle"
        return None

    def _hybrid_reference(self) -> list[tuple]:
        """The query's registered DuckDB oracle over the same files."""
        from connect_server_spark.queries import retrieval_queries

        if self.hybrid_want is None:
            con = duckdb.connect()
            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')"
                )
            self.hybrid_want = sorted(
                con.execute(retrieval_queries.CORPUS_HYBRID_RETRIEVAL_ORACLE_SQL).fetchall()
            )
        return self.hybrid_want

    def _check_release(self, summary) -> str | None:
        from connect_server_spark import sinks

        try:
            sinks.read_training_shards(self.spark, self.release_dir, verify=True)
        except (ValueError, FileNotFoundError) as e:
            return f"release manifest failed verification: {e}"
        con = duckdb.connect()
        n_rows, n_docs = con.execute(
            f"SELECT count(*), count(DISTINCT id) FROM read_parquet('{self.release_dir}/**/*.parquet')"
        ).fetchone()
        if n_rows != sum(r.n_rows for r in summary):
            return f"release rows {n_rows} != manifest {sum(r.n_rows for r in summary)}"
        self.released_docs = n_docs
        return None

    def final_check(self) -> list[str]:
        from connect_server_spark.queries import curation_queries

        survivors = curation_queries.curation_full(self.spark, self.sf).count()
        if self.released_docs != survivors:
            return [f"released docs {self.released_docs} != curation survivors {survivors}"]
        return []

    def store_bytes_per_doc(self) -> float:
        return dir_bytes(self.release_dir) / self.released_docs


# ------------------------------------------------------------ daily_ingest


class DailyIngest(Workload):
    """The composed daily ingest: base stores on a seeded third of the
    corpus, then seeded daily micro-batches through one sink."""

    name = "daily_ingest"
    primary = "batch"
    secondary = "batch"
    warmup = {"batch": 2}
    DOCS = 900
    BATCH_DOCS = 100

    def prepare_inputs(self) -> None:
        rng = np.random.default_rng([self.seed, 3])
        docs = inputs.documents_table(rng, self.DOCS)
        emb = inputs.unit_embeddings(rng, self.DOCS)
        t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
        ids = docs.column("doc_id").to_pylist()
        table = pa.table(
            {
                "doc_id": docs.column("doc_id"),
                "text": docs.column("text"),
                "embedding": pa.array([list(map(float, e)) for e in emb], pa.list_(pa.float64())),
                "ts": pa.array([t0 + timedelta(seconds=i % 86400) for i in ids], pa.timestamp("us", tz="UTC")),
                "value": pa.array([float(i % 100) for i in ids], pa.float64()),
            }
        )
        order = rng.permutation(self.DOCS)
        n_base = self.DOCS // 3
        self.day_dir = os.path.join(self.run_dir, "days")
        os.makedirs(self.day_dir)
        pq.write_table(table.take(order[:n_base]), os.path.join(self.day_dir, "base.parquet"))
        rest = order[n_base:]
        self.days = []
        for k in range(len(rest) // self.BATCH_DOCS):
            path = os.path.join(self.day_dir, f"day_{k}.parquet")
            pq.write_table(table.take(rest[k * self.BATCH_DOCS:(k + 1) * self.BATCH_DOCS]), path)
            self.days.append(path)
        self.root = os.path.join(self.run_dir, "ingest")
        self.docs = n_base
        self.offered: list[int] = []

    def setup(self) -> None:
        from connect_server_spark.streaming import daily_ingest

        self.paths = daily_ingest.ingest_store_paths(self.root)
        base = self.spark.read.parquet(os.path.join(self.day_dir, "base.parquet"))
        daily_ingest.build_base_stores(base, self.paths)
        self.sink = daily_ingest.composed_ingest_sink(
            self.spark, self.root, "doc_id", "text", "embedding", "ts", "value",
            maintain_every=1,
        )

    def rebind(self, spark) -> None:
        from connect_server_spark.streaming import daily_ingest

        self.spark = spark
        self.sink = daily_ingest.composed_ingest_sink(
            spark, self.root, "doc_id", "text", "embedding", "ts", "value",
            maintain_every=1,
        )

    def named_metrics(self, loop) -> list[tuple]:
        batches = loop.times("batch")
        return [
            ("batch_p50_s", statistics.median(batches), "s", len(batches)),
            ("docs_per_s", self.BATCH_DOCS * len(batches) / sum(batches), "1/s", len(batches)),
        ]

    def ops(self):
        for k, path in enumerate(self.days):
            yield "batch", (lambda k=k, path=path: self._batch(k, path))

    def _batch(self, k: int, path: str):
        self.sink(self.spark.read.parquet(path), k)
        ids = pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist()
        self.offered.extend(ids)
        self.docs += len(ids)
        return ids

    def final_check(self) -> list[str]:
        from connect_server_spark import fsutil

        con = duckdb.connect()

        def ids(store: str, col: str) -> list:
            live = fsutil.resolve_store(self.spark, self.paths[store])
            if not os.path.isdir(live):
                return []
            return [r[0] for r in con.execute(
                f"SELECT {col} FROM read_parquet('{live}/**/*.parquet')"
            ).fetchall()]

        survivors = ids("survivors", "doc_id")
        paired = set()
        for log in ("pairs_text", "pairs_vec", "pairs_winnow"):
            paired.update(ids(log, "new_id"))
        errs = []
        if len(survivors) != len(set(survivors)):
            errs.append("a survivor appears twice")
        missing = set(self.offered) - set(survivors) - paired
        if missing:
            errs.append(f"{len(missing)} offered docs are neither survivors nor paired")
        return errs

    def store_bytes_per_doc(self) -> float:
        return dir_bytes(self.root) / max(self.docs, 1)


WORKLOADS = {w.name: w for w in (MdfService, CorpusBatch, DailyIngest)}
