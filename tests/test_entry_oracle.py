"""Local mirror of the driver's t2 gate: every ``queries()`` entry with an
``oracle_sql()`` twin must match DuckDB on row-count + columns + values
(order-insensitive) at the test scale factor."""

import os

import pytest

import __spark_entry__ as entry_mod
from tests.oracle import assert_matches_oracle

_QUERIES = entry_mod.queries()
_ORACLE = entry_mod.oracle_sql()


def test_every_query_has_callable():
    assert _QUERIES, "no queries registered"
    for name, fn in _QUERIES.items():
        assert callable(fn), name


def test_oracle_keys_subset_of_queries():
    missing = set(_ORACLE) - set(_QUERIES)
    assert not missing, f"oracle_sql for unregistered queries: {missing}"


@pytest.mark.parametrize("name", sorted(_ORACLE))
def test_query_matches_oracle(spark, sf_dir, name):
    df = _QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, _ORACLE[name], sf_dir)


def _demoted_mirrors():
    """The gates rotated OUT of the driver's 50-slot oracle window
    in r9 (to gate the newer LLM-pipeline families externally): their
    frozen oracle SQL keeps running here, so demotion never weakens the
    actual correctness coverage."""
    from connect_server_spark.queries.extractor_queries import (
        EXTRACT_FILENAME_ORACLE_SQL,
    )
    from connect_server_spark.queries.flow_queries import (
        STATUS_POLL_ORACLE_SQL,
    )
    from connect_server_spark.queries.function_queries import (
        METADATA_ENRICH_ORACLE_SQL,
        SOURCE_ID_MAKE_ORACLE_SQL,
        SOURCE_ID_SPLIT_ORACLE_SQL,
        URI_NORMALIZE_ORACLE_SQL,
        VERSION_INCREMENT_ORACLE_SQL,
    )
    from connect_server_spark.queries.org_queries import (
        ENDPOINT_HTTP_HOST_ORACLE_SQL,
        ORG_PARENT_RULES_ORACLE_SQL,
    )
    from connect_server_spark.queries.scan_queries import (
        SCAN_NULL_SEMANTICS_ORACLE_SQL,
        SCAN_OPS_MATRIX_ORACLE_SQL,
        SCAN_STATUS_READ_PATH_ORACLE_SQL,
    )
    from connect_server_spark.queries.validator_queries import (
        VALIDATOR_DATASET_SIZE_ORACLE_SQL,
        VALIDATOR_ELEMENTS_ORACLE_SQL,
    )
    from connect_server_spark.queries.version_queries import (
        LATEST_STATUS_JOIN_ORACLE_SQL,
        VERSION_EXISTENCE_PROBE_ORACLE_SQL,
    )
    from connect_server_spark.queries.transfer_queries import (
        CUSTOM_BLOCK_NORMALIZE_ORACLE_SQL,
        FLOW_LOG_LIMIT_ORACLE_SQL,
        SUBMISSION_PARSE_ORACLE_SQL,
        SUBMISSION_ROLLUP_ORACLE_SQL,
    )

    return {
        "scan_null_semantics": SCAN_NULL_SEMANTICS_ORACLE_SQL,
        "status_poll": STATUS_POLL_ORACLE_SQL,
        "custom_block_normalize": CUSTOM_BLOCK_NORMALIZE_ORACLE_SQL,
        "flow_log_limit": FLOW_LOG_LIMIT_ORACLE_SQL,
        # r9 second rotation: displaced by events_zorder_scan
        "version_increment": VERSION_INCREMENT_ORACLE_SQL,
        # r10 third rotation: displaced by events_asof_join,
        # events_interval_join, events_overlap_join, corpus_doc_keywords
        "submission_parse": SUBMISSION_PARSE_ORACLE_SQL,
        "submission_rollup": SUBMISSION_ROLLUP_ORACLE_SQL,
        "endpoint_http_host": ENDPOINT_HTTP_HOST_ORACLE_SQL,
        "extract_filename": EXTRACT_FILENAME_ORACLE_SQL,
        # r10 third rotation, second tranche: displaced by corpus_bm25
        # and events_heavy_hitters
        "source_id_split": SOURCE_ID_SPLIT_ORACLE_SQL,
        "uri_normalize": URI_NORMALIZE_ORACLE_SQL,
        # r11 fifth rotation: displaced by dsir_resample,
        # corpus_line_dedup, events_rollup_cascade, corpus_release_diff,
        # training_epoch_shuffle (the five oldest r1-frozen gates out)
        "source_id_make": SOURCE_ID_MAKE_ORACLE_SQL,
        "metadata_enrich": METADATA_ENRICH_ORACLE_SQL,
        "version_existence_probe": VERSION_EXISTENCE_PROBE_ORACLE_SQL,
        "org_parent_rules": ORG_PARENT_RULES_ORACLE_SQL,
        "validator_dataset_size": VALIDATOR_DATASET_SIZE_ORACLE_SQL,
        # r11 fifth rotation, second tranche: displaced by
        # corpus_hybrid_retrieval
        "validator_elements": VALIDATOR_ELEMENTS_ORACLE_SQL,
        # r12 sixth rotation: displaced by vocab_top_tokens,
        # corpus_datacard, events_rollup_anomalies (the three oldest
        # r1-frozen gates out, by first-commit order)
        "scan_status_read_path": SCAN_STATUS_READ_PATH_ORACLE_SQL,
        "scan_ops_matrix": SCAN_OPS_MATRIX_ORACLE_SQL,
        "latest_status_join": LATEST_STATUS_JOIN_ORACLE_SQL,
    }


@pytest.mark.parametrize("name", sorted(_demoted_mirrors()))
def test_demoted_query_matches_preserved_oracle(spark, sf_dir, name):
    assert name not in _ORACLE, f"{name} is gated again — drop this mirror"
    df = _QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, _demoted_mirrors()[name], sf_dir)


def test_readme_deferred_map_matches_registry():
    """Every rows-only (deferred) query must have a row in README's
    'Deferred queries → pytest evidence' table, and the table must not
    claim rows for queries that are actually oracle-gated; README's
    query / gated / rows-only counts must equal the registry's — the
    audit trail stays mechanically true."""
    import re

    import connect_server_spark.registry as registry

    registry._load()
    deferred = set(registry._DEFERRED)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "README.md")) as f:
        txt = f.read()
    sec = txt.split("### Deferred (rows-only) queries")[1].split("\n## ")[0]
    mapped = set(re.findall(r"^\| `([a-z0-9_]+)` \|", sec, re.M))
    assert deferred - mapped == set(), (
        f"deferred queries missing from README map: {sorted(deferred - mapped)}"
    )
    assert mapped - deferred == set(), (
        f"README map rows that are not deferred: {sorted(mapped - deferred)}"
    )
    # the prose counts must match the registry too
    n_all, n_gated = len(registry.all_queries()), len(registry._ORACLE)
    assert re.search(rf"`queries\(\)` \({n_all}\)", txt), n_all
    assert re.search(rf"`oracle_sql\(\)` \({n_gated} DuckDB-gated", txt), n_gated
    assert re.search(rf"the {len(deferred)} rows-only queries", txt), len(deferred)
    assert re.search(rf"The {len(deferred)} deferred registry entries", sec), len(
        deferred
    )


def test_rotation_ledger_is_mechanically_true():
    """Every demoted gate maps to a preserved-oracle mirror, stays
    rows-only, is not double-gated, and is cited in README's deferred
    map — the same audit ``tools/check_rotation_ledger.py`` runs
    standalone."""
    import tools.check_rotation_ledger as ledger

    assert ledger.audit() == []


def test_gated_oracles_have_no_hugeint_columns():
    """No gated oracle may produce a DuckDB HUGEINT output column: Spark
    has no int128, so the driver's dtype-sensitive value hash can never
    match one (the r12 ``corpus_datacard`` first-contact failure).
    Metadata-only — ``DESCRIBE`` resolves types without executing."""
    import tools.check_rotation_ledger as ledger

    assert ledger.audit_oracle_dtypes() == []


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    # driver's t1 gate requires rows > 0 (61 rows at sf0.001)
    assert df.count() > 0
    assert len(df.schema.fields) > 0
