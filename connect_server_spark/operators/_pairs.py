"""Candidate-pair core shared by :mod:`~connect_server_spark.operators.dedup`
and :mod:`~connect_server_spark.operators.similarity`.

Every bucketed near-dup family and every vector searcher is the same
pipeline with a different key and a different score: derive bucket keys,
equi-join rows that share a key (never all-pairs), verify the candidates
on their payloads, and — for searchers — rank per probe. The families
own only their keys and their score; each policy below exists once:

* :func:`self_pairs` — the bucket self-join (``id_a < id_b``, distinct);
* :func:`probe_pairs` — probe rows against a persisted keyed store,
  store side first, with the join strategy chosen here;
* :func:`verify` — payloads joined back onto the pairs, scored,
  thresholded (:func:`jaccard` / :func:`overlap` are the set scores);
* :func:`cosine_pairs` — broadcast probe join scored by exact cosine;
* :func:`top_k` — the per-probe rank (score desc, id asc);
* :func:`merge_spans` — gaps-and-islands merge of flagged positions.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def self_pairs(
    buckets: DataFrame, id_col: str, keys: list[str],
    carry: tuple[str, ...] = (), extra: Column | None = None,
) -> DataFrame:
    """Distinct ``(id_a, id_b)`` pairs, ``id_a < id_b``, of rows that agree
    on every column of ``keys`` — an equi-join on the bucket key, never a
    cross join. The sides are aliased ``l`` and ``r``, so ``extra`` (an
    additional join condition on narrow columns, e.g. a size filter) can
    name ``l.<col>`` / ``r.<col>``. Each ``carry`` column rides along as
    ``<col>_a`` / ``<col>_b``.

    Callers that derive ``buckets`` from an expensive pass put a stage
    boundary on it first: both join sides read it, and Spark does not
    share common subplans."""
    l, r = buckets.alias("l"), buckets.alias("r")
    same = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    cond = functools.reduce(operator.and_, same) & (
        F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    )
    if extra is not None:
        cond = cond & extra
    out = [F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")]
    for c in carry:
        out += [F.col(f"l.{c}").alias(f"{c}_a"), F.col(f"r.{c}").alias(f"{c}_b")]
    return l.join(r, cond).select(*out).distinct()


def probe_pairs(
    store: DataFrame, probe: DataFrame, on, store_path: str, how: str = "inner"
) -> DataFrame:
    """Join ``probe`` rows onto the persisted bucketed ``store`` at
    ``store_path``, store side first, with a size-adaptive strategy (one
    memoized driver-side size probe). Under the broadcast threshold no
    hint is needed — Catalyst broadcasts the store, zero Exchange. Past
    it the probe side is hinted ``shuffle_hash``: sort-merge would put an
    O(store) Sort above the store scan (appended stores have several
    files per bucket, so the scan cannot claim sortedness), while a
    shuffled-hash join streams the store through a probe-sized hash
    table and the bucketed layout keeps the store scan Exchange-free."""
    from connect_server_spark.storage import broadcastable

    if not broadcastable(store.sparkSession, store_path):
        probe = probe.hint("shuffle_hash")
    return store.join(probe, on, how)


def overlap(a: str, b: str) -> Column:
    """Size of the intersection of two array columns."""
    return F.size(F.array_intersect(a, b))


def jaccard(a: str, b: str) -> Column:
    """Exact Jaccard similarity of two distinct-element array columns."""
    inter = overlap(a, b)
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


def verify(
    pairs: DataFrame, a: DataFrame, b: DataFrame, score: Column,
    threshold: float, name: str = "jaccard",
    keys: tuple[str, str] = ("id_a", "id_b"),
    extra: tuple[Column, ...] = (), store_path: str | None = None,
) -> DataFrame:
    """Score candidate ``pairs`` on their payloads; keep ``score >= threshold``.

    ``a`` and ``b`` are (key, payload) frames keyed on ``keys[0]`` and
    ``keys[1]``; each joins back onto the narrow pairs once, so a payload
    crosses the wire once per surviving candidate and the pairs were
    deduplicated before any payload moved. With ``store_path``, ``b`` is
    a persisted store and joins through :func:`probe_pairs` (store side
    first). Returns ``(*keys, *extra, name)``."""
    ka, kb = keys
    if store_path is None:
        joined = pairs.join(a, ka).join(b, kb)
    else:
        joined = probe_pairs(b, pairs.join(a, ka), kb, store_path)
    scored = joined.select(ka, kb, *extra, score.alias(name))
    return scored.filter(F.col(name) >= threshold)


def cosine_pairs(
    store: DataFrame, probes: DataFrame, on, probe_id: str, probe_vec: str,
    corpus_id: str, corpus_vec: str, name: str = "cosine",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(probe_id, *carry, corpus_id, name)``: exact cosine of every
    store row against every probe sharing ``on`` — candidates only,
    scored in the join stage so only narrow triples move after it. The
    probe side is broadcast EXPLICITLY: the probe-size contract that keeps
    the O(corpus) store from ever shuffling. Callers whose store may hold
    duplicate rows (at-least-once appends, multi-table collisions)
    ``distinct()`` the result."""
    from connect_server_spark.operators.similarity import cosine_similarity

    cosine = cosine_similarity(F.col(probe_vec), F.col(corpus_vec))
    return store.join(F.broadcast(probes), on).select(
        F.col(probe_id), *carry, F.col(corpus_id), cosine.alias(name)
    )


def top_k(
    scored: DataFrame, k: int, probe_id: str, item_id: str,
    score: str = "cosine", rank: str = "rank",
) -> DataFrame:
    """The ``k`` best rows per probe: ``rank`` 1..k by ``score``
    descending, ties broken by ``item_id`` ascending (scores are rounded
    upstream, so the set is stable across engines)."""
    w = Window.partitionBy(probe_id).orderBy(F.col(score).desc(), F.col(item_id).asc())
    return scored.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def merge_spans(flagged: DataFrame, k: int) -> DataFrame:
    """Merge flagged (id, pos) k-token windows into maximal spans with the
    gaps-and-islands idiom: a span starts where the gap to the previous
    flagged position exceeds ``k``; a lag window + running sum +
    group-by, all partitioned by id so they share one Exchange.

    Returns (id, span_start, span_end, n_windows): token range
    [span_start, span_end) is covered by ``n_windows`` flagged windows."""
    w = Window.partitionBy("id").orderBy("pos")
    gap = F.col("pos") - F.lag("pos", 1).over(w) > k
    grouped = flagged.withColumn(
        "_new_span", F.when(gap, F.lit(1)).otherwise(F.lit(0))
    ).withColumn("_grp", F.sum("_new_span").over(w))
    return grouped.groupBy("id", "_grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + k).alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select("id", "span_start", "span_end", "n_windows")
