"""Batch twins of the drained streaming registry entries (plan pins).

The analyzed plan of a drained streaming query embeds per-run state —
memory-sink table names, stream source bindings — that no textual
normalization makes session-stable, so the streaming entries can never
be pinned directly by tests/test_plan_snapshot.py; their twins are.

Each builder here applies the SAME transformation the streaming query
runs — the shared plan functions in ``streaming/weekly.py`` /
``streaming/joins.py``, or the inline dedup projection from
``plans/driver_queries_ext.py`` — to a BATCH read of the same source
table, ending with the same post-drain projection. Any edit to the
shared transformation or the output shape moves the twin's analyzed
plan and fails the committed pin. (``withWatermark`` and
``dropDuplicatesWithinWatermark`` analyze fine on batch frames in
Spark 4; the watermark is a no-op at execution, which is exactly what
we want — the twin pins the *plan*, not the drain.)

What a twin cannot see is the drain machinery itself (availableNow
trigger, checkpoint handling, state-store sizing). That part is
exercised on every pytest run by tests/test_oracle_equivalence.py,
which drains all streaming entries at sf0.01 against their exact DuckDB
oracles.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import table


def twin_stream_weekly_counts(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.weekly import weekly_counts_stream

    return weekly_counts_stream(table(spark, sf, "events")).orderBy("week_start")


def twin_stream_dedup_keys(spark: SparkSession, sf: str) -> DataFrame:
    # mirrors q_stream_dedup_keys' pre-drain transform + post-drain
    # projection (plans/driver_queries_ext.py)
    e = table(spark, sf, "events")
    deduped = e.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return deduped.select(
        F.col("user_id").cast("long").alias("user_id"), "event_type"
    ).orderBy("user_id", "event_type")


def twin_stream_dedup_ttl(spark: SparkSession, sf: str) -> DataFrame:
    # mirrors q_stream_dedup_ttl: watermark + bounded-state dedup
    e = table(spark, sf, "events")
    deduped = (
        e.select("user_id", "event_type", "ts")
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    return deduped.select(
        F.col("user_id").cast("long").alias("user_id"), "event_type"
    ).orderBy("user_id", "event_type")


def twin_stream_click_signup(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.joins import click_signup_join_stream

    e = table(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click")
    signups = e.filter(F.col("event_type") == "signup")
    return click_signup_join_stream(clicks, signups, horizon_hours=6).orderBy(
        "click_id", "signup_id"
    )


def twin_stream_lsh_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Mirrors q_stream_lsh_delta's pre-drain transform: the row-local
    shingle/signature/bucket plan, the index probe, the candidate
    dropDuplicates, and the exact-Jaccard verify (streaming/
    lsh_delta.py:lsh_delta_stream) applied to a BATCH read. The index
    and corpus shingle arrays are built inline from the batch
    operators the persisted index reproduces bit-for-bit — NON-
    memoized (_shingle_rows, not shingle_rows_materialized): a
    localCheckpoint would embed session-variant RDD ids in the
    analyzed plan and defeat the pin."""
    from ..operators.dedup import (
        _shingle_rows,
        banded_buckets,
        minhash_signatures,
    )
    from ..streaming.lsh_delta import lsh_delta_stream

    d = table(spark, sf, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    ex = _shingle_rows(corpus, 2)
    index = banded_buckets(minhash_signatures(ex, 8), 8, 4).select(
        "bucket", "doc_id"
    )
    corpus_sh = ex.groupBy("doc_id").agg(F.collect_list("s").alias("sh"))
    stream = d.filter(F.col("doc_id") % 10 == 0)
    return lsh_delta_stream(stream, index, corpus_sh, threshold=0.3).orderBy(
        "batch_doc", "corpus_doc"
    )


TWIN_BUILDERS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_weekly_counts": twin_stream_weekly_counts,
    "stream_dedup_keys": twin_stream_dedup_keys,
    "stream_dedup_ttl": twin_stream_dedup_ttl,
    "stream_click_signup": twin_stream_click_signup,
    "stream_lsh_delta": twin_stream_lsh_delta,
}
