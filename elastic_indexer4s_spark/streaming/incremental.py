"""Structured-Streaming incremental index build + streaming observability.

The reference is a one-shot batch pipeline (nightly full rebuild,
`README.md:16-18`) whose only streaming trait is back-pressure + a
processing-time throughput meter (`FullStream.scala:15-23`).  This module is
the engine's forward-looking path: documents arriving continuously become
index SEGMENTS — one immutable generation per micro-batch — published under a
shared alias; queries fan out over segments and merge top-k, exactly how
Lucene serves while indexing.

Scale notes: foreachBatch reuses the whole batch build (tokenize -> postings
-> dictionary -> lineage), so each segment inherits the batch path's
partitioning/skew handling; the checkpoint directory gives exactly-once file
tracking across restarts (the streaming analog of SURVEY §2 B9 resume).
Segment-local BM25 stats (df, avg_dl) make scores per-segment — the standard
Lucene-segment approximation; a periodic compaction into one generation
restores corpus-exact scores.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IndexConfig
from ..operators.build import build_index
from ..operators.query import phrase_topk, topk
from ..plans.catalog import GenerationCatalog
from ..results import RunResult

SEGMENT_ALIAS = "live-segments"


def incremental_index(spark: SparkSession, stream_df: DataFrame,
                      index_root: str, cfg: IndexConfig,
                      checkpoint_dir: str,
                      alias: str = SEGMENT_ALIAS) -> list[str]:
    """Drain `stream_df` (a streaming DataFrame of corpus rows) into per-batch
    segment generations; returns the segment names built in THIS drain.

    Runs with trigger(availableNow): processes everything unprocessed and
    stops — rerunning after new files arrive builds only the delta (the
    checkpoint proves resumability).
    """
    cat = GenerationCatalog(index_root)
    built: list[str] = []

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if len(batch_df.take(1)) == 0:
            return
        name = f"{cfg.index_prefix}_seg{epoch_id:06d}"
        gen_dir = cat.path(name)
        res = build_index(spark, batch_df, cfg, gen_dir)
        if not isinstance(res, RunResult):
            raise RuntimeError(f"segment build failed: {res}")
        cat.register(name)
        cat.add_alias(alias, name)
        built.append(name)

    q = (stream_df.writeStream
         .foreachBatch(process_batch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return built


def _merge_segments(spark: SparkSession, parts: dict[str, DataFrame],
                    k: int) -> DataFrame:
    """Per-segment top-k frames (segment name → doc_id, score; doc ids are
    segment-local) → one lazily UNIONED global top-k (segment, doc_id,
    score), ordered (score desc, segment, doc_id)."""
    tagged = [df.withColumn("segment", F.lit(name))
              for name, df in parts.items()]
    if not tagged:
        return spark.createDataFrame(
            [], "doc_id long, score double, segment string")
    return (functools.reduce(DataFrame.unionByName, tagged)
            .orderBy(F.col("score").desc(), F.col("segment"), F.col("doc_id"))
            .limit(k))


def topk_multi(spark: SparkSession, index_root: str,
               query_terms: list[str], k: int = 10, *,
               alias: str = SEGMENT_ALIAS, wand: bool = True) -> DataFrame:
    """Scatter-gather top-k across every segment under `alias`: per-segment
    top-k (doc ids are segment-local) merged by score -> (segment, doc_id,
    score).  The per-segment plans are lazily UNIONED into one DataFrame, and
    the readers carry explicit schemas (operators/query._readers_for), so an
    N-segment query is exactly ONE Spark action — no per-segment jobs."""
    cat = GenerationCatalog(index_root)
    return _merge_segments(spark, {
        name: topk(spark, cat.path(name), query_terms, k, wand=wand)
        for name in cat.indices_by_age_for(alias)}, k)


def phrase_multi(spark: SparkSession, index_root: str,
                 phrase_terms: list[str], k: int = 10, *,
                 alias: str = SEGMENT_ALIAS, slop: int = 0) -> DataFrame:
    """Scatter-gather PHRASE top-k across every segment under ``alias`` —
    the streaming twin of :func:`topk_multi` for ``match_phrase``.

    Segments built with ``store_positions=True`` verify adjacency from
    their own positional postings (index-native, no source anywhere), so
    a continuously-ingesting corpus serves phrase queries the same way a
    compacted one does; per-segment BM25 stats are segment-local, like
    every multi-segment query here.  One Spark action for N segments."""
    cat = GenerationCatalog(index_root)
    return _merge_segments(spark, {
        name: phrase_topk(spark, cat.path(name), None, phrase_terms, k,
                          slop=slop)
        for name in cat.indices_by_age_for(alias)}, k)


def compact_segments(spark: SparkSession, index_root: str,
                     source_df: DataFrame, cfg: IndexConfig,
                     alias: str = SEGMENT_ALIAS,
                     delete_old: bool = True) -> str:
    """Merge the per-batch segments under ``alias`` into ONE generation
    built from the full source — the Lucene forceMerge analog.

    Per-segment BM25 stats (df, avg_dl) are segment-local approximations;
    the compacted generation restores corpus-exact scores.  Publication is
    atomic: the compacted generation is built first, then the alias's
    membership is REPLACED in one manifest rename (`catalog.set_alias`) —
    a concurrent `topk_multi` sees either the old segment set or the
    compacted generation, never both (an incremental add+N removes would
    expose old+new simultaneously, double-counting every document).  The
    replaced segments are deleted only after they are unaliased (their doc
    ids were segment-local, so nothing references them once unaliased).
    Returns the compacted generation name.
    """
    from ..results import RunResult

    cat = GenerationCatalog(index_root)
    old = cat.indices_by_age_for(alias)
    name = cfg.generation_name() + "_compacted"
    res = build_index(spark, source_df, cfg, cat.path(name))
    if not isinstance(res, RunResult):
        raise RuntimeError(f"compaction build failed: {res}")
    cat.register(name)
    cat.set_alias(alias, [name])
    if delete_old:
        for seg in old:
            cat.delete_index(seg)
    return name


SESSION_COUNTS_DDL = "user_id long, n_sessions long, n_events long"
_SESSION_STATE_DDL = "last_us long, n_sessions long, n_events long"


def streaming_session_counts(stream_df: DataFrame, ts_col: str = "ts",
                             user_col: str = "user_id",
                             gap_minutes: int = 10) -> DataFrame:
    """Custom STATEFUL streaming operator: running per-user session counts
    with ``applyInPandasWithState`` (the engine's example of semantics the
    built-in windowed aggregations can't express — a data-dependent
    session gap carried across micro-batches AND restarts via the state
    store).

    A new session starts when a user's gap since their previous event
    exceeds ``gap_minutes`` — the same rule as the batch
    ``events_sessions`` oracle query.  Emits one updated
    (user_id, n_sessions, n_events) row per user per micro-batch;
    per-batch work is vectorized pandas (sort + diff), no per-row Python.
    """
    from pyspark.sql.streaming.state import (
        GroupStateTimeout,
    )

    gap_us = int(gap_minutes) * 60 * 1_000_000

    def update(key, pdfs, state):
        import pandas as pd

        last_us, n_sessions, n_events = (
            state.get if state.exists else (None, 0, 0))
        ts_parts = []
        for pdf in pdfs:
            ts_parts.append(pd.to_datetime(pdf[ts_col]).astype("int64")
                            // 1000)
        ts_us = pd.concat(ts_parts).sort_values().to_numpy()
        if ts_us.size:
            import numpy as np

            prev = np.empty_like(ts_us)
            prev[1:] = ts_us[:-1]
            if last_us is None:
                prev[0] = ts_us[0] - gap_us - 1  # first ever event: new
            else:
                prev[0] = last_us
            n_sessions += int(((ts_us - prev) > gap_us).sum())
            n_events += int(ts_us.size)
            last_us = int(ts_us[-1])
        state.update((last_us, n_sessions, n_events))
        yield pd.DataFrame({"user_id": [key[0]],
                            "n_sessions": [n_sessions],
                            "n_events": [n_events]})

    return (stream_df.groupBy(user_col).applyInPandasWithState(
        update, SESSION_COUNTS_DDL, _SESSION_STATE_DDL,
        "update", GroupStateTimeout.NoTimeout))


def streaming_exact_dedup(stream_df: DataFrame, text_col: str = "text",
                          ts_col: str | None = None,
                          watermark: str | None = None) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST document carrying each
    content hash, across micro-batches and restarts.

    The pre-indexing dedup step of a streaming corpus pipeline, as pure
    built-in dataflow: a 16-byte md5 content key + Structured Streaming's
    stateful ``dropDuplicates`` (RocksDB/HDFS state store — survives
    restarts via the checkpoint, which is what makes cross-batch dedup
    correct, not best-effort).  Only the hash enters the state store,
    never the content — state is O(distinct docs * 16 B).

    For unbounded streams pass ``ts_col`` + ``watermark``:
    ``dropDuplicatesWithinWatermark`` then expires state older than the
    watermark, bounding the store on infinite streams at the cost of
    re-admitting duplicates that arrive further apart than the watermark —
    the standard state-retention dial.
    """
    out = stream_df.withColumn("_content_hash", F.md5(F.col(text_col)))
    if ts_col is not None and watermark is not None:
        return (out.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(["_content_hash"])
                .drop("_content_hash"))
    return out.dropDuplicates(["_content_hash"]).drop("_content_hash")


def windowed_doc_counts(stream_df: DataFrame, ts_col: str,
                        window: str = "1 minute",
                        watermark: str = "2 minutes") -> DataFrame:
    """Event-time tumbling-window ingest counts with late-data handling — the
    event-time upgrade of the reference's processing-time throughput meter
    (`FullStream.scala:15-23` groupedWithin count)."""
    return (stream_df
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("win"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"), "n_docs"))
