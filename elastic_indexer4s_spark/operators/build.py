"""Index build: tokenize → postings (blocked varint) → doclen → stats →
lineage, written as one immutable "generation" directory.

This is the engine-native replacement for the reference's write pipeline
(`ElasticWriter.scala:23-75` create-index + bulk sink, `FullStream.scala:25-38`
run): instead of streaming documents into ES and letting Lucene build the
inverted index, the index IS the job output.

Scale design (targets 10^12 files / 100 TB; tested at local scale):

* **Document-sharded layout** — ``shard`` = the doc-id assignment partition
  (contiguous doc_id range per shard; see operators/docids.py).  Each shard
  holds postings for its slice of documents, exactly like ES shards
  (`MappingSetting.scala:15`).  Any single term's per-task posting size is
  bounded by docs/shard, so stopword-like hot terms cannot blow up a task —
  skew is handled structurally, with the salted grouped path
  (`build_postings_salted`) as the explicit per-term-bounded alternative
  required by the north rule.
* **ONE shuffle** (per consumer pass): the doc-id routing exchange
  (operators/docids.py) places exactly one shard per partition AND makes
  that fact visible to Catalyst via ``HashPartitioning(_route)``.  The tf
  ``groupBy`` keeps ``_route`` in its keys so it runs exchange-free in the
  same stage; posting encode needs only a partition-local sort, then a
  STREAMING ``mapInPandas`` encoder (one Python call per Arrow batch, NOT
  per term — per-group ``applyInPandas`` would pay per-term overhead on
  millions of tiny vocabulary groups).  Postings plan = scan+tokenize →
  exchange → agg+sort+encode+write.
* Postings/doclen parquet are ``partitionBy(shard)`` so checkpoint-resume
  (SURVEY §2 B9) can rewrite individual shards with dynamic partition
  overwrite.
"""

from __future__ import annotations

import os
import time
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fs as FS
from ..config import IndexConfig
from ..functions.codec import POSTINGS_DDL, encode_postings, enc_to_row
from ..functions.tokenizer import tokens_expr, tokenize_udf
from ..operators.docids import with_doc_ids
from ..results import IndexError, RunResult, StageSucceeded, run_stages

#: default document-identity columns (BASELINE input_hint); overridable per
#: build via ``IndexConfig.doc_key`` (reference RequestBuilder,
#: `ElasticIndexer4s.scala:39-43`)
DOC_KEY = ["repo", "path", "commit"]


# ---------------------------------------------------------------------------
# tokenization + doc table
# ---------------------------------------------------------------------------

def tokenized_docs(df: DataFrame, cfg: IndexConfig, use_pandas_udf: bool = False) -> DataFrame:
    """source rows → + doc_id, shard, sha256, tokens, dl.

    ``use_pandas_udf`` switches the analyzer between the whole-stage-codegen
    Catalyst expression chain (default, fastest) and the Arrow ``pandas_udf``
    (identical output; kept first-class per the north-star).

    The CPU-heavy per-row work (sha256 + analyzer) runs BEFORE the doc-id
    exchange, in the scan stage: scan parallelism is bounded by input splits
    (≈ cores·n), while the post-exchange stage has at most ``num_shards``
    tasks — measured on this box, tokenizing post-exchange starved 32 cores
    down to ~21 busy tasks and tripled wall time.  Pre-shuffle compute also
    lets Catalyst prune ``content``/``tokens`` out of the shuffle for
    consumers that don't need them (doclen never shuffles token arrays).
    ``on_error='skip'`` drops bad rows here, before ids, so skipped docs
    don't occupy doc-id slots.
    """
    if cfg.on_error == "skip":
        df = df.filter(F.col("content").isNotNull())
    tok = tokenize_udf(cfg.tokenizer)("content") if use_pandas_udf \
        else tokens_expr(F.col("content"), cfg.tokenizer)
    enriched = (
        df.withColumn("sha256", F.sha2(F.col("content"), 256))
        .withColumn("tokens", tok)
        .withColumn("dl", F.size("tokens").cast("long"))
        .drop("content")
    )
    return with_doc_ids(enriched, list(cfg.doc_key), cfg.num_shards)


def term_frequencies(docs_tok: DataFrame) -> DataFrame:
    """(shard, term, doc_id, dl, tf) term-frequency aggregation.

    ``dl`` rides in the grouping key (functionally dependent on doc_id) so
    posting encoding needs no join back to the doc-length table.

    When the input carries the ``_route`` partition-identity column (see
    operators/docids.py) it is kept in the grouping key: the input's
    ``HashPartitioning(_route)`` then satisfies the aggregation's required
    distribution and the whole agg runs EXCHANGE-FREE in the scan stage —
    the only shuffle in the postings build is the doc-id one.
    """
    extra = ["_route"] if "_route" in docs_tok.columns else []
    return (
        docs_tok.select(*extra, "shard", "doc_id", "dl",
                        F.explode("tokens").alias("term"))
        .groupBy(*extra, "shard", "term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


# ---------------------------------------------------------------------------
# posting construction — streaming (scale path)
# ---------------------------------------------------------------------------

def _encode_group(shard: int, term: str, docs: list[np.ndarray],
                  tfs: list[np.ndarray], dls: list[np.ndarray],
                  block_size: int) -> dict:
    d = np.concatenate(docs) if len(docs) > 1 else docs[0]
    t = np.concatenate(tfs) if len(tfs) > 1 else tfs[0]
    l = np.concatenate(dls) if len(dls) > 1 else dls[0]
    return enc_to_row(term, encode_postings(d, t, l, block_size), shard=int(shard))


def build_postings_stream(tf_df: DataFrame, cfg: IndexConfig,
                          num_partitions: int | None = None, *,
                          assume_sharded: bool = False) -> DataFrame:
    """tf rows → encoded postings via a streaming per-partition encoder.

    Rows are co-located by (shard, term) and sorted by (shard, term, doc_id);
    the encoder walks Arrow batches, carrying the open (shard, term) group
    across batch boundaries, so memory is O(largest single posting list) =
    O(docs per shard) — bounded by construction.

    ``assume_sharded=True`` (the build_index path): the input is already
    partitioned one-shard-per-task by the doc-id routing exchange
    (operators/docids.py), so only a partition-local sort is needed — no
    shuffle at all.  ``False`` (arbitrary inputs): hash-repartition by shard
    first.  Either way every task holds whole shards, so the
    partitionBy(shard) writer emits ~1 file per shard instead of one file
    per (task, shard) pair — tiny-file explosion at query time.  Parallelism
    = num_shards, which at production scale is sized >> cores.
    """
    block = cfg.block_size
    if assume_sharded:
        arranged = tf_df.sortWithinPartitions("shard", "term", "doc_id")
    else:
        P = num_partitions or cfg.num_shards
        arranged = (
            tf_df.repartition(P, "shard")
            .sortWithinPartitions("shard", "term", "doc_id")
        )

    def encode_stream(batches):
        cur: tuple | None = None
        docs: list[np.ndarray] = []
        tfs: list[np.ndarray] = []
        dls: list[np.ndarray] = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            shards = pdf["shard"].to_numpy()
            terms = pdf["term"].to_numpy()
            doc = pdf["doc_id"].to_numpy()
            tf = pdf["tf"].to_numpy()
            dl = pdf["dl"].to_numpy()
            change = np.nonzero(
                (terms[1:] != terms[:-1]) | (shards[1:] != shards[:-1]))[0] + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(pdf)]))
            out = []
            for s, e in zip(starts, ends):
                key = (int(shards[s]), terms[s])
                if cur is not None and key != cur:
                    out.append(_encode_group(cur[0], cur[1], docs, tfs, dls, block))
                    docs, tfs, dls = [], [], []
                cur = key
                docs.append(doc[s:e])
                tfs.append(tf[s:e])
                dls.append(dl[s:e])
            if out:
                yield pd.DataFrame(out)
        if cur is not None:
            yield pd.DataFrame(
                [_encode_group(cur[0], cur[1], docs, tfs, dls, block)])

    return arranged.mapInPandas(encode_stream, schema=POSTINGS_DDL)


# ---------------------------------------------------------------------------
# map-side tf combine (shuffle-byte reduction)
# ---------------------------------------------------------------------------

TF_DDL = ("repo string, path string, commit string, lang string, "
          "sha256 string, dl bigint, "
          "terms array<string>, tfs array<int>")

#: columns the TF combine computes (never passed through from the source)
_TF_COMPUTED = ("content", "sha256", "dl", "terms", "tfs", "poss")


def _tf_schema(df: DataFrame, positions: bool = False):
    """Combine output schema: source columns minus content, plus computed."""
    from pyspark.sql import types as T

    fields = [f for f in df.schema.fields if f.name not in _TF_COMPUTED]
    out = fields + [
        T.StructField("sha256", T.StringType()),
        T.StructField("dl", T.LongType()),
        T.StructField("terms", T.ArrayType(T.StringType())),
        T.StructField("tfs", T.ArrayType(T.IntegerType()))]
    if positions:
        # flat per-doc position stream, term-major in `terms` order:
        # the first tfs[0] values are positions of terms[0], and so on —
        # ascending within each term, len == dl
        out.append(T.StructField("poss", T.ArrayType(T.IntegerType())))
    return T.StructType(out)


def _tf_reduce_core(n: int, toks, want_positions: bool = False):
    """token ListArray (n rows) → (dl np.int64[n], terms ListArray,
    tfs ListArray[, poss ListArray]): dictionary-encode + one lexsort +
    run-length reduce — zero per-row Python.  Shared by the per-doc and
    distinct-content reduction paths.

    ``want_positions``: additionally emit each doc's token positions
    grouped by term (term-major, ascending within term — the lexsort is
    stable, so original token order survives within each (doc, term)
    group), one flat int32 list per doc with len == dl.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    flat = toks.flatten()
    vl = toks.value_lengths()
    if vl.null_count:
        vl = pc.fill_null(vl, 0)
    lens = np.asarray(vl, dtype=np.int64)
    if flat.null_count:
        flat = flat.fill_null("")
    denc = flat.dictionary_encode()
    codes = np.asarray(denc.indices, dtype=np.int64)
    rowrep = np.repeat(np.arange(n, dtype=np.int64), lens)
    order = np.lexsort((codes, rowrep))
    c, r = codes[order], rowrep[order]
    m = c.size
    if m:
        new = np.empty(m, dtype=bool)
        new[0] = True
        new[1:] = (c[1:] != c[:-1]) | (r[1:] != r[:-1])
        starts = np.nonzero(new)[0]
        tf = np.diff(np.append(starts, m)).astype(np.int32)
        per_row = np.bincount(r[starts], minlength=n)
        values = denc.dictionary.take(pa.array(c[starts], type=pa.int64()))
    else:
        per_row = np.zeros(n, dtype=np.int64)
        tf = np.empty(0, dtype=np.int32)
        values = pa.array([], type=pa.string())
    offsets = pa.array(
        np.concatenate(([0], np.cumsum(per_row))), type=pa.int32())
    out = (lens,
           pa.ListArray.from_arrays(offsets, values),
           pa.ListArray.from_arrays(offsets,
                                    pa.array(tf, type=pa.int32())))
    if not want_positions:
        return out
    if m:
        row_starts = np.concatenate(([0], np.cumsum(lens[:-1])))
        pos_within = np.arange(m, dtype=np.int64) - np.repeat(row_starts, lens)
        pos_sorted = pos_within[order].astype(np.int32)
    else:
        pos_sorted = np.empty(0, dtype=np.int32)
    pos_offsets = pa.array(
        np.concatenate(([0], np.cumsum(lens))), type=pa.int32())
    return out + (pa.ListArray.from_arrays(pos_offsets,
                                           pa.array(pos_sorted,
                                                    type=pa.int32())),)


def tokenized_docs_tf(df: DataFrame, cfg: IndexConfig,
                      use_pandas_udf: bool = False, *,
                      analyzer: Callable[[str], list] | None = None,
                      meter_acc=None, skip_acc=None) -> DataFrame:
    """Postings-pass input with a MAP-SIDE TF COMBINE: source rows →
    + doc_id, shard, dl, terms (per-doc distinct), tfs (per-doc counts).

    The doc-id exchange is the postings build's only shuffle; shipping raw
    token arrays through it moves every occurrence of every term across the
    network.  Aggregating ``token → (term, tf)`` per document BEFORE the
    exchange (the classic combiner: Lucene does the same per-doc reduction
    in its indexing chain) shrinks the shuffled string payload by the
    corpus' average term frequency (~3x on typical source code) at no loss:
    tf is additive only within a doc, so the per-doc reduction is exact.
    On a real cluster the exchange is network — the scarcest resource at
    100 TB — so the combine is the default postings path
    (``build_index(mapside_tf=...)`` switches back for A/B).

    The reduction runs in the scan stage as a vectorized ``mapInArrow``
    (dictionary-encode + one lexsort per batch, zero per-row Python);
    ``with_doc_ids`` then assigns ids by the same ``cfg.doc_key`` window as
    :func:`tokenized_docs`, so doc ids are identical across the doclen and
    postings passes.  Every non-``content`` source column is passed through,
    so caller-supplied identity columns (``cfg.doc_key``) survive the pass.

    Failure supervision (reference Decider, `ElasticIndexer4s.scala:45-48`):
    a batch that crashes the vectorized reduction is retried ROW BY ROW;
    under ``cfg.on_error == "skip"`` rows that still fail are dropped and
    counted into ``skip_acc``, under ``"fail"`` the error propagates.
    ``analyzer`` is the caller-custom per-row analyzer hook (the engine twin
    of the reference's custom ``RequestBuilder``): content → token list in
    Python, same skip/fail policy per document — the documented slow path.
    ``meter_acc`` counts indexed docs per batch for the interval throughput
    log (A5).
    """
    import pyarrow as pa

    if cfg.on_error == "skip":
        df = df.filter(F.col("content").isNotNull())
    passthrough = [c for c in df.columns if c not in _TF_COMPUTED]
    positions = cfg.store_positions
    out_schema = _tf_schema(df, positions)
    out_names = [f.name for f in out_schema.fields]
    on_error = cfg.on_error
    tok_cfg = cfg.tokenizer

    base_cols = [F.col(c) for c in passthrough] + [
        F.sha2(F.col("content"), 256).alias("sha256")]
    if analyzer is None and os.environ.get("EI4S_TOK_DEDUP", "0") == "1":
        # A/B experiment (EI4S_TOK_DEDUP=1): tokenize each DISTINCT content
        # once and attach (dl, terms, tfs) to all carriers by sha256 — a
        # memory-bandwidth diet for duplicate-heavy corpora (the build is
        # regex/string-bound; re-tokenizing a duplicate is pure DRAM
        # traffic).  Costs: a groupBy(sha) exchange whose map-side combine
        # only collapses IN-partition duplicates, parallelism bounded by
        # the distinct count, and a join back (AQE broadcasts the distinct
        # side when small).  Worth it only when the duplicate rate is
        # high; measured in BENCH.md.  Meter counts distinct contents in
        # this mode (best-effort, like all accumulator metrics).
        import pyarrow as pa

        tok = tokenize_udf(tok_cfg)("content") if use_pandas_udf \
            else tokens_expr(F.col("content"), tok_cfg)
        distinct = (df.groupBy(F.sha2(F.col("content"), 256).alias("sha256"))
                    .agg(F.first("content").alias("content"))
                    .select("sha256", tok.alias("tokens")))

        from pyspark.sql import types as T
        dfields = [
            T.StructField("sha256", T.StringType()),
            T.StructField("dl", T.LongType()),
            T.StructField("terms", T.ArrayType(T.StringType())),
            T.StructField("tfs", T.ArrayType(T.IntegerType()))]
        if positions:
            dfields.append(
                T.StructField("poss", T.ArrayType(T.IntegerType())))
        dschema = T.StructType(dfields)
        dnames = [f.name for f in dfields]

        def dcombine(batches):
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                parts = _tf_reduce_core(
                    rb.num_rows, rb.column("tokens"), positions)
                if meter_acc is not None:
                    meter_acc.add(rb.num_rows)
                yield pa.RecordBatch.from_arrays(
                    [rb.column("sha256"),
                     pa.array(parts[0], type=pa.int64()), *parts[1:]],
                    names=["sha256", *dnames[1:]])

        dtok = distinct.mapInArrow(dcombine, schema=dschema)
        # null-safe (<=>) equi-join: sha2(NULL) is NULL on BOTH sides, and a
        # plain equi-join would silently drop null-content docs from the
        # index in this mode only (the default path keeps them) — <=> still
        # hash-joins, so the physical plan is unchanged for non-null keys.
        joined = (df.select(*base_cols)
                  .join(dtok.withColumnRenamed("sha256", "_dsha"),
                        F.col("sha256").eqNullSafe(F.col("_dsha")))
                  .select(*out_names))
        return with_doc_ids(joined, list(cfg.doc_key), cfg.num_shards)
    if analyzer is None:
        tok = tokenize_udf(tok_cfg)("content") if use_pandas_udf \
            else tokens_expr(F.col("content"), tok_cfg)
        with_tokens = df.select(*base_cols, tok.alias("tokens"))
    else:
        with_tokens = df.select(*base_cols, F.col("content"))

    def _reduce(rb: pa.RecordBatch, toks) -> pa.RecordBatch:
        """Vectorized per-doc token→(term, tf[, positions]) reduction over
        one batch."""
        parts = _tf_reduce_core(rb.num_rows, toks, positions)
        return pa.RecordBatch.from_arrays(
            [rb.column(c) for c in passthrough]
            + [rb.column("sha256"),
               pa.array(parts[0], type=pa.int64()), *parts[1:]],
            names=out_names)

    def _tokens_custom(rb: pa.RecordBatch) -> tuple[pa.RecordBatch, "pa.Array"]:
        """Per-row custom analyzer with Decider semantics; returns the
        (possibly row-filtered) batch and its token ListArray."""
        texts = rb.column("content").to_pylist()
        token_lists, keep = [], []
        dropped = 0
        for t in texts:
            try:
                token_lists.append(analyzer("" if t is None else t))
                keep.append(True)
            except Exception:
                if on_error != "skip":
                    raise
                keep.append(False)
                dropped += 1
        if dropped:
            if skip_acc is not None:
                skip_acc.add(dropped)
            rb = rb.filter(pa.array(keep, type=pa.bool_()))
        rb = rb.drop_columns(["content"])
        return rb, pa.array(token_lists, type=pa.list_(pa.string()))

    def combine(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            if analyzer is not None:
                rb2, toks = _tokens_custom(rb)
                out = _reduce(rb2, toks) if rb2.num_rows else None
            else:
                try:
                    out = _reduce(rb, rb.column("tokens"))
                except Exception:
                    if on_error != "skip":
                        raise
                    # Decider fallback: isolate the poisoned rows, keep the
                    # rest (reference drop-and-continue, README.md:141-149)
                    goods, dropped = [], 0
                    for i in range(rb.num_rows):
                        row = rb.slice(i, 1)
                        try:
                            goods.append(_reduce(row, row.column("tokens")))
                        except Exception:
                            dropped += 1
                    if dropped and skip_acc is not None:
                        skip_acc.add(dropped)
                    out = None
                    if goods:
                        tbl = pa.Table.from_batches(goods).combine_chunks()
                        out = tbl.to_batches()[0] if tbl.num_rows else None
            if out is not None and out.num_rows:
                if meter_acc is not None:
                    meter_acc.add(out.num_rows)
                yield out

    deduped = with_tokens.mapInArrow(combine, schema=out_schema)
    return with_doc_ids(deduped, list(cfg.doc_key), cfg.num_shards)


# ---------------------------------------------------------------------------
# posting construction — Arrow-native (default scale path)
# ---------------------------------------------------------------------------

def build_postings_arrow(docs_tok: DataFrame, cfg: IndexConfig) -> DataFrame:
    """(shard, doc_id, dl, tokens) → encoded postings, entirely in one
    ``mapInArrow`` pass — the default build path.

    Why not explode + groupBy + sort in the JVM (the ``term_frequencies`` +
    ``build_postings_stream`` path, kept for the salted variant and as an
    oracle): at 96M exploded tokens the Tungsten hash-agg + sort burned
    5.5x more CPU per row at 32 threads than at 8 (cache/memory-bandwidth
    thrash on the random-access agg map — measured via event logs,
    scripts/diag_evlog.py), capping scaling at ~0.3.  Token → posting
    reduction is a per-shard-local problem, so the engine does it where it
    is cache-friendly and allocation-free: pyarrow dictionary-encode maps
    terms to int codes (C++), one ``np.lexsort`` orders (term, doc), a
    run-length reduce yields tf, and ``encode_partition_postings`` emits
    every posting list of the shard via three whole-array varint passes —
    zero per-term Python, zero JVM-side wide operators.  The JVM side of
    the stage is just shuffle-read + window + project.

    Memory per task is O(postings of the shard) (~28 B/posting + token
    strings of one Arrow batch); at production scale ``num_shards`` is
    sized so a shard's postings fit an executor core (SURVEY §4), exactly
    like Lucene's per-segment indexing buffer.  Inputs may interleave
    shards (no one-shard-per-partition assumption): the final sort keys on
    (shard, term, doc_id).
    """
    import pyarrow as pa

    cols = docs_tok.select("shard", "doc_id", "dl", "tokens")
    block = cfg.block_size

    def encode(batches):
        from ..functions.codec import encode_partition_postings
        segs: list[pa.RecordBatch] = []  # per-batch posting runs (dict terms)

        for rb in batches:
            nd = rb.num_rows
            if nd == 0:
                continue
            toks = rb.column("tokens")
            flat = toks.flatten()
            vl = toks.value_lengths()
            if vl.null_count:  # null token-list ≡ empty (flatten skips it)
                import pyarrow.compute as pc
                vl = pc.fill_null(vl, 0)
            lens = np.asarray(vl, dtype=np.int64)
            if flat.null_count:
                flat = flat.fill_null("")
            denc = flat.dictionary_encode()
            codes = np.asarray(denc.indices, dtype=np.int64)
            docrep = np.repeat(np.asarray(rb.column("doc_id"), dtype=np.int64), lens)
            dlrep = np.repeat(np.asarray(rb.column("dl"), dtype=np.int64), lens)
            shardrep = np.repeat(np.asarray(rb.column("shard"), dtype=np.int64), lens)
            order = np.lexsort((docrep, codes, shardrep))
            c, d = codes[order], docrep[order]
            n = c.size
            if n == 0:
                continue
            new = np.empty(n, dtype=bool)
            new[0] = True
            new[1:] = ((c[1:] != c[:-1]) | (d[1:] != d[:-1]))
            starts = np.nonzero(new)[0]
            tf = np.diff(np.append(starts, n))
            segs.append(pa.RecordBatch.from_arrays(
                [pa.DictionaryArray.from_arrays(
                    pa.array(c[starts], type=pa.int32()), denc.dictionary),
                 pa.array(d[starts], type=pa.int64()),
                 pa.array(tf, type=pa.int64()),
                 pa.array(dlrep[order][starts], type=pa.int64()),
                 pa.array(shardrep[order][starts], type=pa.int64())],
                names=["term", "doc_id", "tf", "dl", "shard"]))

        yield from _merge_segments_encode(segs, block)

    return cols.mapInArrow(encode, schema=POSTINGS_DDL)


def _merge_segments_encode(segs: list, block: int):
    """Unify per-batch posting-run segments (dictionary-encoded terms),
    one global (shard, term, doc) sort over POSTING rows (≈2-3x fewer than
    tokens, and no strings — the dictionary indirection keeps this
    pure-int), then whole-partition encode.  An optional per-posting ``pos``
    list column (token positions) is gathered through the same sort and
    flattened into the positional stream.

    The term key is the term's lexicographic rank in the dictionary, not
    its first-appearance code, so each shard's rows come out sorted by
    ``term``: the written row groups then cover disjoint term ranges and
    their footer min/max address them (serving reads only the groups that
    can hold a query term)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.codec import encode_partition_postings

    if not segs:
        return
    tbl = pa.Table.from_batches(segs).unify_dictionaries().combine_chunks()
    term_col = tbl.column("term").chunk(0)
    codes = np.asarray(term_col.indices, dtype=np.int64)
    doc = np.asarray(tbl.column("doc_id").chunk(0), dtype=np.int64)
    tf = np.asarray(tbl.column("tf").chunk(0), dtype=np.int64)
    dl = np.asarray(tbl.column("dl").chunk(0), dtype=np.int64)
    shard = np.asarray(tbl.column("shard").chunk(0), dtype=np.int64)
    rank = np.asarray(pc.rank(term_col.dictionary, sort_keys="ascending",
                              tiebreaker="first"), dtype=np.int64)
    order = np.lexsort((doc, rank[codes], shard))
    pos_flat = None
    if "pos" in tbl.column_names:
        taken = pc.take(tbl.column("pos").chunk(0), pa.array(order))
        pos_flat = np.asarray(taken.flatten(), dtype=np.int64)
    yield encode_partition_postings(
        shard[order], codes[order], doc[order], tf[order], dl[order],
        term_col.dictionary, block, pos=pos_flat)


def build_postings_arrow_tf(docs_tf: DataFrame, cfg: IndexConfig) -> DataFrame:
    """(shard, doc_id, dl, terms, tfs[, poss]) → encoded postings; the
    reduce side of the map-side-combined path (:func:`tokenized_docs_tf`).
    Identical output to :func:`build_postings_arrow` (tested byte-for-byte);
    the tf run-length counting is gone because tfs arrive pre-counted per
    doc.  When the combine carried positions (``cfg.store_positions``) the
    per-doc flat position stream is resliced per posting (the posting's
    span is its tf) and threads through the global sort into ``pos_blob``.
    """
    import pyarrow as pa

    positions = cfg.store_positions and "poss" in docs_tf.columns
    pos_cols = ["poss"] if positions else []
    cols = docs_tf.select("shard", "doc_id", "dl", "terms", "tfs", *pos_cols)
    block = cfg.block_size

    def encode(batches):
        import pyarrow.compute as pc
        segs: list[pa.RecordBatch] = []
        for rb in batches:
            if rb.num_rows == 0:
                continue
            terms = rb.column("terms")
            flat = terms.flatten()
            vl = terms.value_lengths()
            if vl.null_count:
                vl = pc.fill_null(vl, 0)
            lens = np.asarray(vl, dtype=np.int64)
            if flat.null_count:
                flat = flat.fill_null("")
            denc = flat.dictionary_encode()
            codes = np.asarray(denc.indices, dtype=np.int64)
            tfflat = np.asarray(rb.column("tfs").flatten(), dtype=np.int64)
            docrep = np.repeat(
                np.asarray(rb.column("doc_id"), dtype=np.int64), lens)
            dlrep = np.repeat(
                np.asarray(rb.column("dl"), dtype=np.int64), lens)
            shardrep = np.repeat(
                np.asarray(rb.column("shard"), dtype=np.int64), lens)
            if codes.size == 0:
                continue
            names = ["term", "doc_id", "tf", "dl", "shard"]
            arrays = [
                pa.DictionaryArray.from_arrays(
                    pa.array(codes, type=pa.int32()), denc.dictionary),
                pa.array(docrep, type=pa.int64()),
                pa.array(tfflat, type=pa.int64()),
                pa.array(dlrep, type=pa.int64()),
                pa.array(shardrep, type=pa.int64())]
            if positions:
                # per-doc flat positions (term-major, = terms/tfs order) →
                # one list per POSTING: offsets are the running tf sum
                posflat = pa.array(
                    np.asarray(rb.column("poss").flatten(),
                               dtype=np.int32), type=pa.int32())
                poff = pa.array(np.concatenate(
                    ([0], np.cumsum(tfflat))).astype(np.int64),
                    type=pa.int64())
                arrays.append(pa.LargeListArray.from_arrays(poff, posflat))
                names.append("pos")
            # no per-batch sort: rows are already one posting per (doc,
            # term) and _merge_segments_encode sorts globally anyway.
            segs.append(pa.RecordBatch.from_arrays(arrays, names=names))
        yield from _merge_segments_encode(segs, block)

    return cols.mapInArrow(encode, schema=POSTINGS_DDL)


# ---------------------------------------------------------------------------
# posting construction — salted grouped path (explicit skew handling, B4)
# ---------------------------------------------------------------------------

def hot_terms(tf_df: DataFrame, threshold: int) -> DataFrame:
    """Heavy-hitter detection: terms whose global df exceeds ``threshold``."""
    return (
        tf_df.groupBy("term").agg(F.count(F.lit(1)).alias("df_global"))
        .filter(F.col("df_global") > threshold)
        .select("term")
    )


def build_postings_salted(tf_df: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Two-phase salted build: hot terms are split into bounded
    ``salt = doc_id // salt_span`` sub-segments (contiguous doc ranges, so
    sub-segments stay independently encodable), encoded per (shard, term,
    salt) group, then merged per (shard, term) by pure blob concatenation
    (codec.concat_postings).  Cold terms take salt=0 and pass through the
    merge unchanged.

    This is the explicit skew-handling path the north rule names; the
    streaming path handles skew structurally via document sharding.  Both
    must produce byte-identical postings (tested).
    """
    hot = hot_terms(tf_df, cfg.hot_term_df)
    salted = (
        tf_df.join(F.broadcast(hot.withColumn("_hot", F.lit(True))), "term", "left")
        .withColumn(
            "salt",
            F.when(F.col("_hot").isNotNull(),
                   (F.col("doc_id") / F.lit(cfg.salt_span)).cast("long"))
            .otherwise(F.lit(0)))
        .drop("_hot")
    )
    block = cfg.block_size

    def encode_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        row = _encode_group(
            int(pdf["shard"].iloc[0]), pdf["term"].iloc[0],
            [pdf["doc_id"].to_numpy()], [pdf["tf"].to_numpy()],
            [pdf["dl"].to_numpy()], block)
        row["salt"] = int(pdf["salt"].iloc[0])
        row["min_doc"] = int(pdf["doc_id"].min())
        return pd.DataFrame([row])

    seg_schema = POSTINGS_DDL + ", salt bigint, min_doc bigint"
    segments = salted.groupBy("shard", "term", "salt").applyInPandas(
        encode_segment, schema=seg_schema)

    from ..functions.codec import concat_postings, row_to_enc

    def merge_segments(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("min_doc")
        parts = [row_to_enc(r) for _, r in pdf.iterrows()]
        merged = concat_postings(parts)
        return pd.DataFrame([enc_to_row(
            pdf["term"].iloc[0], merged, shard=int(pdf["shard"].iloc[0]))])

    return segments.groupBy("shard", "term").applyInPandas(
        merge_segments, schema=POSTINGS_DDL)


# ---------------------------------------------------------------------------
# full build
# ---------------------------------------------------------------------------

DOCLEN_COLS = ["shard", "doc_id", "repo", "path", "commit", "lang", "dl", "sha256"]

#: Parquet row-group targets of the two term-sorted datasets.  Both are
#: written in ``term`` order, so each row group covers a disjoint term range
#: and the footer's per-group ``term`` min/max tell a reader which groups can
#: hold a query term (``serving.TermFiles``).  Smaller groups mean less read
#: per query term but more footer and per-group overhead; zstd keeps the
#: extra groups from growing the index (postings of a 50k-doc corpus: 11.7 MB
#: as snappy in one group per shard, 14.0 MB as snappy in 128 KB groups,
#: 9.8 MB as zstd in 128 KB groups).
POSTINGS_ROW_GROUP_BYTES = 128 << 10
DICTIONARY_ROW_GROUP_BYTES = 64 << 10


def _term_addressed(writer, row_group_bytes: int):
    """Parquet writer options for a term-sorted dataset: bounded row
    groups, zstd, and min/max statistics on ``term`` only (statistics on the
    posting blobs would cost footer bytes per group and address nothing)."""
    return (writer.option("compression", "zstd")
            .option("parquet.block.size", str(row_group_bytes))
            .option("parquet.column.statistics.enabled", "false")
            .option("parquet.column.statistics.enabled#term", "true"))


def doc_side_lineage(docs_tok: DataFrame) -> list[tuple[int, int, int, int]]:
    """One aggregate pass over the analyzed frame → per-shard
    ``(shard, doc_count, dl_sum, input_fingerprint)`` rows.

    The fingerprint is ``bit_xor(xxhash64(sha256(content)))`` —
    order-independent, so it is computable from any partitioning and
    comparable against the lineage of a previous (partial) build.  The
    same job MATERIALIZES the single-pass cache, so count, resume
    fingerprints, lineage doc stats and corpus stats all come from one
    read of the corpus instead of three.
    """
    extra = ["_route"] if "_route" in docs_tok.columns else []
    rows = (docs_tok.groupBy(*extra, "shard").agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.sum("dl").alias("dl_sum"),
        F.expr("bit_xor(xxhash64(sha256))").alias("fp")).collect())
    return sorted((int(r["shard"]), int(r["doc_count"]),
                   int(r["dl_sum"] or 0), int(r["fp"])) for r in rows)


def shard_fingerprints(docs_tok: DataFrame) -> dict[int, int]:
    """shard -> input fingerprint (see :func:`doc_side_lineage`)."""
    return {s: fp for s, _, _, fp in doc_side_lineage(docs_tok)}


def completed_shards(spark: SparkSession, generation_dir: str) -> dict[int, int]:
    """shard -> input_fingerprint for shards a previous run completed
    (lineage is committed only after doclen+postings+dictionary)."""
    lineage_path = FS.join(generation_dir, "lineage")
    if not FS.exists(lineage_path):
        return {}
    rows = spark.read.parquet(lineage_path).select(
        "shard", "input_fingerprint").collect()
    return {int(r["shard"]): int(r["input_fingerprint"]) for r in rows}


def _metadata_complete(generation_dir: str) -> bool:
    """True when every post-shard artifact of a generation exists — resume
    may only report 'nothing to build' if this holds; otherwise a crash
    between the lineage commit and the stats write would leave a generation
    that resume forever reports successful but queries cannot open."""
    return all(FS.exists(FS.join(generation_dir, n))
               for n in ("dictionary", "stats.json", "lineage"))


def build_index(spark: SparkSession, source_df: DataFrame, cfg: IndexConfig,
                generation_dir: str, *, salted: bool = False,
                use_pandas_udf: bool = False,
                verify_sha: bool = False,
                resume: bool = False,
                mapside_tf: bool = True,
                analyzer: Callable[[str], list] | None = None,
                log_every: float | None = None,
                snapshot=None) -> RunResult | IndexError:
    """Build one index generation.  Returns the stage-railway result
    (reference `IndexLogic.scala:23-29`: on failure, the stages that already
    succeeded are preserved).

    ``resume=True`` (SURVEY §2 B9): shards whose per-shard lineage
    fingerprint matches the current input are SKIPPED; only missing/changed
    shards are (re)built, committed via dynamic partition overwrite; shards
    on disk that vanished from the source are DELETED (so the served
    artifact and stats always describe the current input) — the
    engine-native equivalent of resuming from an Iceberg-snapshot
    checkpoint.  Crash safety: doclen/postings commits are atomic per job
    (Spark staging dir), and lineage — the resume manifest — is staged to
    ``lineage_tmp`` and COMMITTED (renamed) only after the dictionary
    succeeds; stats is written after that.  Resume's "nothing to build"
    short-circuit additionally verifies dictionary/lineage/stats exist and
    otherwise falls through to rebuild just the metadata stages.

    ``analyzer`` — caller-custom per-row analyzer (reference RequestBuilder
    / Decider pairing); ``log_every`` overrides ``cfg.log_every`` for the
    interval throughput log (A5).

    ``snapshot`` — a :class:`sources.snapshot.TableSnapshot` pinning the
    table version ``source_df`` was opened from.  The build embeds it in
    the generation (``snapshot.json``) and stamps its id into every
    lineage row; a later ``resume=True`` against a DIFFERENT snapshot of
    the table raises :class:`SnapshotDriftError` instead of silently
    mixing two table versions — use :func:`resume_build_from_snapshot`
    to resume against exactly the pinned input (Iceberg-checkpoint
    semantics per the north rule; for plain parquet dirs the pinned file
    list gives the same isolation for appends and detects rewrites).
    """
    t0 = time.monotonic()
    from ..sources.snapshot import (SnapshotDriftError, pinned_snapshot,
                                    write_pinned_snapshot)
    if resume:
        # config-drift guard: a resume re-encodes only the stale/missing
        # shards, so the kept shards MUST have been built with the same
        # config — resuming with a different tokenizer / shard count /
        # store_positions would silently mix incompatible shards (e.g.
        # position-less postings under a store_positions=True manifest,
        # where phrase queries then fail on half the corpus)
        meta_p = FS.join(generation_dir, "_meta.json")
        if FS.exists(meta_p):
            existing = FS.read_text(meta_p)
            if existing != cfg.to_json():
                raise ValueError(
                    f"resume config mismatch for {generation_dir!r}: the "
                    "generation was built with a different IndexConfig "
                    "(tokenizer / num_shards / store_positions / ...); "
                    "resume with the original config or build a NEW "
                    "generation")
    if resume and snapshot is not None:
        pinned = pinned_snapshot(generation_dir)
        if pinned is not None and pinned.snapshot_id != snapshot.snapshot_id:
            raise SnapshotDriftError(
                f"generation {generation_dir!r} is pinned to snapshot "
                f"{pinned.snapshot_id} of {pinned.table!r} but resume was "
                f"given snapshot {snapshot.snapshot_id}; resume with "
                "resume_build_from_snapshot() to finish the pinned build, "
                "or build a NEW generation for the new snapshot")
    from ..metrics import ThroughputMeter
    meter = ThroughputMeter(spark.sparkContext,
                            interval=log_every or cfg.log_every)
    skip_acc = spark.sparkContext.accumulator(0)

    # ONE tokenize pass (mapside_tf default): the per-doc TF combine
    # (tokenized_docs_tf) carries every doclen column (lang, sha256, dl)
    # alongside the per-doc (terms, tfs), so doclen, postings, resume
    # fingerprints and the verify join all read the SAME frame — the
    # analyzer runs once over the corpus, not once per consumer.  The frame
    # is persisted POST-combine: the compact per-doc term set (~ distinct
    # terms, no positions) is the smallest faithful intermediate — the
    # classic Lucene per-doc inverted buffer — unlike raw token arrays,
    # whose persist measurably destroyed scaling (110-165s block-manager
    # cost on 400k docs).  At 100 TB the combined frame is ~25-40% of the
    # source bytes and spills to local disk like any shuffle output would
    # (MEMORY_AND_DISK), so the plan stays executor-local and cache-safe.
    # The salted / non-mapside paths keep the cache-free two-pass plan.
    single_pass = (mapside_tf and not salted
                   and os.environ.get("EI4S_SINGLE_PASS", "1") != "0")
    if analyzer is not None and not single_pass:
        raise ValueError("custom analyzer requires the single-pass build "
                         "(mapside_tf=True, not salted)")
    if cfg.store_positions and (salted or not mapside_tf):
        raise ValueError("store_positions requires the map-side-combined "
                         "build path (mapside_tf=True, not salted) — the "
                         "salted/raw-token paths emit position-less "
                         "postings")
    if single_pass:
        docs_tok = tokenized_docs_tf(source_df, cfg, use_pandas_udf,
                                     analyzer=analyzer, meter_acc=meter.acc,
                                     skip_acc=skip_acc)
        from pyspark import StorageLevel
        # DISK_ONLY, deliberately: storing the frame deserialized on-heap
        # churned the old generation (233s GC at 32 threads vs 24s without);
        # serialized-to-local-disk is GC-neutral, costs one compressed
        # write + two streaming reads (~0.25 B/input byte here), and is the
        # only level that still works when the corpus is 100 TB.
        docs_tok.persist(StorageLevel.DISK_ONLY)
    else:
        docs_tok = tokenized_docs(source_df, cfg, use_pandas_udf)

    doc_lineage_rows: list[tuple[int, int, int, int]] = []

    pending: list[int] | None = None  # None = full build
    stale_shards: list[int] = []      # on disk, gone from the source
    if resume:
        done = completed_shards(spark, generation_dir)
        doc_lineage_rows = doc_side_lineage(docs_tok)
        current = {s: fp for s, _, _, fp in doc_lineage_rows}
        pending = sorted(s for s, fp in current.items()
                         if done.get(s) != fp)
        stale_shards = sorted(s for s in done if s not in current)
        if not pending and not stale_shards and _metadata_complete(generation_dir):
            if single_pass:
                docs_tok.unpersist()
            return RunResult([StageSucceeded(
                "Resume: all shards up to date, nothing to build")])
        docs_tok_build = (docs_tok.filter(F.col("shard").isin(pending))
                          if pending else docs_tok.filter(F.lit(False)))
    else:
        docs_tok_build = docs_tok

    # Independent DAG branches run as CONCURRENT Spark jobs (driver
    # threads; Spark's scheduler interleaves their tasks): doclen+postings
    # both read the materialized cache, dictionary+lineage both read the
    # written index — serializing them just leaves cores idle at each job
    # boundary.  The railway stage ORDER (and its log) stays deterministic:
    # a stage that overlaps work submits the next stage's future and the
    # next stage awaits it.
    from concurrent.futures import Future, ThreadPoolExecutor
    pool = ThreadPoolExecutor(max_workers=2)
    futures: dict[str, Future] = {}
    lineage_totals: dict[str, tuple[int, int]] = {}
    overlap = os.environ.get("EI4S_OVERLAP", "1") != "0"

    def write_partitioned(df: DataFrame, dataset: str) -> None:
        if pending is not None and not pending:
            return  # metadata-only resume: nothing shard-level to rewrite
        mode = "dynamic" if pending is not None else "static"
        w = (df.write.mode("overwrite")
             .option("partitionOverwriteMode", mode))
        if dataset == "postings":
            w = _term_addressed(w, POSTINGS_ROW_GROUP_BYTES)
        (w.partitionBy("shard")
         .parquet(FS.join(generation_dir, dataset)))

    def stage_create() -> StageSucceeded:
        FS.mkdirs(generation_dir)
        FS.write_text(FS.join(generation_dir, "_meta.json"), cfg.to_json())
        if snapshot is not None:
            write_pinned_snapshot(generation_dir, snapshot)
        # Resume GC: drop shard partitions whose documents left the source —
        # dynamic partition overwrite never deletes unmatched partitions, and
        # a stale shard would otherwise keep being served while dropping out
        # of lineage/stats.
        for s in stale_shards:
            for dataset in ("postings", "doclen"):
                FS.delete_dir(FS.join(generation_dir, dataset, f"shard={s}"))
        meter.start()
        what = (f"Resuming {len(pending)} stale/missing shards"
                + (f", deleted {len(stale_shards)} vanished shards"
                   if stale_shards else "")
                if pending is not None else "Created index generation")
        return StageSucceeded(f"{what} {generation_dir}")

    def stage_tokenize() -> StageSucceeded:
        # Fill the cache with ONE job before concurrent consumers attach:
        # two jobs racing on unmaterialized partitions would compute the
        # scan+combine twice (the block manager stores but does not lock).
        # The materializing job IS the doc-side lineage aggregate, so the
        # doc count, per-shard lineage stats and corpus stats ride along
        # for free — no separate count or lineage pass over the cache.
        # In resume mode the fingerprint job already materialized it.
        nonlocal doc_lineage_rows
        if not (single_pass and overlap):
            return StageSucceeded("Analyzer runs per consumer (two-pass mode)")
        if pending is None:
            doc_lineage_rows = doc_side_lineage(docs_tok)
            n = sum(r[1] for r in doc_lineage_rows)
            return StageSucceeded(f"Analyzed {n} documents")
        return StageSucceeded("Analyzed corpus (during resume fingerprinting)")

    def _write_postings() -> None:
        if salted:
            postings = build_postings_salted(term_frequencies(docs_tok_build), cfg)
            # grouped path shuffles by (shard, term): repack per shard, in
            # term order like the encoder paths write
            postings = (postings.repartition(cfg.num_shards, "shard")
                        .sortWithinPartitions("shard", "term"))
        elif single_pass:
            postings = build_postings_arrow_tf(docs_tok_build, cfg)
        elif mapside_tf:  # two-pass A/B fallback (EI4S_SINGLE_PASS=0)
            docs_tf = tokenized_docs_tf(source_df, cfg, use_pandas_udf)
            if pending is not None:
                docs_tf = docs_tf.filter(F.col("shard").isin(pending))
            postings = build_postings_arrow_tf(docs_tf, cfg)
        else:
            postings = build_postings_arrow(docs_tok_build, cfg)
        write_partitioned(postings, "postings")

    def stage_doclen() -> StageSucceeded:
        # docs_tok is already exchanged one-shard-per-partition by the
        # id-assign routing, so partitionBy(shard) emits ~1 file per shard
        # with NO extra repartition.
        if single_pass and overlap:  # cache-backed: overlap postings encode
            futures["postings"] = pool.submit(_write_postings)
        # doclen schema follows the source: shard/doc_id + every passthrough
        # column (incl. caller doc_key cols) + dl + sha256
        skip = {"_route", "tokens", "terms", "tfs", "poss"}
        doclen_cols = [c for c in docs_tok_build.columns if c not in skip]
        write_partitioned(docs_tok_build.select(*doclen_cols), "doclen")
        return StageSucceeded("Wrote doclen table")

    def stage_postings() -> StageSucceeded:
        if "postings" in futures:
            futures.pop("postings").result()
        else:
            _write_postings()
        return StageSucceeded("Wrote postings")

    def stage_dictionary() -> StageSucceeded:
        # global term dictionary (term -> corpus-wide df): queries read this
        # tiny pushdown-filtered table instead of re-aggregating postings.
        # lineage is independent (cache + footers) — overlap its STAGING
        # write; the commit (rename) happens in stage_lineage strictly after
        # this stage succeeds, so a dictionary failure can never leave a
        # committed lineage that makes resume report success.
        if overlap:
            futures["lineage"] = pool.submit(_write_lineage)
        # explicit schema: an empty corpus writes a postings dataset with no
        # part files, where schema inference would fail
        postings = spark.read.schema(POSTINGS_DDL).parquet(
            FS.join(generation_dir, "postings"))
        dictionary = (postings.groupBy("term").agg(F.sum("df").alias("df"))
                      .coalesce(1).sortWithinPartitions("term"))
        _term_addressed(dictionary.write.mode("overwrite"),
                        DICTIONARY_ROW_GROUP_BYTES).parquet(
            FS.join(generation_dir, "dictionary"))
        return StageSucceeded("Wrote term dictionary")

    def stage_stats() -> StageSucceeded:
        # corpus stats derive from the per-shard lineage rows (which carry
        # dl_sum for exactly this purpose) — no second full doclen scan;
        # the totals were already summed driver-side during the lineage
        # collect, so the common path costs ZERO Spark jobs (the re-read
        # below only runs if lineage came from a previous process).
        # Exact bigint sum / count evaluated in float64: at least as
        # accurate as F.avg over the doclen table (whose integral partials
        # accumulate as double).
        if "totals" in lineage_totals:
            n, s = lineage_totals["totals"]
        else:
            lin = spark.read.parquet(FS.join(generation_dir, "lineage"))
            row = lin.agg(F.sum("doc_count").alias("n"),
                          F.sum("dl_sum").alias("s")).collect()[0]
            n, s = int(row["n"] or 0), int(row["s"] or 0)
        # skipped_docs comes from an accumulator updated inside a
        # transformation: task retries / speculative re-runs / cache-loss
        # recomputation re-apply increments, so it can OVERCOUNT.  num_docs
        # is exact (from committed lineage).  An exact skip ledger would
        # need a second full source scan (source rows are also dropped by
        # the pre-id null filter, so source_count - num_docs != analyzer
        # skips); the flag makes the semantics explicit to consumers.
        stats = {"num_docs": n,
                 "avg_dl": (float(s) / n) if n else 0.0,
                 "skipped_docs": int(skip_acc.value),
                 "skipped_docs_exact": False}
        FS.write_json(FS.join(generation_dir, "stats.json"), stats)
        skipped = (f" ({stats['skipped_docs']} skipped)"
                   if stats["skipped_docs"] else "")
        return StageSucceeded(
            f"Indexed {stats['num_docs']} documents successfully{skipped}")

    def stage_lineage() -> StageSucceeded:
        if "lineage" in futures:
            futures.pop("lineage").result()
        else:
            _write_lineage()
        # COMMIT: lineage becomes visible to resume only here — after
        # doclen, postings AND dictionary all succeeded.  A crash before
        # this point leaves only lineage_tmp, which resume ignores.
        final = FS.join(generation_dir, "lineage")
        FS.delete_dir(final)
        FS.move(FS.join(generation_dir, "lineage_tmp"), final)
        return StageSucceeded("Wrote per-shard lineage")

    def _write_lineage() -> None:
        # Lineage must stay O(shards), not O(index): doc-side stats come
        # from the frame the build already computed (a cache read in
        # single-pass mode — NOT a re-scan of the written doclen), and
        # postings-side stats come from parquet FOOTERS + file sizes —
        # index metadata, never index data.  This is the Iceberg-manifest
        # discipline; re-aggregating the whole index for bookkeeping would
        # be a second full read at 100 TB.  All file access goes through
        # the FS layer, so the generation may live on any supported store.
        # Staged to lineage_tmp; stage_lineage renames it into place.
        if doc_lineage_rows:
            drows = doc_lineage_rows  # computed by the materializing job
        else:
            src = docs_tok if single_pass else spark.read.parquet(
                FS.join(generation_dir, "doclen"))
            drows = doc_side_lineage(src)
        post_root = FS.join(generation_dir, "postings")
        pstats: dict[int, list[int]] = {}
        for dinfo in FS.ls(post_root):
            base = dinfo.base_name
            if not base.startswith("shard="):
                continue
            s = int(base.split("=", 1)[1])
            tc_nb = pstats.setdefault(s, [0, 0])
            for finfo in FS.ls(FS.join(post_root, base)):
                if finfo.base_name.endswith(".parquet"):
                    meta = FS.parquet_file_metadata(
                        FS.join(post_root, base, finfo.base_name))
                    tc_nb[0] += meta.num_rows
                    tc_nb[1] += int(finfo.size)
        sid = snapshot.snapshot_id if snapshot is not None else None
        rows = [(s, dc, dl, fp, *pstats.get(s, (0, 0)), sid)
                for s, dc, dl, fp in drows]
        lineage_totals["totals"] = (sum(r[1] for r in rows),
                                    sum(r[2] for r in rows))
        (spark.createDataFrame(
            rows, "shard int, doc_count bigint, dl_sum bigint, "
                  "input_fingerprint bigint, term_count bigint, bytes bigint, "
                  "snapshot_id bigint")
         .coalesce(1).write.mode("overwrite")
         .parquet(FS.join(generation_dir, "lineage_tmp")))

    def stage_verify() -> StageSucceeded:
        if not verify_sha:
            return StageSucceeded("Verification skipped (verify_sha=False)")
        n = verify_content_sha(spark, source_df, generation_dir,
                               doc_key=list(cfg.doc_key))
        if n:
            raise RuntimeError(f"{n} rows failed sha256 content verification")
        return StageSucceeded("Verified per-row content sha256 equality")

    result = run_stages([
        ("create", stage_create),
        ("tokenize", stage_tokenize),
        ("doclen", stage_doclen),
        ("postings", stage_postings),
        ("dictionary", stage_dictionary),
        ("lineage", stage_lineage),
        ("stats", stage_stats),
        ("verify", stage_verify),
    ])
    pool.shutdown(wait=True)  # drain overlapped jobs before releasing cache
    meter.stop()
    if single_pass:
        docs_tok.unpersist()
    if isinstance(result, RunResult):
        elapsed = time.monotonic() - t0
        result.succeeded_stages.append(
            StageSucceeded(f"Build took {elapsed:.2f}s"))
    return result


def resume_build_from_snapshot(spark: SparkSession, cfg: IndexConfig,
                               generation_dir: str,
                               shape=None, **build_kw):
    """Resume a pinned build against EXACTLY the input it originally saw.

    Loads the generation's ``snapshot.json``, re-opens the pinned table
    version (verifying the pinned files still exist — vanished/rewritten
    files raise :class:`SnapshotDriftError`), applies the caller's optional
    ``shape`` adapter (e.g. driver_contract.corpus_shaped) and re-enters
    :func:`build_index` with ``resume=True``.  Files appended to the table
    after the original capture are invisible by construction, so the
    resumed shards fingerprint-match the committed lineage even on a table
    that kept committing — the Iceberg-snapshot-checkpoint semantics the
    north rule asks for.
    """
    from ..sources.snapshot import open_snapshot, pinned_snapshot

    snap = pinned_snapshot(generation_dir)
    if snap is None:
        raise FileNotFoundError(
            f"{generation_dir!r} has no snapshot.json — it was not built "
            "with a pinned snapshot; resume with build_index(resume=True) "
            "and the current source instead")
    df = open_snapshot(spark, snap)
    if shape is not None:
        df = shape(df)
    return build_index(spark, df, cfg, generation_dir, resume=True,
                       snapshot=snap, **build_kw)


def verify_content_sha(spark: SparkSession, source_df: DataFrame,
                       generation_dir: str,
                       doc_key: list[str] | None = None) -> int:
    """Per-row content sha256 equality source ↔ doclen (SURVEY §2 B10).
    Returns the number of mismatched/missing rows (0 = verified)."""
    key = list(doc_key) if doc_key else DOC_KEY
    doclen = spark.read.parquet(FS.join(generation_dir, "doclen"))
    src = source_df.select(
        *key, F.sha2(F.col("content"), 256).alias("src_sha"))
    joined = src.join(doclen.select(*key, "sha256"), key, "full_outer")
    return joined.filter(
        F.col("src_sha").isNull() | F.col("sha256").isNull()
        | (F.col("src_sha") != F.col("sha256"))).count()
