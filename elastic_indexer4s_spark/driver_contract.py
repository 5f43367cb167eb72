"""Driver-facing query inventory: every SURVEY §2 operator exposed as a
(spark, sf_dir) -> DataFrame callable, each paired with an ANSI-SQL oracle
that DuckDB runs over the same parquet tables.

Parity rules (the driver hash-compares values, so these are load-bearing):

* every computed column is aliased identically on both sides;
* all integral outputs are BIGINT, floats are DOUBLE rounded to 6 decimals
  (both engines round-half-up on doubles; pre-round values agree to ~1 ulp);
* every hash is the portable md5-60-bit value (functions/hashing.py);
* top-k orders tie-break on rounded score THEN id, so the selected set is
  identical even when raw doubles differ in the last ulp;
* DuckDB sum() over integers returns HUGEINT -> always cast to BIGINT.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import IndexConfig
from .functions.codec import POSTINGS_FORMAT
from .functions.hashing import md5_double_longs_sql, md5_long, md5_long_sql
from .functions.tokenizer import simple_tokens_expr, simple_tokens_sql
from .operators import dedup, multimodal, similarity, textstats
from .operators.build import build_index
from .operators.query import (topk as engine_topk,
                              topk_batch as engine_topk_batch, count_index)
from .results import RunResult

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

K1, B = 1.2, 0.75

# DuckDB twin of functions/tokenizer.simple_tokens_expr
TOK = simple_tokens_sql("text")

# DuckDB twin of the full code-aware analyzer (functions/tokenizer.tokens_expr):
# RE2 has no lookarounds, so camel boundaries use capture-group replacement —
# equivalent here because consecutive boundaries can never share characters
# (the char classes on each side of a boundary are disjoint).
def _code_tok_sql(col: str) -> str:
    return rf"""
list_transform(
  list_filter(
    regexp_split_to_array(
      trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        {col}, '[^A-Za-z0-9_]+', ' ', 'g'),
        '_', ' ', 'g'),
        '([a-z0-9])([A-Z])', '\1 \2', 'g'),
        '([A-Z])([A-Z][a-z])', '\1 \2', 'g')),
      '\s+'),
    t -> length(t) >= 2 AND length(t) <= 64),
  t -> lower(t))
""".strip()


CODE_TOK = _code_tok_sql("text")

TF_CTE = f"""
toks AS (SELECT doc_id, {TOK} AS toks FROM documents),
tf AS (
  SELECT doc_id, tok AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
  GROUP BY doc_id, tok
)"""

# the reference query set over the driver's `documents` table (30-term vocab)
QUERY_SET: list[tuple[int, str]] = [
    (0, "spark"), (0, "join"),
    (1, "window"), (1, "batch"),
    (2, "merge"),
    (3, "customer"), (3, "table"), (3, "scan"),
    (4, "nosuchterm"),
]
FLAGSHIP_TERMS = ["spark", "join"]
# stopword-grade terms (each in ~80% of docs under the code tokenizer):
# the WAND worst case — near-zero skip opportunity, maximal frontier churn
WORST_TERMS = ["batch", "scan", "data"]

# lifecycle catalog fixture (FIXTURES.md §3): generation, aliases csv,
# creation_time, doc_count — literal on both sides.
CATALOG_ROWS: list[tuple[str, str, int, int]] = [
    ("docs_1", "", 1, 100), ("docs_2", "", 2, 110),
    ("docs_3", "current", 3, 120), ("docs_4", "", 4, 130),
    ("docs_5", "stale", 5, 0), ("docs_6", "", 6, 140),
    ("docs_7", "", 7, 150), ("docs_8", "", 8, 160),
    ("docs_9", "", 9, 170), ("docs_10", "", 10, 180),
    ("other_1", "", 5, 999),
]
GATE_ROWS: list[tuple[int, int | None, int]] = [
    (0, None, 100),   # no previous aliased index -> create
    (1, 100, 100),    # ratio 1.0 -> switch
    (2, 100, 96),     # ratio 0.96 -> switch (just above min)
    (3, 100, 95),     # ratio 0.95 -> reject (gate is strict >)
    (4, 100, 125),    # ratio 1.25 -> switch (gate is <=)
    (5, 100, 126),    # ratio 1.26 -> reject
    (6, 100, 0),      # empty new index -> reject
]


def _spread(df: DataFrame) -> DataFrame:
    """Restore scan parallelism for tiny test inputs: the driver's sf tables
    are single-row-group parquet files (one scan task no matter the split
    config — Spark cannot split below a row group), which would run every
    CPU-heavy operator (shingling, minhash, quality metrics) effectively
    single-threaded.  A production table has thousands of splits, so the
    repartition is applied only when the scan has fewer partitions than
    cores; the exchange ships the (tiny) test table once."""
    p = df.sparkSession.sparkContext.defaultParallelism
    # metadata-only check: a df.rdd.getNumPartitions probe forces an
    # RDD conversion per query (a fixed driver cost); the file count is
    # listed from the catalog and bounds scan parallelism from below —
    # with >= cores files the scan parallelizes on its own, and row-group
    # splitting can only add partitions.
    return df.repartition(p) if len(df.inputFiles()) < p else df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")))


def _catalog_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        CATALOG_ROWS,
        "generation string, aliases string, creation_time long, doc_count long")


def _catalog_values() -> str:
    rows = ", ".join(f"('{g}', '{a}', {c}, {d})" for g, a, c, d in CATALOG_ROWS)
    return (f"(VALUES {rows}) "
            "AS cat(generation, aliases, creation_time, doc_count)")


def _queryset_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(QUERY_SET, "query_id long, term string")


def _queryset_values() -> str:
    rows = ", ".join(f"({q}, '{t}')" for q, t in QUERY_SET)
    return f"(VALUES {rows}) AS qs(query_id, term)"


# ---------------------------------------------------------------------------
# engine-path generation cache (build once per sf_dir per process)
# ---------------------------------------------------------------------------

_GEN_CACHE: dict[str, str] = {}
# store_positions: the contract generation carries the positional index so
# engine_phrase runs the index-native path (round 5) — every other engine
# row is positions-agnostic (pinned by test_positions.py BM25 parity)
_ENGINE_CFG = IndexConfig(num_shards=8, block_size=64, store_positions=True)


def corpus_shaped(docs: DataFrame) -> DataFrame:
    """Adapt the driver's `documents` table to the engine's Iceberg corpus
    shape (repo, path, commit, lang, content) per BASELINE input_hint.
    `path` encodes the original doc_id so results map back deterministically."""
    return docs.select(
        F.col("source").alias("repo"),
        F.format_string("doc/%012d.txt", F.col("doc_id")).alias("path"),
        F.sha2(F.col("text"), 256).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"))


def _generation_for(spark: SparkSession, sf_dir: str) -> str:
    gen = _GEN_CACHE.get(sf_dir)
    if gen and os.path.exists(os.path.join(gen, "stats.json")):
        return gen
    # the tag hashes the build config and postings format too: a config
    # change (e.g. the round-5 store_positions flip) or a new postings
    # layout must invalidate generations cached in tempdir by earlier
    # processes, not silently reuse them
    tag = hashlib.md5(
        f"{sf_dir}|{_ENGINE_CFG.to_json()}|{POSTINGS_FORMAT}".encode()
    ).hexdigest()[:8]
    gen = os.path.join(tempfile.gettempdir(), f"ei4s_gen_{tag}")
    if not os.path.exists(os.path.join(gen, "stats.json")):
        res = build_index(spark, corpus_shaped(_docs(spark, sf_dir)),
                          _ENGINE_CFG, gen)
        assert isinstance(res, RunResult), str(res)
    _GEN_CACHE[sf_dir] = gen
    return gen


def _orig_id_from_path() -> F.Column:
    return F.regexp_extract("path", r"doc/(\d+)\.txt", 1).cast("long")


# --- multi-field generation (content + repo fields, SURVEY §2 ext) ---------

_MF_CACHE: dict[str, str] = {}
_MF_CFG = IndexConfig(num_shards=8, block_size=64)
#: boosted multi_match fixture: the full-text field plus the repo name as
#: an independently-analyzed field (reference TestObjects.scala:36-43 maps
#: `name` as text+keyword); "src13" only ever matches the repo field
MULTI_BOOSTS = {"content": 1.0, "repo": 2.5}
MULTI_TERMS = ["spark", "join", "src13"]


def _mf_generation_for(spark: SparkSession, sf_dir: str) -> str:
    from .operators.multifield import (FieldSpec, build_multifield_index,
                                       field_dir)

    base = _MF_CACHE.get(sf_dir)
    if base and os.path.exists(os.path.join(base, "fields.json")):
        return base
    tag = hashlib.md5(
        f"{sf_dir}|{_MF_CFG.to_json()}|{POSTINGS_FORMAT}|mf".encode()
    ).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"ei4s_mf_{tag}")
    done = all(os.path.exists(os.path.join(field_dir(base, f), "stats.json"))
               for f in MULTI_BOOSTS) and \
        os.path.exists(os.path.join(base, "fields.json"))
    if not done:
        res = build_multifield_index(
            spark, corpus_shaped(_docs(spark, sf_dir)), _MF_CFG, base,
            {"content": FieldSpec("content"), "repo": FieldSpec("repo")})
        for name, r in res.items():
            assert isinstance(r, RunResult), f"{name}: {r}"
    _MF_CACHE[sf_dir] = base
    return base


# ---------------------------------------------------------------------------
# queries — core full-text engine (SURVEY §2 B1-B8, A8)
# ---------------------------------------------------------------------------

def q_count_match_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).agg(F.count(F.lit(1)).alias("num_docs"))


def q_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = simple_tokens_expr(F.col("text"))
    return d.select("doc_id", F.size(toks).cast("long").alias("dl"),
                    F.sha2(F.col("text"), 256).alias("sha256"))


def q_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (d.select("doc_id",
                     F.explode(simple_tokens_expr(F.col("text"))).alias("term"))
            .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))


def q_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (q_term_frequencies(spark, sf_dir)
            .groupBy("term").agg(F.count(F.lit(1)).alias("df")))


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    dl = F.size(simple_tokens_expr(F.col("text"))).cast("long")
    return d.select(dl.alias("dl")).agg(
        F.count(F.lit(1)).alias("num_docs"),
        F.round(F.avg("dl"), 6).alias("avg_dl"))


def q_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    n = d.count()
    return (q_doc_freq(spark, sf_dir)
            .select("term", "df",
                    F.round(F.log(
                        1.0 + (F.lit(float(n)) - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)), 6).alias("idf")))


_BM25_PERSISTED: list[DataFrame] = []


def _bm25_scores(spark: SparkSession, sf_dir: str,
                 queries: DataFrame) -> DataFrame:
    """(query_id, doc_id, score): BM25 over the simple tokenizer, all
    matching docs.  Shared by the top-k variants."""
    # the previous invocation's cached frames were fully consumed when its
    # result was collected — release them before pinning new ones (the
    # contract driver runs queries sequentially; without this the executor
    # storage slowly fills with dead tokenized corpora)
    while _BM25_PERSISTED:
        _BM25_PERSISTED.pop().unpersist()
    # tf feeds both the df aggregate and the scoring join, dl feeds avg_dl
    # and the join — persist so the corpus is tokenized once, not three times.
    tf = q_term_frequencies(spark, sf_dir).persist()
    dl = q_doclen(spark, sf_dir).select("doc_id", "dl").persist()
    _BM25_PERSISTED.extend([tf, dl])
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # one metadata job: doc count and avg_dl from the same cached frame
    stats_row = dl.agg(F.count(F.lit(1)).alias("n"),
                       F.avg("dl").alias("a")).collect()[0]
    n_docs = int(stats_row["n"])
    avg_dl = float(stats_row["a"] or 0.0)
    idf = F.log(1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    contrib = (idf * F.col("tf") * (K1 + 1.0)
               / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.lit(avg_dl))))
    return (
        tf.join(F.broadcast(queries), "term")
        .join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .select("query_id", "doc_id", contrib.alias("_c"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("_c"), 6).alias("score"))
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qdf = spark.createDataFrame(
        [(0, t) for t in FLAGSHIP_TERMS], "query_id long, term string")
    scores = _bm25_scores(spark, sf_dir, qdf)
    return (scores.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(10).select("doc_id", "score"))


def q_bm25_queryset(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = _bm25_scores(spark, sf_dir, _queryset_df(spark))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (scores.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 10)
            .select("query_id", "rank", "doc_id", "score"))


def q_postings_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = q_term_frequencies(spark, sf_dir)
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list("doc_id")),
                        lambda x: x.cast("string")), ",").alias("doc_ids"))


def q_doc_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        (md5_long(F.col("doc_id").cast("string")) % 8).alias("shard"))


# ---------------------------------------------------------------------------
# queries — engine path (real index build: postings codec, shards, WAND)
# ---------------------------------------------------------------------------

def q_engine_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    gen = _generation_for(spark, sf_dir)
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    return doclen.select(_orig_id_from_path().alias("doc_id"),
                         F.col("dl").cast("long").alias("dl"), "sha256")


def q_engine_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    gen = _generation_for(spark, sf_dir)
    n = count_index(spark, gen)
    return spark.createDataFrame([(n,)], "num_docs long")


def q_engine_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine path — blocked-varint postings + shard scatter-gather —
    returning ALL matching docs' scores keyed by the original doc_id (set
    semantics: no k-boundary, so cross-engine rank jitter cannot bite)."""
    gen = _generation_for(spark, sf_dir)
    res = engine_topk(spark, gen, FLAGSHIP_TERMS, k=1_000_000, wand=False)
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    ids = doclen.select(F.col("doc_id"), _orig_id_from_path().alias("orig_id"))
    return (res.join(ids, "doc_id")
            .select(F.col("orig_id").alias("doc_id"),
                    F.round("score", 6).alias("score")))


def q_engine_bm25_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive match (ES `match` with operator=and): only docs containing
    EVERY query term, full engine path, set semantics (value-checked)."""
    gen = _generation_for(spark, sf_dir)
    res = engine_topk(spark, gen, FLAGSHIP_TERMS, k=1_000_000,
                      wand=False, mode="and")
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    ids = doclen.select(F.col("doc_id"), _orig_id_from_path().alias("orig_id"))
    return (res.join(ids, "doc_id")
            .select(F.col("orig_id").alias("doc_id"),
                    F.round("score", 6).alias("score")))


def q_engine_bm25_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max WAND top-10, hash-verified against the DuckDB BM25 oracle.

    WAND's internal heap tie-breaks on the engine's dense doc_id while the
    oracle tie-breaks on the original id, so the engine fetches a deep
    margin (k=100 raw) and the final top-10 is re-selected on the oracle's
    exact key (rounded score desc, original doc_id asc) — identical sets
    unless >90 raw-score ties straddle the boundary, which the value hash
    would catch."""
    gen = _generation_for(spark, sf_dir)
    res = engine_topk(spark, gen, FLAGSHIP_TERMS, k=100, wand="force")
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    ids = doclen.select(F.col("doc_id"), _orig_id_from_path().alias("orig_id"))
    return (res.join(ids, "doc_id")
            .select(F.col("orig_id").alias("doc_id"),
                    F.round("score", 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(10))


def q_engine_bm25_wand_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAND worst case: three stopword-grade terms (df ~0.8N each) under
    conjunctive (AND) mode at k=50 — the p99-defining query shape (block-max
    upper bounds barely prune when every posting list covers most of the
    corpus, so this exercises full frontier advancement + the require_all
    gate).  Same deep-margin re-selection discipline as q_engine_bm25_wand."""
    gen = _generation_for(spark, sf_dir)
    res = engine_topk(spark, gen, WORST_TERMS, k=200, wand="force",
                      mode="and")
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    ids = doclen.select(F.col("doc_id"), _orig_id_from_path().alias("orig_id"))
    return (res.join(ids, "doc_id")
            .select(F.col("orig_id").alias("doc_id"),
                    F.round("score", 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(50))


def q_engine_bm25_queryset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole reference query set through the engine index in ONE Spark
    action (operators.query.topk_batch): one postings scan filtered on the
    union of all query terms, one dictionary broadcast, per-shard scoring
    of every query, one per-query window.  Top-10 per query re-selected on
    the oracle's exact key (rounded score desc, original doc_id asc) from
    a deep raw margin, like the single-query WAND row."""
    gen = _generation_for(spark, sf_dir)
    qmap: dict[int, list[str]] = {}
    for qid, term in QUERY_SET:
        qmap.setdefault(qid, []).append(term)
    res = engine_topk_batch(spark, gen, qmap, k=100, wand=True)
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    ids = doclen.select(F.col("doc_id"), _orig_id_from_path().alias("orig_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 6).desc(), F.col("orig_id").asc())
    return (res.join(ids, "doc_id")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    F.col("orig_id").alias("doc_id"),
                    F.round("score", 6).alias("score")))


def q_engine_topk_hydrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with the source document attached (VERDICT r3 missing #1): a
    search user wants (repo, path, lang), not a bare id — the reference's
    ES search API returns `_source` documents
    (`ElasticIndexer4sSpec.scala` round-trips full documents).  The engine
    fetches a deep margin and the final top-10 is re-selected on the
    oracle's exact key (rounded score desc, ORIGINAL doc_id asc), same
    discipline as q_engine_bm25_wand."""
    from .operators.query import topk_hydrated

    gen = _generation_for(spark, sf_dir)
    res = topk_hydrated(spark, gen, FLAGSHIP_TERMS, k=100, wand=True)
    w = Window.orderBy(F.round("score", 6).desc(), F.col("orig_id").asc())
    return (res.withColumn("orig_id", _orig_id_from_path())
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 10)
            .select("rank", F.col("orig_id").alias("doc_id"),
                    "repo", "path", "lang", F.round("score", 6).alias("score")))


#: contract phrase — adjacent in ~10% of docs under the code tokenizer,
#: while BOTH terms appear (non-adjacent) in most docs: the phrase filter
#: does real work on top of the AND prune
PHRASE = ["customer", "join"]


def q_engine_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_phrase analog (operators.query.phrase_topk), INDEX-NATIVE
    since round 5: the generation stores positional postings, so adjacency
    verifies from decoded ``pos_blob`` streams and the source table is
    never touched (the plan is postings-scan-only).  Deep
    margin + re-selection on the oracle key, like the other engine rows."""
    from .operators.query import phrase_topk

    gen = _generation_for(spark, sf_dir)
    res = phrase_topk(spark, gen, PHRASE, k=100)
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    ids = doclen.select(F.col("doc_id"), _orig_id_from_path().alias("orig_id"))
    return (res.join(ids, "doc_id")
            .select(F.col("orig_id").alias("doc_id"),
                    F.round("score", 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(10))


#: ordered-proximity slop for the engine_phrase_slop row: "customer ...
#: join" within 1+2 positions — strictly more docs than the exact phrase
PHRASE_SLOP = 2


def q_engine_phrase_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity phrase (ordered slop — operators.query.phrase_topk
    slop=N): consecutive phrase tokens within 1+slop positions, verified
    from the positional index.  Same deep-margin re-selection as
    engine_phrase."""
    from .operators.query import phrase_topk

    gen = _generation_for(spark, sf_dir)
    res = phrase_topk(spark, gen, PHRASE, k=100, slop=PHRASE_SLOP)
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    ids = doclen.select(F.col("doc_id"), _orig_id_from_path().alias("orig_id"))
    return (res.join(ids, "doc_id")
            .select(F.col("orig_id").alias("doc_id"),
                    F.round("score", 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(10))


def q_engine_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES highlight analog (operators.query.highlight_topk): top-k BM25
    plus each matched term's 0-based token positions per document,
    straight from the positional index (no source read).  Deep margin +
    re-selection of the top-10 DOCS on the oracle key; the (doc, term)
    position rows of the winners all survive."""
    from .operators.query import highlight_topk

    gen = _generation_for(spark, sf_dir)
    res = highlight_topk(spark, gen, FLAGSHIP_TERMS, k=100, wand=False)
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    ids = doclen.select(F.col("doc_id"), _orig_id_from_path().alias("orig_id"))
    r = res.join(ids, "doc_id")
    docs = r.select("orig_id", F.round("score", 6).alias("_s")).distinct()
    w = Window.orderBy(F.col("_s").desc(), F.col("orig_id").asc())
    top = (docs.withColumn("_rk", F.row_number().over(w))
           .filter(F.col("_rk") <= 10).select("orig_id"))
    return (r.join(top, "orig_id")
            .select(F.col("orig_id").alias("doc_id"),
                    F.round("score", 6).alias("score"), "term", "positions"))


def q_engine_phrase_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-tier phrase (LocalSearcher.search_phrase): pyarrow artifact
    read + the same positional ``_shard_phrase`` kernel as the Spark path,
    no Spark job — hash-verified against the identical DuckDB oracle."""
    from .serving import LocalSearcher

    gen = _generation_for(spark, sf_dir)
    hits = LocalSearcher(gen).search_phrase(PHRASE, k=100)
    res = spark.createDataFrame(hits, "doc_id long, score double")
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    ids = doclen.select(F.col("doc_id"), _orig_id_from_path().alias("orig_id"))
    return (res.join(ids, "doc_id")
            .select(F.col("orig_id").alias("doc_id"),
                    F.round("score", 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(10))


#: bool-query fixture: must=join filters AND scores, should terms only
#: boost, must_not=customer excludes — the canonical ES bool shape
BOOL_MUST, BOOL_SHOULD, BOOL_NOT = ["join"], ["spark", "window"], ["customer"]


def q_engine_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bool-query analog (operators.query.bool_topk): conjunctive must
    + boosting should + excluding must_not over the real index, one shard
    scatter-gather.  Deep margin + re-selection on the oracle key."""
    from .operators.query import bool_topk

    gen = _generation_for(spark, sf_dir)
    res = bool_topk(spark, gen, must=BOOL_MUST, should=BOOL_SHOULD,
                    must_not=BOOL_NOT, k=100)
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    ids = doclen.select(F.col("doc_id"), _orig_id_from_path().alias("orig_id"))
    return (res.join(ids, "doc_id")
            .select(F.col("orig_id").alias("doc_id"),
                    F.round("score", 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(10))


#: prefix fixture: 's' matches 6 corpus terms (scan slow small sort spark
#: stream) so max_expansions=5 actually FIRES the cap; fuzzy fixture is a
#: transposition typo of 'join'
PREFIX_Q, PREFIX_CAP = "s", 5
FUZZY_Q, FUZZY_EDIT = "jion", 2


def q_engine_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES prefix-query analog (operators.query.prefix_topk): dictionary
    expansion (alphabetical, capped — the cap fires on this fixture) +
    BM25 disjunction over the expanded terms.  Deep margin + re-selection
    on the oracle key."""
    from .operators.query import prefix_topk

    gen = _generation_for(spark, sf_dir)
    res = prefix_topk(spark, gen, PREFIX_Q, k=100,
                      max_expansions=PREFIX_CAP)
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    ids = doclen.select(F.col("doc_id"), _orig_id_from_path().alias("orig_id"))
    return (res.join(ids, "doc_id")
            .select(F.col("orig_id").alias("doc_id"),
                    F.round("score", 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(10))


def q_engine_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES fuzzy-query analog (operators.query.fuzzy_topk): Levenshtein
    dictionary expansion + BM25 disjunction — typo tolerance from the
    index artifact alone."""
    from .operators.query import fuzzy_topk

    gen = _generation_for(spark, sf_dir)
    res = fuzzy_topk(spark, gen, FUZZY_Q, k=100, max_edit=FUZZY_EDIT)
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    ids = doclen.select(F.col("doc_id"), _orig_id_from_path().alias("orig_id"))
    return (res.join(ids, "doc_id")
            .select(F.col("orig_id").alias("doc_id"),
                    F.round("score", 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(10))


def q_engine_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms-aggregation analog (operators.query.facet_counts): per-lang
    doc counts over the flagship query's full match set — the canonical
    search+aggregations request.  Counts are exact integers, so the row
    hash-verifies with no float discipline at all."""
    from .operators.query import facet_counts

    gen = _generation_for(spark, sf_dir)
    return facet_counts(spark, gen, FLAGSHIP_TERMS, "lang", k_facets=10)


def q_multi_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boosted multi-field search (ES multi_match most_fields): two real
    per-field index generations (content + repo, each its own postings/
    dictionary/doclen), per-field BM25 with the field's analyzer, combined
    as sum(boost_f * score_f) in exact DECIMAL arithmetic.  Deep margin +
    re-selection on (score desc, ORIGINAL doc_id asc), like the other
    engine rows — the combined score itself is cross-engine exact."""
    from .operators.multifield import field_dir, multi_match_topk

    base = _mf_generation_for(spark, sf_dir)
    res = multi_match_topk(spark, base, MULTI_TERMS, MULTI_BOOSTS, k=100)
    doclen = spark.read.parquet(
        os.path.join(field_dir(base, "content"), "doclen"))
    ids = doclen.select(F.col("doc_id"), _orig_id_from_path().alias("orig_id"))
    return (res.join(ids, "doc_id")
            .select(F.col("orig_id").alias("doc_id"), "score")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(10))


def q_engine_bm25_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-tier path (serving.LocalSearcher: pyarrow direct read of the
    index artifact, NO Spark job) — must be value-identical to the DuckDB
    BM25 oracle, like the Spark scatter-gather path.  Set semantics (k big
    enough to return every match)."""
    from .serving import LocalSearcher

    gen = _generation_for(spark, sf_dir)
    hits = LocalSearcher(gen).search(FLAGSHIP_TERMS, k=1_000_000)
    res = spark.createDataFrame(hits, "doc_id long, score double")
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    ids = doclen.select(F.col("doc_id"), _orig_id_from_path().alias("orig_id"))
    return (res.join(ids, "doc_id")
            .select(F.col("orig_id").alias("doc_id"),
                    F.round("score", 6).alias("score")))


# ---------------------------------------------------------------------------
# queries — lifecycle (A9-A14) over the literal catalog fixture
# ---------------------------------------------------------------------------

def q_lifecycle_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GC victim list (reference IndexDeletion.scala:11-25): prefix-scoped,
    never the new index, keep newest 2, alias-protected."""
    cat = _catalog_df(spark)
    keep, new_index, prefix = 2, "docs_10", "docs"
    w = Window.orderBy(F.col("creation_time").desc(), F.col("generation"))
    scoped = (cat.filter(F.col("generation").startswith(prefix))
              .filter(F.col("generation") != new_index)
              .withColumn("_rk", F.row_number().over(w)))
    return (scoped.filter(F.col("_rk") > keep)
            .filter(F.length("aliases") == 0)
            .select("generation", "creation_time"))


def q_lifecycle_alias_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-gated publish decisions (AliasSwitching.scala:37-54):
    switch iff minT < new/old <= maxT; create when no aliased predecessor."""
    rows = [(c, o, n) for c, o, n in GATE_ROWS]
    g = spark.createDataFrame(
        rows, "case_id long, old_count long, new_count long")
    ratio = F.col("new_count").cast("double") / F.col("old_count").cast("double")
    decision = (
        F.when(F.col("old_count").isNull(), F.lit("create"))
        .when((ratio > 0.95) & (ratio <= 1.25), F.lit("switch"))
        .otherwise(F.lit("reject")))
    return g.select("case_id", decision.alias("decision"))


def q_catalog_indices_by_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias-filtered, age-ordered catalog scan (EsOpsClientApi.scala:25-28)."""
    cat = _catalog_df(spark)
    w = Window.orderBy(F.col("creation_time").asc(), F.col("generation"))
    return (cat.filter(F.col("aliases") != "")
            .withColumn("age_rank", F.row_number().over(w).cast("long"))
            .select("generation", "creation_time", "age_rank"))


# ---------------------------------------------------------------------------
# queries — dedup / similarity / text analysis / multimodal / events
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.8)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), num_hashes=16,
                                   bands=4, min_est_sim=0.5)


# Guard-firing corpora (VERDICT r3 #1): the skew guards' at-scale code path
# must be hash-verified on inputs that actually TRIP the caps — pruned hot
# shingles / dropped over-cap buckets — with the oracle applying the
# identical pruning rule.  Both corpora derive deterministically from the
# driver's documents table on BOTH engines.

#: appended to EVERY document -> its interior 3-gram shingles have df = N,
#: far above the guarded row's max_shingle_df=40 (N >= 50 at every sf)
NGRAM_BOILER = ("zqguard alpha shared trailer tokens appear verbatim "
                "in every single document")

#: replaces the text of every even doc_id -> N/2 identical signatures land
#: in the same bucket in ALL bands, above the guarded row's
#: max_bucket_size=20 (N/2 >= 25 at every sf)
MINHASH_BOILER = ("zqsame boilerplate body repeated verbatim across half "
                  "the corpus to overflow one lsh bucket")


def _ngram_guarded_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", F.concat(F.col("text"),
                                       F.lit(" " + NGRAM_BOILER)).alias("text"))


def _minhash_guarded_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit(MINHASH_BOILER))
        .otherwise(F.col("text")).alias("text"))


def q_dedup_ngram_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngram Jaccard with the hot-shingle guard FIRING: every boilerplate
    shingle has df = N > 40 and is pruned before the pair join; sizes and
    Jaccard are computed post-prune on both engines (the documented guard
    semantics, now value-checked instead of only exercised)."""
    return dedup.ngram_jaccard_pairs(_ngram_guarded_docs(spark, sf_dir),
                                     threshold=0.8, max_shingle_df=40)


def q_dedup_minhash_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH with the bucket cap FIRING: the N/2 identical docs
    share one over-cap bucket per band, so their pairs are dropped; pairs
    among the untouched docs survive through their own buckets."""
    return dedup.minhash_lsh_pairs(_minhash_guarded_docs(spark, sf_dir),
                                   num_hashes=16, bands=4, min_est_sim=0.5,
                                   max_bucket_size=20)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_docs(spark, sf_dir), bits=16)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_dup_pairs(_emb(spark, sf_dir), threshold=0.35)


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented scale path for embedding near-dup: the blocking column
    is an LSH bucket (similarity.lsh_buckets) instead of a curated label —
    the pair join shuffles on the bucket key only.  Hash-verified so the
    'at scale the block is an LSH bucket' claim is value-checked, not
    prose."""
    emb = _emb(spark, sf_dir)
    vb = similarity.lsh_buckets(emb, n_planes=4, dim=64)
    return dedup.embedding_dup_pairs(vb, block_col="bucket", threshold=0.35)


def q_ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = similarity.brute_force_topk(emb, q, k=10)
    return out.select("query_id", F.col("rank").cast("long").alias("rank"),
                      "vec_id", "cosine")


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return (similarity.lsh_buckets(emb, n_planes=4, dim=64)
            .select("vec_id", "bucket"))


def q_ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return (similarity.ivf_assign(emb, n_centroids=8, dim=64)
            .select("vec_id", F.col("cell").cast("long").alias("cell")))


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN serving path: score only the query's own LSH bucket,
    partial per-partition prune, exact-score ranking (lossless vs the
    oracle's full in-bucket ranking)."""
    emb = _emb(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = similarity.lsh_topk(emb, q, k=10, n_planes=4, dim=64)
    return out.select("query_id", F.col("rank").cast("long").alias("rank"),
                      "vec_id", "cosine")


def q_ann_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table (OR-amplified) LSH top-k — the recall fix for the
    single-table row (VERDICT r3 #2): 4 independent plane sets, candidate
    union, each candidate scored once."""
    emb = _emb(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = similarity.lsh_topk(emb, q, k=10, n_planes=4, dim=64, n_tables=4)
    return out.select("query_id", F.col("rank").cast("long").alias("rank"),
                      "vec_id", "cosine")


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = similarity.ivf_topk(emb, q, k=10, n_centroids=8, n_probe=2, dim=64)
    return out.select("query_id", F.col("rank").cast("long").alias("rank"),
                      "vec_id", "cosine")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.language_id(_docs(spark, sf_dir))


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_metrics(_docs(spark, sf_dir))


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.repetition_metrics(_docs(spark, sf_dir))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(_docs(spark, sf_dir))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint(_docs(spark, sf_dir))


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.attach_payload(_docs(spark, sf_dir))
    return multimodal.payload_meta(media)


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (stub byte-slice decode) — the slicing itself is
    SQL-expressible, so the distributed mapInPandas path is hash-verified
    against a DuckDB substring oracle; frames compare via md5."""
    media = multimodal.attach_payload(_docs(spark, sf_dir), kind="video")
    frames = multimodal.frame_sample(media, n_frames=4)
    # frames compare in the hex domain (DuckDB cannot slice BLOBs): the
    # md5 of the frame's hex encoding is computable on both sides
    return frames.select(
        "id", F.col("frame_idx").cast("long").alias("frame_idx"),
        "n_bytes", F.md5(F.hex(F.col("frame"))).alias("frame_md5"))


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode/feature plumbing (stubbed codec), hash-verified:
    the fake decode is integer arithmetic on the first 8 payload bytes and
    the min/max feature components are exact byte values, so a DuckDB twin
    computes them from hex(encode(text)) (HUGEINT hex parse).  The mean/std
    feature components stay pytest-only — their multi-thousand-element float
    summation order is engine-specific and a 6-dp round cannot mask it."""
    media = multimodal.attach_payload(_docs(spark, sf_dir))
    feats = multimodal.extract_features(media)
    return feats.select(
        "id", F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.element_at("feature", 3).alias("f_min"),
        F.element_at("feature", 4).alias("f_max"))


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub resize (deterministic stride subsample to width*height bytes) —
    pure byte selection, so the whole mapInPandas path is hash-verified in
    the hex domain like multimodal_frames."""
    media = multimodal.attach_payload(_docs(spark, sf_dir))
    out = multimodal.resize_stub(media, 16, 8)        # target 128 bytes
    return out.select(
        "id", F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5(F.hex(F.col("payload"))).alias("payload_md5"))


def q_events_minutely(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sums go through DECIMAL so both engines accumulate exactly (double
    # summation order differs between engines; decimal addition does not).
    # minute is a wall-clock string: TIMESTAMP_NTZ + unknown driver session
    # timezone makes epoch-based keys non-portable.
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd HH:mm").alias("minute"),
        "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(28,6)"))
             .cast("double").alias("sum_value")))


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gaps in exact integer microseconds (unix_micros/epoch_us) — fractional
    # epoch seconds truncate differently across engines.
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = ev.withColumn("_prev", F.lag("ts", 1).over(w))
    gap = F.expr("timestampdiff(MICROSECOND, _prev, ts)")
    new_sess = F.when(gap.isNull() | (gap > 600 * 1_000_000), 1).otherwise(0)
    return (ev.withColumn("_ns", new_sess)
            .groupBy("user_id")
            .agg(F.sum("_ns").cast("long").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # money sums accumulate in DECIMAL (exact, order-independent) so Spark and
    # DuckDB agree bit-for-bit; quantities are integer-valued doubles (exact).
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    dec = lambda c: c.cast("decimal(28,6)")  # noqa: E731
    return (li.filter(F.col("l_shipdate")
                      <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
                 F.sum(dec(F.col("l_extendedprice")))
                 .cast("double").alias("sum_base_price"),
                 F.sum(dec(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))))
                 .cast("double").alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count(F.lit(1)).alias("count_order")))


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    rev = (o.groupBy("o_custkey")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
                .cast("double").alias("revenue"),
                F.count(F.lit(1)).alias("n_orders")))
    return (rev.join(F.broadcast(c),
                     rev["o_custkey"] == c["c_custkey"])
            .select(F.col("c_custkey").cast("long").alias("c_custkey"),
                    "c_name", "revenue", "n_orders")
            .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
            .limit(10))


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB) — exact twins of the queries above
# ---------------------------------------------------------------------------

def _flagship_values() -> str:
    rows = ", ".join(f"(0, '{t}')" for t in FLAGSHIP_TERMS)
    return f"(VALUES {rows}) AS qs(query_id, term)"


def _bm25_sql(queryset_values: str, tok: str) -> str:
    """Shared BM25 CTE chain -> relation `agg(query_id, doc_id, score)`.

    Arithmetic is written in the exact shape the Spark/engine code evaluates
    (left-associative, same constant folding: (1.2 + 1.0), (1.0 - 0.75 + ...))
    so both engines perform the identical IEEE op sequence per row.
    """
    return f"""
toks AS (SELECT doc_id, {tok} AS toks FROM documents),
tf AS (
  SELECT doc_id, tok AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM toks) GROUP BY doc_id, tok
),
dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM toks),
stats AS (SELECT count(*)::BIGINT AS n, avg(len(toks)) AS avg_dl FROM toks),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qs AS (SELECT * FROM {queryset_values}),
scored AS (
  SELECT qs.query_id, tf.doc_id,
         ln(1.0 + (stats.n - dft.df + 0.5) / (dft.df + 0.5))
           * tf.tf * (1.2 + 1.0)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avg_dl)) AS c
  FROM tf JOIN qs USING (term) JOIN dft USING (term)
       JOIN dl ON tf.doc_id = dl.doc_id, stats
),
agg AS (SELECT query_id, doc_id, round(sum(c), 6) AS score
        FROM scored GROUP BY query_id, doc_id)"""


def _bm25_field_sql(p: str, tok: str, queryset_values: str) -> str:
    """Prefixed BM25 CTE chain (→ relation ``{p}agg(doc_id, score)``) so
    several fields' chains can coexist in one WITH clause — same exact
    left-assoc arithmetic shape as :func:`_bm25_sql`."""
    return f"""
{p}toks AS (SELECT doc_id, {tok} AS toks FROM documents),
{p}tf AS (
  SELECT doc_id, tok AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM {p}toks)
  GROUP BY doc_id, tok
),
{p}dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM {p}toks),
{p}stats AS (SELECT count(*)::BIGINT AS n, avg(len(toks)) AS avg_dl
             FROM {p}toks),
{p}dft AS (SELECT term, count(*) AS df FROM {p}tf GROUP BY term),
{p}qs AS (SELECT * FROM {queryset_values}),
{p}scored AS (
  SELECT {p}qs.query_id, {p}tf.doc_id,
         ln(1.0 + ({p}stats.n - {p}dft.df + 0.5) / ({p}dft.df + 0.5))
           * {p}tf.tf * (1.2 + 1.0)
           / ({p}tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * {p}dl.dl
              / {p}stats.avg_dl)) AS c
  FROM {p}tf JOIN {p}qs USING (term) JOIN {p}dft USING (term)
       JOIN {p}dl ON {p}tf.doc_id = {p}dl.doc_id, {p}stats
),
{p}agg AS (SELECT query_id, doc_id, round(sum(c), 6) AS score
           FROM {p}scored GROUP BY query_id, doc_id)"""


def _ivf_sql_parts(n_centroids: int = 8, dim: int = 64,
                   vec: str = "v") -> tuple[str, str, str]:
    """(score defs, argmax expr, per-cell score CASE) — DuckDB twins of
    similarity._cell_scores/_argmax_expr, identical literal constants,
    left-assoc fp op order and first-occurrence argmax tie-break."""
    import math

    from .operators.similarity import centroid_component

    defs = []
    for c in range(n_centroids):
        comps = [centroid_component(c, d) for d in range(dim)]
        inv = 1.0 / math.sqrt(sum(x * x for x in comps))
        terms = " + ".join(
            f"({vec}[{d + 1}] * {comps[d]!r})" for d in range(dim))
        defs.append(f"(0.0 + {terms}) * {inv!r} AS s{c}")
    lv = "list_value(" + ", ".join(f"s{c}" for c in range(n_centroids)) + ")"
    argmax = f"(list_position({lv}, list_max({lv})) - 1)"
    by_cell = "CASE cs.cell " + " ".join(
        f"WHEN {c} THEN s{c}" for c in range(n_centroids)) + " END"
    return ", ".join(defs), argmax, by_cell


def _plane_const(p: int, d: int) -> float:
    h = int(hashlib.md5(f"plane:{p},{d}".encode()).hexdigest()[:15], 16)
    return ((h % 2001) - 1000) / 1000.0


def _lsh_bucket_sql(n_planes: int = 4, dim: int = 64) -> str:
    """bucket expression over `v` (DOUBLE[]) — same left-assoc fp op chain as
    similarity.lsh_buckets; plane constants are the identical md5-derived
    doubles, embedded via repr (exact round-trip)."""
    dots = []
    for p in range(n_planes):
        terms = " + ".join(
            f"(v[{d + 1}] * {_plane_const(p, d)!r})" for d in range(dim))
        dots.append(f"0.0 + {terms} AS dot{p}")
    bucket = " + ".join(
        f"(CASE WHEN dot{p} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes))
    return (", ".join(dots), f"cast(0 + {bucket} AS BIGINT)")


def _lsh_multi_sql(n_planes: int, n_tables: int,
                   dim: int) -> tuple[str, list[str]]:
    """(dot defs, per-table bucket exprs) — DuckDB twin of
    similarity.lsh_buckets_multi: table t uses planes t*n_planes.. of the
    SAME deterministic family (table 0 == the single-table bucket)."""
    dots = []
    for p in range(n_planes * n_tables):
        terms = " + ".join(
            f"(v[{d + 1}] * {_plane_const(p, d)!r})" for d in range(dim))
        dots.append(f"0.0 + {terms} AS dot{p}")
    buckets = []
    for t in range(n_tables):
        b = " + ".join(
            f"(CASE WHEN dot{t * n_planes + p} > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes))
        buckets.append(f"cast(0 + {b} AS BIGINT)")
    return ", ".join(dots), buckets


_COS = ("list_dot_product({a}, {b}) / nullif(sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b})), 0.0)")


def _pair_cos_chain(a: str, b: str, dim: int) -> str:
    """Explicit left-assoc pair-cosine chain over two DOUBLE[] columns —
    bit-identical fp order to veckernel.cosine_rows (dot, |a|^2, |b|^2 each
    accumulate d=1..dim left-assoc from 0.0; cos = dot/(sqrt*sqrt)).  Used
    where the oracle must RANK by the exact score (topk queries) so that
    Spark's per-partition partial prune is provably lossless."""
    dot = " + ".join(f"({a}[{i}] * {b}[{i}])" for i in range(1, dim + 1))
    na = " + ".join(f"({a}[{i}] * {a}[{i}])" for i in range(1, dim + 1))
    nb = " + ".join(f"({b}[{i}] * {b}[{i}])" for i in range(1, dim + 1))
    return (f"((0.0 + {dot}) / nullif(sqrt(0.0 + {na}) * "
            f"sqrt(0.0 + {nb}), 0.0))")

_MARKER_VALUES = ", ".join(f"('{l}', '{t}')" for l, t in __import__(
    "elastic_indexer4s_spark.operators.textstats",
    fromlist=["LANG_MARKERS"]).LANG_MARKERS)

_STOPWORD_LIST = ", ".join(f"'{w}'" for w in __import__(
    "elastic_indexer4s_spark.operators.textstats",
    fromlist=["EN_STOPWORDS"]).EN_STOPWORDS)


def _ngram_cte_for(src: str) -> str:
    """Distinct word-3-gram shingles per doc over relation ``src`` —
    DuckDB twin of dedup.doc_shingles."""
    return f"""
toks AS (SELECT doc_id, {TOK} AS toks FROM {src}),
pos AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
        FROM toks),
gr AS (SELECT doc_id,
              tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                AS ngram,
              lead(tok, 2) OVER w AS last3
       FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
sh AS (SELECT DISTINCT doc_id, ngram FROM gr WHERE last3 IS NOT NULL)"""


def build_oracles() -> dict[str, str]:
    h = md5_long_sql
    ngram_cte = _ngram_cte_for("documents")
    lsh_dots, lsh_bucket = _lsh_bucket_sql(4, 64)
    gate_rows = ", ".join(
        f"({c}, {o if o is not None else 'CAST(NULL AS INTEGER)'}, {n})"
        for c, o, n in GATE_ROWS)

    oracles: dict[str, str] = {}

    oracles["count_match_all"] = "SELECT count(*) AS num_docs FROM documents"

    oracles["doclen"] = f"""
SELECT doc_id, len({TOK})::BIGINT AS dl, sha256(text) AS sha256 FROM documents"""

    oracles["term_frequencies"] = f"WITH {TF_CTE} SELECT doc_id, term, tf FROM tf"

    oracles["doc_freq"] = (
        f"WITH {TF_CTE} SELECT term, count(*) AS df FROM tf GROUP BY term")

    oracles["corpus_stats"] = f"""
SELECT count(*) AS num_docs, round(avg(len({TOK})), 6) AS avg_dl FROM documents"""

    oracles["idf"] = f"""
WITH {TF_CTE}, dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*)::BIGINT AS n FROM documents)
SELECT term, df, round(ln(1.0 + (n.n - df + 0.5) / (df + 0.5)), 6) AS idf
FROM dft, n"""

    oracles["bm25_topk"] = f"""
WITH {_bm25_sql(_flagship_values(), TOK)}
SELECT doc_id, score FROM agg ORDER BY score DESC, doc_id LIMIT 10"""

    oracles["bm25_queryset"] = f"""
WITH {_bm25_sql(_queryset_values(), TOK)},
r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM agg)
SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM r WHERE rank <= 10"""

    oracles["postings_lists"] = f"""
WITH {TF_CTE}
SELECT term, count(*) AS df,
       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
FROM tf GROUP BY term"""

    oracles["doc_sharding"] = f"""
SELECT doc_id, {h('doc_id::VARCHAR')} % 8 AS shard FROM documents"""

    # engine path (code-aware tokenizer)
    oracles["engine_doclen"] = f"""
SELECT doc_id, len({CODE_TOK})::BIGINT AS dl, sha256(text) AS sha256
FROM documents"""

    oracles["engine_count"] = "SELECT count(*) AS num_docs FROM documents"

    oracles["engine_bm25_scores"] = f"""
WITH {_bm25_sql(_flagship_values(), CODE_TOK)}
SELECT doc_id, score FROM agg"""

    # the serving tier reads the same artifact, so the same oracle applies
    oracles["engine_bm25_local"] = oracles["engine_bm25_scores"]

    # WAND path: same BM25 oracle, top-10 on (rounded score, doc_id) — the
    # exact key the Spark side re-selects on (q_engine_bm25_wand)
    oracles["engine_bm25_wand"] = f"""
WITH {_bm25_sql(_flagship_values(), CODE_TOK)}
SELECT doc_id, score FROM agg ORDER BY score DESC, doc_id LIMIT 10"""

    oracles["engine_bm25_queryset"] = f"""
WITH {_bm25_sql(_queryset_values(), CODE_TOK)},
r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM agg)
SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM r WHERE rank <= 10"""

    # WAND worst case: 3 stopword-grade terms, conjunctive, top-50 on the
    # same (rounded score, doc_id) key the Spark side re-selects on
    worst_values = ("(VALUES " + ", ".join(f"(0, '{t}')" for t in WORST_TERMS)
                    + ") AS qs(query_id, term)")
    oracles["engine_bm25_wand_and"] = f"""
WITH {_bm25_sql(worst_values, CODE_TOK)},
cnt AS (SELECT query_id, doc_id, count(*) AS nt
        FROM scored GROUP BY query_id, doc_id)
SELECT agg.doc_id, agg.score FROM agg JOIN cnt USING (query_id, doc_id)
WHERE cnt.nt = {len(WORST_TERMS)}
ORDER BY agg.score DESC, agg.doc_id LIMIT 50"""

    # match_phrase: conjunctive BM25 over the phrase's terms, kept only for
    # docs whose analyzed token stream contains the exact adjacent sequence
    phrase_values = ("(VALUES " + ", ".join(f"(0, '{t}')" for t in PHRASE)
                     + ") AS qs(query_id, term)")
    needle = " " + " ".join(PHRASE) + " "
    oracles["engine_phrase"] = f"""
WITH {_bm25_sql(phrase_values, CODE_TOK)},
cnt AS (SELECT query_id, doc_id, count(*) AS nt
        FROM scored GROUP BY query_id, doc_id),
anddocs AS (SELECT agg.doc_id, agg.score FROM agg
            JOIN cnt USING (query_id, doc_id)
            WHERE cnt.nt = {len(set(PHRASE))}),
ph AS (SELECT doc_id FROM documents
       WHERE strpos(' ' || array_to_string({CODE_TOK}, ' ') || ' ',
                    '{needle}') > 0)
SELECT a.doc_id, a.score FROM anddocs a JOIN ph USING (doc_id)
ORDER BY a.score DESC, a.doc_id LIMIT 10"""

    # the serving tier verifies adjacency from the same positional
    # artifact, so the identical oracle applies
    oracles["engine_phrase_local"] = oracles["engine_phrase"]

    # ordered-proximity slop (2-token phrase): token B within 1..1+slop
    # positions AFTER token A — the exact semantics _shard_phrase applies
    oracles["engine_phrase_slop"] = f"""
WITH {_bm25_sql(phrase_values, CODE_TOK)},
cnt AS (SELECT query_id, doc_id, count(*) AS nt
        FROM scored GROUP BY query_id, doc_id),
anddocs AS (SELECT agg.doc_id, agg.score FROM agg
            JOIN cnt USING (query_id, doc_id)
            WHERE cnt.nt = {len(set(PHRASE))}),
toks2 AS (SELECT doc_id, {CODE_TOK} AS toks FROM documents),
pos2 AS (SELECT doc_id, unnest(toks) AS tok,
                generate_subscripts(toks, 1) AS p
         FROM toks2),
prox AS (SELECT DISTINCT a.doc_id FROM pos2 a JOIN pos2 b USING (doc_id)
         WHERE a.tok = '{PHRASE[0]}' AND b.tok = '{PHRASE[1]}'
           AND b.p - a.p BETWEEN 1 AND {1 + PHRASE_SLOP})
SELECT a.doc_id, a.score FROM anddocs a JOIN prox USING (doc_id)
ORDER BY a.score DESC, a.doc_id LIMIT 10"""

    # highlight: top-10 docs (oracle key), then every flagship term's
    # 0-based positions per doc, csv ascending — exactly what
    # highlight_topk emits from the decoded pos_blob streams
    oracles["engine_highlight"] = f"""
WITH {_bm25_sql(_flagship_values(), CODE_TOK)},
r AS (SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM agg),
top AS (SELECT doc_id, score FROM r WHERE rank <= 10),
toks2 AS (SELECT doc_id, {CODE_TOK} AS toks FROM documents),
pos2 AS (SELECT doc_id, unnest(toks) AS tok,
                generate_subscripts(toks, 1) - 1 AS p
         FROM toks2)
SELECT top.doc_id, top.score, pos2.tok AS term,
       string_agg(pos2.p::VARCHAR, ',' ORDER BY pos2.p) AS positions
FROM top JOIN pos2 USING (doc_id)
WHERE pos2.tok IN ({", ".join(f"'{t}'" for t in FLAGSHIP_TERMS)})
GROUP BY top.doc_id, top.score, pos2.tok"""

    # bool query: BM25 over (must ∪ should), conjunctive filter on the
    # must terms (count of distinct matched must terms == |must|),
    # anti-join exclusion on must_not
    bool_score_terms = sorted(set(BOOL_MUST) | set(BOOL_SHOULD))
    bool_values = ("(VALUES "
                   + ", ".join(f"(0, '{t}')" for t in bool_score_terms)
                   + ") AS qs(query_id, term)")
    oracles["engine_bool"] = f"""
WITH {_bm25_sql(bool_values, CODE_TOK)},
m AS (SELECT doc_id FROM tf
      WHERE term IN ({", ".join(f"'{t}'" for t in BOOL_MUST)})
      GROUP BY doc_id
      HAVING count(DISTINCT term) = {len(set(BOOL_MUST))}),
x AS (SELECT DISTINCT doc_id FROM tf
      WHERE term IN ({", ".join(f"'{t}'" for t in BOOL_NOT)}))
SELECT agg.doc_id, agg.score FROM agg
JOIN m ON agg.doc_id = m.doc_id
LEFT JOIN x ON agg.doc_id = x.doc_id
WHERE x.doc_id IS NULL
ORDER BY agg.score DESC, agg.doc_id LIMIT 10"""

    # prefix / fuzzy: the expansion runs against the same term universe
    # (the dictionary = every corpus term), expressed here as the DISTINCT
    # terms of the tf CTE, same alphabetical cap; scoring is the standard
    # BM25 chain over the expanded term set
    prefix_qs = (f"(SELECT 0 AS query_id, term FROM "
                 f"(SELECT DISTINCT term FROM tf WHERE term LIKE "
                 f"'{PREFIX_Q}%' ORDER BY term LIMIT {PREFIX_CAP}) _e) "
                 "AS qsx(query_id, term)")
    oracles["engine_prefix"] = f"""
WITH {_bm25_sql(prefix_qs, CODE_TOK)}
SELECT doc_id, score FROM agg ORDER BY score DESC, doc_id LIMIT 10"""

    fuzzy_qs = (f"(SELECT 0 AS query_id, term FROM "
                f"(SELECT DISTINCT term FROM tf WHERE "
                f"levenshtein(term, '{FUZZY_Q}') <= {FUZZY_EDIT} "
                f"ORDER BY term LIMIT 50) _e) AS qsx(query_id, term)")
    oracles["engine_fuzzy"] = f"""
WITH {_bm25_sql(fuzzy_qs, CODE_TOK)}
SELECT doc_id, score FROM agg ORDER BY score DESC, doc_id LIMIT 10"""

    # facets: the flagship match set (docs containing >= 1 analyzed term)
    # counted per lang — pure integer counts, the code-analyzer tf CTE
    # gives the match set
    oracles["engine_facets"] = f"""
WITH toks AS (SELECT doc_id, {CODE_TOK} AS toks FROM documents),
tf AS (
  SELECT doc_id, tok AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM toks) GROUP BY doc_id, tok
),
m AS (SELECT DISTINCT doc_id FROM tf
      WHERE term IN ({", ".join(f"'{t}'" for t in FLAGSHIP_TERMS)}))
SELECT d.lang AS facet, count(*) AS n
FROM m JOIN documents d USING (doc_id)
GROUP BY d.lang ORDER BY n DESC, facet LIMIT 10"""

    # boosted multi_match: independent BM25 chains per field (content =
    # text, repo = the source column — both under the code analyzer, each
    # with its OWN corpus stats), per-field 6-dp round, then the exact
    # INTEGER-unit combine: units = score·10^6 via a decimal hop, boost
    # quantized ·10^3 → sum of bigints is order-independent on any engine;
    # display score = sum / 10^9 in float64 (multifield.multi_match_topk)
    mm_values = ("(VALUES " + ", ".join(f"(0, '{t}')" for t in MULTI_TERMS)
                 + ") AS qs(query_id, term)")
    bu_c = int(round(MULTI_BOOSTS["content"] * 1000))
    bu_r = int(round(MULTI_BOOSTS["repo"] * 1000))
    oracles["multi_match"] = f"""
WITH {_bm25_field_sql('c', CODE_TOK, mm_values)},
{_bm25_field_sql('r', _code_tok_sql('source'), mm_values)},
u AS (
  SELECT doc_id, CAST(CAST(score AS DECIMAL(28,6)) * 1000000 AS BIGINT)
         * {bu_c} AS contrib FROM cagg
  UNION ALL
  SELECT doc_id, CAST(CAST(score AS DECIMAL(28,6)) * 1000000 AS BIGINT)
         * {bu_r} AS contrib FROM ragg)
SELECT doc_id, CAST(sum(contrib) AS DOUBLE) / 1000000000.0 AS score
FROM u GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10"""

    # hydration: BM25 top-10 joined back to the source documents — repo is
    # the driver table's `source`, path is the corpus_shaped encoding of
    # the original doc_id (both sides derive it identically)
    oracles["engine_topk_hydrated"] = f"""
WITH {_bm25_sql(_flagship_values(), CODE_TOK)},
r AS (SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM agg)
SELECT r.rank::BIGINT AS rank, r.doc_id, d.source AS repo,
       'doc/' || lpad(r.doc_id::VARCHAR, 12, '0') || '.txt' AS path,
       d.lang, r.score
FROM r JOIN documents d USING (doc_id) WHERE r.rank <= 10"""

    # conjunctive: keep docs matched by ALL query terms (scored has exactly
    # one row per (query_id, doc_id, term), so count(*) = matched terms)
    oracles["engine_bm25_and"] = f"""
WITH {_bm25_sql(_flagship_values(), CODE_TOK)},
cnt AS (SELECT query_id, doc_id, count(*) AS nt
        FROM scored GROUP BY query_id, doc_id)
SELECT agg.doc_id, agg.score FROM agg JOIN cnt USING (query_id, doc_id)
WHERE cnt.nt = {len(FLAGSHIP_TERMS)}"""

    # lifecycle
    oracles["lifecycle_retention"] = f"""
WITH cat AS (SELECT * FROM {_catalog_values()}),
scoped AS (
  SELECT generation, aliases, creation_time,
         row_number() OVER (ORDER BY creation_time DESC, generation) AS rk
  FROM cat
  WHERE starts_with(generation, 'docs') AND generation <> 'docs_10')
SELECT generation, creation_time::BIGINT AS creation_time
FROM scoped WHERE rk > 2 AND length(aliases) = 0"""

    oracles["lifecycle_alias_gate"] = f"""
WITH g AS (SELECT * FROM (VALUES {gate_rows})
           AS g(case_id, old_count, new_count))
SELECT case_id::BIGINT AS case_id,
  CASE WHEN old_count IS NULL THEN 'create'
       WHEN (new_count::DOUBLE / old_count::DOUBLE) > 0.95
            AND (new_count::DOUBLE / old_count::DOUBLE) <= 1.25 THEN 'switch'
       ELSE 'reject' END AS decision
FROM g"""

    oracles["catalog_indices_by_age"] = f"""
WITH cat AS (SELECT * FROM {_catalog_values()})
SELECT generation, creation_time::BIGINT AS creation_time,
       row_number() OVER (ORDER BY creation_time, generation)::BIGINT AS age_rank
FROM cat WHERE aliases <> ''"""

    # dedup
    oracles["dedup_exact"] = """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       count(*) OVER (PARTITION BY md5(text)) AS group_size
FROM documents"""

    oracles["dedup_ngram_jaccard"] = f"""
WITH {ngram_cte},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
          FROM sh a JOIN sh b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT id_a, id_b, round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8"""

    # guard-firing twin: identical shingling over the boilerplate-trailed
    # corpus, then the EXACT pruning rule the Spark guard applies — drop
    # shingles with df > 40, recompute sizes post-prune
    oracles["dedup_ngram_guarded"] = f"""
WITH docs2 AS (SELECT doc_id, text || ' {NGRAM_BOILER}' AS text
               FROM documents),
{_ngram_cte_for("docs2")},
hot AS (SELECT ngram FROM sh GROUP BY ngram HAVING count(*) > 40),
sh2 AS (SELECT sh.doc_id, sh.ngram FROM sh
        LEFT JOIN hot ON sh.ngram = hot.ngram WHERE hot.ngram IS NULL),
sizes AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
          FROM sh2 a JOIN sh2 b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT id_a, id_b, round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8"""

    mh1, mh2 = md5_double_longs_sql("(hs.h // 2)::VARCHAR || ':' || ngram")
    oracles["dedup_minhash_lsh"] = f"""
WITH {ngram_cte},
hx AS (SELECT doc_id, hs.h,
              min(CASE WHEN hs.h % 2 = 0 THEN {mh1} ELSE {mh2} END)
                AS minhash
       FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) hs
       GROUP BY doc_id, hs.h),
band_sig AS (SELECT doc_id, (h // 4) AS band,
                    string_agg(minhash::VARCHAR, ',' ORDER BY h) AS bucket
             FROM hx GROUP BY doc_id, (h // 4)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM band_sig a JOIN band_sig b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
est AS (SELECT id_a, id_b,
               round(avg(CASE WHEN sa.minhash = sb.minhash
                              THEN 1.0 ELSE 0.0 END), 6) AS est_sim
        FROM cand
        JOIN hx sa ON sa.doc_id = id_a
        JOIN hx sb ON sb.doc_id = id_b AND sb.h = sa.h
        GROUP BY id_a, id_b)
SELECT id_a, id_b, est_sim FROM est WHERE est_sim >= 0.5"""

    # guard-firing twin: half the corpus is one identical text, so its
    # signature's buckets exceed the 20-member cap in every band and are
    # dropped (BETWEEN 2 AND 20 = the Spark guard's exact filter); pairs
    # among the untouched docs survive through their own buckets
    oracles["dedup_minhash_guarded"] = f"""
WITH docs2 AS (SELECT doc_id,
                      CASE WHEN doc_id % 2 = 0 THEN '{MINHASH_BOILER}'
                           ELSE text END AS text
               FROM documents),
{_ngram_cte_for("docs2")},
hx AS (SELECT doc_id, hs.h,
              min(CASE WHEN hs.h % 2 = 0 THEN {mh1} ELSE {mh2} END)
                AS minhash
       FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) hs
       GROUP BY doc_id, hs.h),
band_sig AS (SELECT doc_id, (h // 4) AS band,
                    string_agg(minhash::VARCHAR, ',' ORDER BY h) AS bucket
             FROM hx GROUP BY doc_id, (h // 4)),
ok AS (SELECT band, bucket FROM band_sig GROUP BY band, bucket
       HAVING count(*) BETWEEN 2 AND 20),
bs AS (SELECT band_sig.* FROM band_sig JOIN ok USING (band, bucket)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bs a JOIN bs b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
est AS (SELECT id_a, id_b,
               round(avg(CASE WHEN sa.minhash = sb.minhash
                              THEN 1.0 ELSE 0.0 END), 6) AS est_sim
        FROM cand
        JOIN hx sa ON sa.doc_id = id_a
        JOIN hx sb ON sb.doc_id = id_b AND sb.h = sa.h
        GROUP BY id_a, id_b)
SELECT id_a, id_b, est_sim FROM est WHERE est_sim >= 0.5"""

    oracles["dedup_simhash"] = f"""
WITH {TF_CTE},
tfh AS (SELECT doc_id, term, tf, {h('term')} AS hv FROM tf),
bitsum AS (SELECT doc_id, ps.p,
                  sum(CASE WHEN ((hv >> ps.p) & 1) = 1 THEN tf ELSE -tf END) AS s
           FROM tfh CROSS JOIN (SELECT unnest(range(16)) AS p) ps
           GROUP BY doc_id, ps.p)
SELECT doc_id,
       cast(sum(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT)
         AS simhash
FROM bitsum GROUP BY doc_id"""

    cos_ab = _COS.format(a="a.v", b="b.v")
    oracles["dedup_embedding"] = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round({cos_ab}, 6) AS cosine
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.35"""

    cos_qv = _pair_cos_chain("q.qv", "e.v", 64)
    oracles["ann_brute_force"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (SELECT q.query_id, e.vec_id, {cos_qv} AS s
           FROM e CROSS JOIN q),
r AS (SELECT query_id, vec_id, s,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, vec_id) AS rank
      FROM scored)
SELECT query_id, rank::BIGINT AS rank, vec_id, round(s, 6) AS cosine
FROM r WHERE rank <= 10"""

    oracles["ann_lsh"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dots AS (SELECT vec_id, {lsh_dots} FROM e)
SELECT vec_id, {lsh_bucket} AS bucket FROM dots"""

    cos_pair_lsh = _COS.format(a="x.v", b="y.v")
    oracles["dedup_embedding_lsh"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dots AS (SELECT vec_id, v, {lsh_dots} FROM e),
b AS (SELECT vec_id, v, {lsh_bucket} AS bucket FROM dots),
pairs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                 round({cos_pair_lsh}, 6) AS cosine
          FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.35"""

    cos_lsh = _pair_cos_chain("q.qv", "b.v", 64)
    oracles["ann_lsh_topk"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dots AS (SELECT vec_id, v, {lsh_dots} FROM e),
b AS (SELECT vec_id, v, {lsh_bucket} AS bucket FROM dots),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
scored AS (SELECT q.query_id, b.vec_id, {cos_lsh} AS s
           FROM b JOIN q USING (bucket)),
r AS (SELECT query_id, vec_id, s,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, vec_id) AS rank
      FROM scored)
SELECT query_id, rank::BIGINT AS rank, vec_id, round(s, 6) AS cosine
FROM r WHERE rank <= 10"""

    multi_dots, multi_buckets = _lsh_multi_sql(4, 4, 64)
    mb_defs = ", ".join(f"{b} AS b{t}" for t, b in enumerate(multi_buckets))
    cand_unions = "\n  UNION\n".join(
        f"  SELECT q.query_id, b.vec_id FROM b JOIN q ON b.b{t} = q.qb{t}"
        for t in range(4))
    cos_multi = _pair_cos_chain("q.qv", "b.v", 64)
    oracles["ann_lsh_multi"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dots AS (SELECT vec_id, v, {multi_dots} FROM e),
b AS (SELECT vec_id, v, {mb_defs} FROM dots),
q AS (SELECT vec_id AS query_id, qv,
             {', '.join(f'b{t} AS qb{t}' for t in range(4))}
      FROM (SELECT vec_id, v AS qv, {', '.join(f'b{t}' for t in range(4))}
            FROM b WHERE vec_id < 5)),
cand AS (SELECT DISTINCT query_id, vec_id FROM (
{cand_unions}
)),
scored AS (SELECT c.query_id, c.vec_id, {cos_multi} AS s
           FROM cand c JOIN b ON c.vec_id = b.vec_id
           JOIN q ON c.query_id = q.query_id),
r AS (SELECT query_id, vec_id, s,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, vec_id) AS rank
      FROM scored)
SELECT query_id, rank::BIGINT AS rank, vec_id, round(s, 6) AS cosine
FROM r WHERE rank <= 10"""

    ivf_defs, ivf_argmax, ivf_by_cell = _ivf_sql_parts(8, 64, "v")
    ivf_qdefs, _, _ = _ivf_sql_parts(8, 64, "qv")
    oracles["ann_ivf_cells"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT vec_id, {ivf_defs} FROM e)
SELECT vec_id, ({ivf_argmax})::BIGINT AS cell FROM d"""

    cos_pv = _pair_cos_chain("probe.qv", "cells.v", 64)
    oracles["ann_ivf_topk"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT vec_id, v, {ivf_defs} FROM e),
cells AS (SELECT vec_id, v, ({ivf_argmax})::BIGINT AS cell FROM d),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
qd AS (SELECT query_id, qv, {ivf_qdefs} FROM q),
qc AS (SELECT query_id, qv, cs.cell, {ivf_by_cell} AS cscore
       FROM qd CROSS JOIN (SELECT unnest(range(8)) AS cell) cs),
probe AS (SELECT query_id, qv, cell FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cscore DESC, cell) AS rn FROM qc)
  WHERE rn <= 2),
scored AS (SELECT probe.query_id, cells.vec_id, {cos_pv} AS s
           FROM probe JOIN cells USING (cell)),
r AS (SELECT query_id, vec_id, s,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, vec_id) AS rank
      FROM scored)
SELECT query_id, rank::BIGINT AS rank, vec_id, round(s, 6) AS cosine FROM r
WHERE rank <= 10"""

    oracles["lang_id"] = f"""
WITH toks AS (SELECT doc_id, {TOK} AS toks FROM documents),
markers AS (SELECT * FROM (VALUES {_MARKER_VALUES}) AS m(lang_cand, tok)),
votes AS (SELECT doc_id, lang_cand, count(*) AS hits
          FROM (SELECT doc_id, unnest(toks) AS tok FROM toks) t
          JOIN markers USING (tok) GROUP BY doc_id, lang_cand),
best AS (SELECT doc_id, lang_cand, hits,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY hits DESC, lang_cand) AS rn
         FROM votes)
SELECT d.doc_id, coalesce(b.lang_cand, 'und') AS pred_lang,
       coalesce(b.hits, 0)::BIGINT AS hits
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id"""

    oracles["quality"] = f"""
WITH m AS (
  SELECT doc_id,
    length(text)::BIGINT AS n_chars,
    len({TOK})::BIGINT AS n_tokens,
    round(list_sum(list_transform({TOK}, t -> length(t)))::DOUBLE
          / nullif(len({TOK}), 0)::DOUBLE, 6) AS avg_tok_len,
    round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
          / nullif(length(text), 0)::DOUBLE, 6) AS punct_ratio,
    round(len(list_filter({TOK}, t -> t IN ({_STOPWORD_LIST})))::DOUBLE
          / nullif(len({TOK}), 0)::DOUBLE, 6) AS stop_ratio
  FROM documents)
SELECT doc_id, n_chars, n_tokens, avg_tok_len, punct_ratio, stop_ratio,
  round((
    (CASE WHEN n_tokens >= 3 AND n_tokens <= 100000 THEN 1 ELSE 0 END)
    + (CASE WHEN avg_tok_len >= 2.0 AND avg_tok_len <= 12.0 THEN 1 ELSE 0 END)
    + (CASE WHEN coalesce(punct_ratio, 1.0) <= 0.3 THEN 1 ELSE 0 END)
    + (CASE WHEN coalesce(stop_ratio, 0.0) >= 0.01 THEN 1 ELSE 0 END)
  )::DOUBLE / 4.0, 6) AS quality
FROM m"""

    oracles["repetition"] = f"""
WITH l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
           FROM documents),
lf AS (SELECT doc_id, line FROM l WHERE length(trim(line)) > 0),
lines AS (SELECT doc_id, count(*) AS n_lines, count(DISTINCT line) AS nd
          FROM lf GROUP BY doc_id),
toks AS (SELECT doc_id, {TOK} AS toks FROM documents),
pos AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
        FROM toks),
gr AS (SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w AS g,
              lead(tok, 1) OVER w AS nxt
       FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
bg AS (SELECT doc_id, g, count(*) AS c FROM gr WHERE nxt IS NOT NULL
       GROUP BY doc_id, g),
bga AS (SELECT doc_id, max(c) AS top, sum(c) AS tot FROM bg GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(lines.n_lines, 0)::BIGINT AS n_lines,
  round(coalesce((lines.n_lines - lines.nd)::DOUBLE / lines.n_lines, 0.0), 6)
    AS dup_line_ratio,
  round(coalesce(bga.top::DOUBLE / bga.tot, 0.0), 6) AS top_bigram_ratio
FROM documents d
LEFT JOIN lines ON d.doc_id = lines.doc_id
LEFT JOIN bga ON d.doc_id = bga.doc_id"""

    oracles["token_counts"] = r"""
SELECT doc_id,
  (CASE WHEN length(trim(text)) = 0 THEN 0
        ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT
    AS ws_tokens,
  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))::BIGINT
    AS bpe_tokens
FROM documents"""

    oracles["fingerprint"] = f"""
WITH toks AS (SELECT doc_id, {TOK} AS toks FROM documents),
pos AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
        FROM toks),
fp AS (SELECT doc_id,
              bit_xor(({h('tok')} & 2147483647) * (((pos - 1) % 97) + 1)) AS fp
       FROM pos GROUP BY doc_id)
SELECT d.doc_id, coalesce(fp.fp, 0)::BIGINT AS fp
FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id"""

    oracles["multimodal_meta"] = """
SELECT doc_id AS id, 'image' AS kind,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS sha256
FROM documents"""

    oracles["multimodal_frames"] = """
WITH p AS (SELECT doc_id AS id, hex(encode(text)) AS ph,
                  octet_length(encode(text)) AS n FROM documents),
s AS (SELECT id, ph, n, greatest(n // 4, 1) AS step FROM p),
f AS (SELECT id, fi.f AS frame_idx,
             substring(ph, (fi.f * step * 2 + 1)::INT, (step * 2)::INT)
               AS fh
      FROM s CROSS JOIN (SELECT unnest(range(4)) AS f) fi
      WHERE fi.f * step < n)
SELECT id, frame_idx::BIGINT AS frame_idx,
       (length(fh) // 2)::BIGINT AS n_bytes, md5(fh) AS frame_md5
FROM f"""

    # first-8-bytes big-endian value can exceed BIGINT: parse the 16 hex
    # chars (zero-padded, = ljust(8, b'\0')) digit-by-digit into a HUGEINT
    hex16 = " + ".join(
        f"((strpos('0123456789ABCDEF', substr(h16, {i}, 1)) - 1)::HUGEINT"
        f" * {16 ** (16 - i)}::HUGEINT)" for i in range(1, 17))
    byte_val = ("((strpos('0123456789ABCDEF', substr(hx, 2 * i - 1, 1)) - 1)"
                " * 16 + (strpos('0123456789ABCDEF', substr(hx, 2 * i, 1))"
                " - 1))")
    oracles["multimodal_features"] = f"""
WITH m AS (SELECT doc_id AS id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS nb FROM documents),
h AS (SELECT id, hx, nb, rpad(substr(hx, 1, 16), 16, '0') AS h16 FROM m),
hv AS (SELECT id, hx, nb, ({hex16}) AS hval FROM h),
b AS (SELECT id, unnest(generate_series(1, nb)) AS i, hx FROM hv),
bs AS (SELECT id, min({byte_val}) AS bmin, max({byte_val}) AS bmax
       FROM b GROUP BY id)
SELECT hv.id,
       (16 + (hval % 1009) % 512)::BIGINT AS width,
       (16 + (hval // 1009) % 512)::BIGINT AS height,
       3::BIGINT AS channels, 1::BIGINT AS n_frames,
       coalesce(bs.bmin, 0)::DOUBLE AS f_min,
       coalesce(bs.bmax, 0)::DOUBLE AS f_max
FROM hv LEFT JOIN bs ON hv.id = bs.id"""

    oracles["multimodal_resize"] = """
WITH p AS (SELECT doc_id AS id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS nb FROM documents),
small AS (SELECT id, hx AS oh, nb::BIGINT AS onb FROM p WHERE nb <= 128),
big AS (SELECT id, hx, nb // 128 AS s FROM p WHERE nb > 128),
sel AS (SELECT id, i, substr(hx, 2 * (i * s) + 1, 2) AS b
        FROM (SELECT id, hx, s, unnest(generate_series(0, 127)) AS i
              FROM big)),
agg AS (SELECT id, string_agg(b, '' ORDER BY i) AS oh, 128::BIGINT AS onb
        FROM sel GROUP BY id),
u AS (SELECT * FROM small UNION ALL SELECT * FROM agg)
SELECT id, 16::BIGINT AS width, 8::BIGINT AS height,
       onb AS n_bytes, md5(oh) AS payload_md5 FROM u"""

    oracles["events_minutely"] = """
SELECT strftime(ts, '%Y-%m-%d %H:%M') AS minute, event_type,
       count(*) AS n,
       cast(sum(cast(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2"""

    oracles["events_sessions"] = """
WITH g AS (
  SELECT user_id, event_id,
         date_diff('microsecond',
                   lag(ts, 1) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id), ts) AS gap
  FROM events)
SELECT user_id,
       cast(sum(CASE WHEN gap IS NULL OR gap > 600 * 1000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM g GROUP BY user_id"""

    oracles["tpch_q1"] = """
SELECT l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
  cast(sum(cast(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
  cast(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
       AS DOUBLE) AS sum_disc_price,
  round(avg(l_quantity), 6) AS avg_qty,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""

    oracles["top_customers"] = """
WITH rev AS (
  SELECT o_custkey,
         cast(sum(cast(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey)
SELECT c.c_custkey::BIGINT AS c_custkey, c.c_name, rev.revenue, rev.n_orders
FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
ORDER BY revenue DESC, c_custkey LIMIT 10"""

    return oracles


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "count_match_all": q_count_match_all,
    "doclen": q_doclen,
    "term_frequencies": q_term_frequencies,
    "doc_freq": q_doc_freq,
    "corpus_stats": q_corpus_stats,
    "idf": q_idf,
    "bm25_topk": q_bm25_topk,
    "bm25_queryset": q_bm25_queryset,
    "postings_lists": q_postings_lists,
    "doc_sharding": q_doc_sharding,
    "engine_doclen": q_engine_doclen,
    "engine_count": q_engine_count,
    "engine_bm25_scores": q_engine_bm25_scores,
    "engine_bm25_and": q_engine_bm25_and,
    "engine_bm25_wand": q_engine_bm25_wand,
    "engine_bm25_wand_and": q_engine_bm25_wand_and,
    "engine_bm25_queryset": q_engine_bm25_queryset,
    "engine_bm25_local": q_engine_bm25_local,
    "engine_topk_hydrated": q_engine_topk_hydrated,
    "engine_phrase": q_engine_phrase,
    "engine_phrase_local": q_engine_phrase_local,
    "engine_phrase_slop": q_engine_phrase_slop,
    "engine_highlight": q_engine_highlight,
    "engine_facets": q_engine_facets,
    "engine_prefix": q_engine_prefix,
    "engine_fuzzy": q_engine_fuzzy,
    "engine_bool": q_engine_bool,
    "multi_match": q_multi_match,
    "lifecycle_retention": q_lifecycle_retention,
    "lifecycle_alias_gate": q_lifecycle_alias_gate,
    "catalog_indices_by_age": q_catalog_indices_by_age,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_ngram_guarded": q_dedup_ngram_guarded,
    "dedup_minhash_guarded": q_dedup_minhash_guarded,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "ann_brute_force": q_ann_brute_force,
    "ann_lsh": q_ann_lsh,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_lsh_multi": q_ann_lsh_multi,
    "ann_ivf_cells": q_ann_ivf_cells,
    "ann_ivf_topk": q_ann_ivf_topk,
    "lang_id": q_lang_id,
    "quality": q_quality,
    "repetition": q_repetition,
    "token_counts": q_token_counts,
    "fingerprint": q_fingerprint,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_features": q_multimodal_features,
    "multimodal_resize": q_multimodal_resize,
    "events_minutely": q_events_minutely,
    "events_sessions": q_events_sessions,
    "tpch_q1": q_tpch_q1,
    "top_customers": q_top_customers,
}

ORACLES: dict[str, str] = build_oracles()


def flagship(spark: SparkSession) -> DataFrame:
    """Flagship: full engine BM25 top-10 (WAND) on sf0.001, doc keys attached."""
    sf_dir = "/root/testdata/sf0.001"
    gen = _generation_for(spark, sf_dir)
    res = engine_topk(spark, gen, FLAGSHIP_TERMS, k=10, wand=True)
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    return (res.join(doclen.select("doc_id", "repo", "path", "lang"), "doc_id")
            .select(_orig_id_from_path().alias("doc_id"), "repo", "lang",
                    F.round("score", 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id")))
