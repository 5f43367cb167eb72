"""Engine ↔ pure-Python-oracle BM25 parity (the north-rule acceptance check):
rank-identical top-k doc_ids, scores equal to 1e-6, on the fixed reference
query set (FIXTURES.md §2), plus WAND ≡ exhaustive and salted ≡ streaming.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from elastic_indexer4s_spark.operators import query as Q
from elastic_indexer4s_spark.corpus import make_corpus, reference_queries
from elastic_indexer4s_spark.reference_bm25 import (
    build_py_index, bm25_topk,
)


@pytest.fixture(scope="module")
def py_oracle(spark, tiny_index, tiny_corpus):
    """Oracle index keyed by the ENGINE's doc_ids (read back from doclen) so
    ids are comparable."""
    gen, cfg = tiny_index
    doclen = spark.read.parquet(f"{gen}/doclen")
    id_map = {(r["repo"], r["path"], r["commit"]): r["doc_id"]
              for r in doclen.select("repo", "path", "commit", "doc_id").collect()}
    contents = {id_map[(d.repo, d.path, d.commit)]: d.content
                for d in tiny_corpus}
    assert len(contents) == len(tiny_corpus)
    return build_py_index(contents, cfg.tokenizer)


def test_doc_ids_dense_and_deterministic(spark, tiny_index):
    gen, cfg = tiny_index
    doclen = spark.read.parquet(f"{gen}/doclen")
    ids = [r["doc_id"] for r in doclen.select("doc_id").collect()]
    assert len(ids) == len(set(ids))  # unique
    # shard-local density: ids are shard<<SHARD_BITS .. +n-1 (doc-sharded)
    from elastic_indexer4s_spark.operators.docids import SHARD_BITS
    rng = doclen.groupBy("shard").agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
        F.count(F.lit(1)).alias("n")).collect()
    for r in rng:
        assert r["lo"] == r["shard"] << SHARD_BITS
        assert r["hi"] - r["lo"] + 1 == r["n"]


def test_doc_ids_global_dense(spark, tiny_corpus):
    from elastic_indexer4s_spark.operators.docids import with_doc_ids
    rows = [(d.repo, d.path, d.commit, d.lang, d.content) for d in tiny_corpus]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    out = with_doc_ids(df, ["repo", "path", "commit"], 4, dense="global")
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert ids == list(range(len(rows)))  # dense 0..N-1
    again = with_doc_ids(df, ["repo", "path", "commit"], 4, dense="global")
    m1 = {(r["repo"], r["path"]): r["doc_id"] for r in out.collect()}
    m2 = {(r["repo"], r["path"]): r["doc_id"] for r in again.collect()}
    assert m1 == m2  # deterministic across runs


def test_stats_match_oracle(spark, tiny_index, py_oracle):
    gen, _ = tiny_index
    stats = Q.load_stats(gen)
    assert stats["num_docs"] == py_oracle.n_docs
    assert abs(stats["avg_dl"] - py_oracle.avg_dl) < 1e-9


@pytest.mark.parametrize("wand", [False, True], ids=["exhaustive", "wand"])
def test_reference_query_set_rank_identical(spark, tiny_index, py_oracle, wand):
    gen, cfg = tiny_index
    for q in reference_queries(200):
        terms = Q.analyze_query(q["terms"], cfg.tokenizer)
        expected = bm25_topk(py_oracle, terms, q["k"], cfg.k1, cfg.b)
        got = Q.topk(spark, gen, q["terms"], q["k"], wand=wand, cfg=cfg).collect()
        got_ids = [r["doc_id"] for r in got]
        exp_ids = [d for d, _ in expected]
        assert got_ids == exp_ids, f"query {q}: {got_ids} != {exp_ids}"
        for (_, es), r in zip(expected, got):
            assert abs(es - r["score"]) <= 1e-6, f"query {q} score drift"


def test_absent_term_empty(spark, tiny_index):
    gen, cfg = tiny_index
    assert Q.topk(spark, gen, ["zzabsenttermzz"], 10, cfg=cfg).count() == 0


@pytest.mark.parametrize("wand", [False, True], ids=["exhaustive", "wand"])
def test_and_mode_rank_identical(spark, tiny_index, py_oracle, wand):
    """Conjunctive match (ES operator=and): oracle-identical ranks + scores,
    AND results ⊆ OR results, absent term conjoined with anything → empty."""
    gen, cfg = tiny_index
    for q in reference_queries(200):
        if len(q["terms"]) < 2:
            continue
        terms = Q.analyze_query(q["terms"], cfg.tokenizer)
        expected = bm25_topk(py_oracle, terms, q["k"], cfg.k1, cfg.b, mode="and")
        got = Q.topk(spark, gen, q["terms"], q["k"], wand=wand, mode="and",
                     cfg=cfg).collect()
        assert [r["doc_id"] for r in got] == [d for d, _ in expected], q
        for (_, es), r in zip(expected, got):
            assert abs(es - r["score"]) <= 1e-6, f"query {q} score drift"
        or_all = {r["doc_id"] for r in Q.topk(
            spark, gen, q["terms"], 10**6, wand=False, cfg=cfg).collect()}
        assert {r["doc_id"] for r in got} <= or_all
    empty = Q.topk(spark, gen, ["merge", "zzabsenttermzz"], 10,
                   wand=wand, mode="and", cfg=cfg)
    assert empty.count() == 0


def test_salted_build_matches_streaming(spark, tiny_corpus, tmp_path):
    """Salted two-phase postings ≡ streaming postings, byte-for-byte, on a
    corpus with hot stopword-like terms (the skew fixture)."""
    from elastic_indexer4s_spark.config import IndexConfig
    from elastic_indexer4s_spark.operators.build import (
        build_postings_stream, build_postings_salted, term_frequencies,
        tokenized_docs,
    )
    rows = [(d.repo, d.path, d.commit, d.lang, d.content) for d in tiny_corpus]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    # hot_term_df=20 → `def`/`return`/`import` (~95% of docs) are salted;
    # salt_span=32 splits them into multiple sub-segments
    cfg = IndexConfig(num_shards=4, hot_term_df=20, salt_span=32, block_size=16)
    from elastic_indexer4s_spark.functions.codec import decode_postings, row_to_enc
    from elastic_indexer4s_spark.operators.build import hot_terms

    tf = term_frequencies(tokenized_docs(df, cfg)).cache()
    hot = {r["term"] for r in hot_terms(tf, cfg.hot_term_df).collect()}
    assert {"def", "return", "import"} <= hot  # the injected stopword-likes
    a = {(r["shard"], r["term"]): r.asDict()
         for r in build_postings_stream(tf, cfg).collect()}
    b = {(r["shard"], r["term"]): r.asDict()
         for r in build_postings_salted(tf, cfg).collect()}
    tf.unpersist()
    assert set(a) == set(b)
    for key in a:
        ra, rb = a[key], b[key]
        # decoded postings identical always
        da = decode_postings(row_to_enc(ra["df"], ra["enc"]))
        db = decode_postings(row_to_enc(rb["df"], rb["enc"]))
        for xa, xb in zip(da, db):
            assert np.array_equal(xa, xb), key
        assert ra["df"] == rb["df"]
        if key[1] not in hot:
            # cold terms (single segment) must be byte-identical
            assert bytes(ra["enc"]) == bytes(rb["enc"]), key
    # at least one hot term was actually split into multiple sub-segments
    some_hot = next(k for k in a if k[1] == "def")
    n_blocks = [len(row_to_enc(r[some_hot]["df"], r[some_hot]["enc"])
                    .block_count) for r in (a, b)]
    assert n_blocks[1] >= n_blocks[0]


def test_arrow_build_matches_streaming(spark, tiny_corpus):
    """The Arrow-native whole-partition encoder (default build path) ≡ the
    explode+groupBy+sort streaming path, byte-for-byte, including the
    block-max sidecar arrays (odd block size exercises block boundaries)."""
    from elastic_indexer4s_spark.config import IndexConfig
    from elastic_indexer4s_spark.operators.build import (
        build_postings_arrow, build_postings_stream, term_frequencies,
        tokenized_docs,
    )
    rows = [(d.repo, d.path, d.commit, d.lang, d.content) for d in tiny_corpus]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    cfg = IndexConfig(num_shards=4, block_size=7)
    docs_tok = tokenized_docs(df, cfg)
    a = {(r["shard"], r["term"]): r.asDict()
         for r in build_postings_stream(term_frequencies(docs_tok), cfg).collect()}
    b = {(r["shard"], r["term"]): r.asDict()
         for r in build_postings_arrow(docs_tok, cfg).collect()}
    assert set(a) == set(b) and len(a) > 0
    for key, ra in a.items():
        rb = b[key]
        for col in ra:
            va, vb = ra[col], rb[col]
            if isinstance(va, (bytes, bytearray)):
                assert bytes(va) == bytes(vb), (key, col)
            else:
                assert va == vb, (key, col)


def test_mapside_tf_combine_matches_arrow(spark, tiny_corpus):
    """The map-side tf-combined path (per-doc term→tf reduction BEFORE the
    doc-id exchange, the default postings build) ≡ the token-shuffling
    Arrow path, byte-for-byte — the combine is exact because tf is
    additive only within a doc."""
    from elastic_indexer4s_spark.config import IndexConfig
    from elastic_indexer4s_spark.operators.build import (
        build_postings_arrow, build_postings_arrow_tf, tokenized_docs,
        tokenized_docs_tf,
    )
    rows = [(d.repo, d.path, d.commit, d.lang, d.content) for d in tiny_corpus]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    cfg = IndexConfig(num_shards=4, block_size=7)
    a = {(r["shard"], r["term"]): r.asDict()
         for r in build_postings_arrow(tokenized_docs(df, cfg), cfg).collect()}
    b = {(r["shard"], r["term"]): r.asDict()
         for r in build_postings_arrow_tf(tokenized_docs_tf(df, cfg), cfg).collect()}
    assert set(a) == set(b) and len(a) > 0
    for key, ra in a.items():
        rb = b[key]
        for col in ra:
            va, vb = ra[col], rb[col]
            if isinstance(va, (bytes, bytearray)):
                assert bytes(va) == bytes(vb), (key, col)
            else:
                assert va == vb, (key, col)


def test_verify_sha(spark, tiny_index, tiny_corpus):
    from elastic_indexer4s_spark.operators.build import verify_content_sha
    gen, _ = tiny_index
    rows = [(d.repo, d.path, d.commit, d.lang, d.content) for d in tiny_corpus]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    assert verify_content_sha(spark, df, gen) == 0
    # a mutated source row must be caught
    mutated = df.withColumn(
        "content",
        F.when(F.col("path") == rows[0][1], F.lit("tampered"))
        .otherwise(F.col("content")))
    assert verify_content_sha(spark, mutated, gen) >= 1


def test_count_index(spark, tiny_index, tiny_corpus):
    gen, _ = tiny_index
    assert Q.count_index(spark, gen) == len(tiny_corpus)
