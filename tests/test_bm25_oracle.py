"""Engine ↔ pure-Python-oracle BM25 parity (the north-rule acceptance check):
rank-identical top-k doc_ids, scores equal to 1e-6, on the fixed reference
query set (FIXTURES.md §2), plus WAND ≡ exhaustive and the build's
postings ≡ the codec's per-list reference, byte for byte.
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


def test_doc_ids_shard_dense_repeatable(spark, tiny_corpus):
    from elastic_indexer4s_spark.operators.docids import SHARD_BITS, with_doc_ids
    rows = [(d.repo, d.path, d.commit, d.lang, d.content) for d in tiny_corpus]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    runs = [{(r["repo"], r["path"], r["commit"]): (r["shard"], r["doc_id"])
             for r in with_doc_ids(df, ["repo", "path", "commit"], 4).collect()}
            for _ in range(2)]
    assert runs[0] == runs[1]  # deterministic across runs
    by_shard: dict[int, list[int]] = {}
    for shard, doc_id in runs[0].values():
        by_shard.setdefault(shard, []).append(doc_id)
    assert sum(map(len, by_shard.values())) == len(rows)
    for shard, ids in by_shard.items():  # dense per shard: shard<<33 + 0..n-1
        base = shard << SHARD_BITS
        assert sorted(ids) == list(range(base, base + len(ids)))


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


def test_salted_positions_build_matches_codec_reference(spark, tiny_corpus,
                                                        tmp_path):
    """The one build path, byte for byte: the tiny corpus built with
    positions and a small ``hot_term_df``/``salt_span`` writes every
    postings row as ``enc_to_row`` of the codec's per-list reference —
    ``encode_postings`` for a cold term, ``concat_postings`` of the
    ``doc_id // salt_span`` sub-segments for a hot term — ``pos_blob``
    included.  The reference comes from ``tokenize_py`` and the doc ids in
    the generation's doclen."""
    from elastic_indexer4s_spark.config import IndexConfig
    from elastic_indexer4s_spark.functions.codec import (
        POSTINGS_DDL, concat_postings, enc_to_row, encode_postings,
        row_to_enc)
    from elastic_indexer4s_spark.functions.tokenizer import tokenize_py
    from elastic_indexer4s_spark.operators.build import build_index
    from elastic_indexer4s_spark.results import RunResult

    rows = [(d.repo, d.path, d.commit, d.lang, d.content) for d in tiny_corpus]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    # ~50 docs per shard: `def`/`return`/`import` (~95% of docs) exceed a
    # shard df of 20, and salt_span=32 splits them into sub-segments
    cfg = IndexConfig(num_shards=4, hot_term_df=20, salt_span=32,
                      block_size=16, store_positions=True)
    gen = str(tmp_path / "gen")
    assert isinstance(build_index(spark, df, cfg, gen), RunResult)

    ids = {(r["repo"], r["path"], r["commit"]): (r["shard"], r["doc_id"])
           for r in spark.read.parquet(f"{gen}/doclen").collect()}
    lists: dict = {}
    for d in tiny_corpus:
        shard, doc_id = ids[(d.repo, d.path, d.commit)]
        toks = tokenize_py(d.content, cfg.tokenizer)
        for term in set(toks):
            pos = [i for i, t in enumerate(toks) if t == term]
            lists.setdefault((shard, term), []).append(
                (doc_id, len(pos), len(toks), pos))
    expected = {}
    for (shard, term), postings in lists.items():
        postings.sort()
        docs, tfs, dls = (np.array([p[i] for p in postings], dtype=np.int64)
                          for i in range(3))
        salt = (docs // cfg.salt_span if docs.size > cfg.hot_term_df
                else np.zeros(docs.size, np.int64))
        cuts = [0, *(np.flatnonzero(np.diff(salt)) + 1), docs.size]
        ref = concat_postings([encode_postings(
            docs[a:b], tfs[a:b], dls[a:b], cfg.block_size,
            positions=np.concatenate([p[3] for p in postings[a:b]]))
            for a, b in zip(cuts, cuts[1:])])
        expected[(shard, term)] = enc_to_row(term, ref, shard=shard)

    got = {}
    for r in spark.read.schema(POSTINGS_DDL).parquet(f"{gen}/postings").collect():
        row = {k: bytes(v) if isinstance(v, bytearray) else v
               for k, v in r.asDict().items()}
        got[(row["shard"], row["term"])] = row
    assert set(got) == set(expected)
    for key, row in expected.items():
        assert got[key] == row, key

    # the stopword-likes are hot, and salting really split a list: more
    # blocks than its unsalted ceil(df / block_size)
    hot = [k for k, v in lists.items() if len(v) > cfg.hot_term_df]
    assert {"def", "return", "import"} <= {t for _, t in hot}
    assert any(len(row_to_enc(got[k]["df"], got[k]["enc"]).block_count)
               > -(-got[k]["df"] // cfg.block_size) for k in hot)


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
