"""The shard kernels' result contract.

Every shard kernel returns a ``TopK``: ``doc_id`` int64 and ``score``
float64 arrays, at most k rows, ordered (score desc, doc_id asc), and the
one shared ``EMPTY_TOPK`` for a shard without a hit.  Serving merges those
arrays without building a pandas object; Spark hands them over as one
Arrow batch per shard task, which must accept a shard whose kernel found
nothing.
"""

import tracemalloc

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pytest

from elastic_indexer4s_spark.functions.codec import encode_postings
from elastic_indexer4s_spark.operators import query as Q
from elastic_indexer4s_spark.serving import LocalSearcher

K1, B, AVG_DL = 1.2, 0.75, 4.0

#: shard-dense ids, as the build assigns them: ``shard << 33 | row``
BASE = np.int64(5) << 33


def assert_topk(top, k: int) -> None:
    assert isinstance(top, Q.TopK)
    assert top.doc_id.dtype == np.int64 and top.score.dtype == np.float64
    assert len(top) == top.doc_id.size == top.score.size <= k
    keys = list(zip((-top.score).tolist(), top.doc_id.tolist()))
    assert keys == sorted(keys), "order must be (score desc, doc_id asc)"


def _term(rng, n_docs: int, p: float, block: int = 4):
    """One term's postings over ``n_docs`` shard-dense docs, with
    positions."""
    rows = np.flatnonzero(rng.random(n_docs) < p)
    tfs = rng.integers(1, 4, rows.size)
    dls = tfs + rng.integers(0, 5, rows.size)
    pos = np.concatenate([np.sort(rng.choice(int(dl), int(tf), replace=False))
                          for tf, dl in zip(tfs, dls)] or [np.empty(0)])
    return encode_postings(BASE + rows, tfs, dls, block, positions=pos)


@pytest.fixture(scope="module")
def shard():
    """(encs, idfs, dfs, n_docs) of one hand-encoded 60-doc shard."""
    rng = np.random.default_rng(7)
    encs = [(t, _term(rng, 60, p)) for t, p in
            (("a", 0.5), ("b", 0.3), ("c", 0.1), ("d", 0.6))]
    dfs = {t: e.df for t, e in encs}
    return encs, Q._idfs(60, dfs), dfs, 60


@pytest.mark.parametrize("k", [1, 3, 100])
def test_every_kernel_returns_an_ordered_typed_topk(shard, k):
    encs, idfs, dfs, n_docs = shard
    args = (idfs, K1, B, AVG_DL, k)
    for require_all in (0, 2):
        for scorer in (Q._shard_exhaustive, Q._shard_wand):
            assert_topk(scorer(encs[:2], *args, require_all), k)
    assert_topk(Q._shard_phrase(encs, ["a", "b"], *args, slop=3), k)
    assert_topk(Q._shard_bool(encs, ["a"], ["b", "c"], ["d"], *args), k)
    assert_topk(Q._shard_bool(encs, [], ["b", "c"], [], *args), k)
    tops = Q.score_queries(encs, {0: ["a", "b"], 1: ["c"], 2: ["zz"]}, dfs,
                           K1, B, AVG_DL, k, n_docs=n_docs, wand="force")
    assert sorted(tops) == [0, 1]   # a query without a hit has no entry
    for top in tops.values():
        assert_topk(top, k)


def test_a_shard_without_a_hit_returns_the_typed_empty_result(shard):
    encs, idfs, _dfs, _n = shard
    args = (idfs, K1, B, AVG_DL, 5)
    empty = Q.EMPTY_TOPK
    assert_topk(empty, 0)
    assert Q._shard_exhaustive([], *args) is empty
    assert Q._shard_exhaustive(encs[:1], *args, 2) is empty
    assert Q._shard_wand(encs[:1], *args, 2) is empty
    assert Q._shard_phrase(encs, ["a", "zz"], *args) is empty
    assert Q._shard_bool(encs, ["zz"], ["a"], [], *args) is empty
    assert Q._shard_bool(encs, ["a"], [], ["a"], *args) is empty
    assert len(Q.merge_topk([], 5)) == 0


def _loop_accumulate(ids_parts, contrib_parts, require_all):
    """Reference: one Python float per doc, terms added in scan order."""
    score: dict[int, float] = {}
    hits: dict[int, int] = {}
    for ids, contrib in zip(ids_parts, contrib_parts):
        for d, c in zip(ids.tolist(), contrib.tolist()):
            score[d] = score.get(d, 0.0) + c
            hits[d] = hits.get(d, 0) + 1
    docs = sorted(d for d in score if hits[d] >= max(require_all, 1))
    return docs, [score[d] for d in docs]


@pytest.mark.parametrize("spread", [1, 10**6])
@pytest.mark.parametrize("require_all", [0, 3])
def test_accumulate_equals_the_loop_on_dense_and_sparse_spans(spread,
                                                              require_all):
    rng = np.random.default_rng(require_all)
    ids_parts, contrib_parts = [], []
    for _ in range(3):
        rows = np.sort(rng.choice(400, int(rng.integers(200, 400)),
                                  replace=False))
        ids_parts.append(BASE + rows * spread)
        contrib_parts.append(rng.random(rows.size) * 7.0)
    ids = np.concatenate(ids_parts)
    offset_bins = ids.max() - ids.min() < Q._DENSE_SPAN_PER_POSTING * ids.size
    assert offset_bins == (spread == 1), "both binnings must be exercised"
    docs, scores = Q._accumulate(ids_parts, contrib_parts, require_all)
    ref_docs, ref_scores = _loop_accumulate(ids_parts, contrib_parts,
                                            require_all)
    assert docs.dtype == np.int64 and docs.tolist() == ref_docs
    assert scores.tolist() == ref_scores, "sums must be bit-identical"


def test_accumulate_memory_follows_postings_not_the_id_span():
    ids_parts = [np.array([0, 10**7], dtype=np.int64)]
    tracemalloc.start()
    try:
        docs, _ = Q._accumulate(ids_parts, [np.ones(2)], 0)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert docs.tolist() == [0, 10**7]
    assert peak < 1 << 20, f"{peak} bytes traced for two postings"


def test_slop_does_not_reorder():
    """Lucene's sloppy phrase matches ``b a`` for the query ``a b`` at slop
    2 (a swap costs two moves); ``_shard_phrase`` keeps phrase order at
    every slop."""
    reordered, ordered = BASE, BASE + 1   # "b a" and "a x b"
    a = encode_postings(np.array([reordered, ordered]), np.array([1, 1]),
                        np.array([2, 3]), 4, positions=np.array([1, 0]))
    b = encode_postings(np.array([reordered, ordered]), np.array([1, 1]),
                        np.array([2, 3]), 4, positions=np.array([0, 2]))
    encs, idfs = [("a", a), ("b", b)], {"a": 1.0, "b": 1.0}
    for slop in (0, 1, 2, 3):
        top = Q._shard_phrase(encs, ["a", "b"], idfs, K1, B, AVG_DL, 5,
                              slop=slop)
        assert reordered not in top.doc_id.tolist()
        assert (ordered in top.doc_id.tolist()) == (slop >= 1)


def _two_terms(generation: str, cfg) -> tuple[str, str]:
    """A term held by every shard, and one held by a single shard that
    shares a doc with it; both analyze to themselves."""
    tbl = ds.dataset(f"{generation}/postings", format="parquet",
                     partitioning="hive").to_table(columns=["term", "shard"])
    shards: dict[str, set[int]] = {}
    for t, s in zip(tbl.column("term").to_pylist(),
                    tbl.column("shard").to_pylist()):
        if Q.analyze_query([t], cfg.tokenizer) == [t]:
            shards.setdefault(t, set()).add(s)
    n = len(set().union(*shards.values()))
    common = min(t for t, s in shards.items() if len(s) == n)
    searcher = LocalSearcher(generation)
    single = next(t for t in sorted(shards) if len(shards[t]) == 1
                  and searcher.search([common, t], 1, mode="and"))
    return common, single


def test_spark_shards_without_a_hit_pass_the_schema(spark, tiny_index,
                                                    pos_index):
    """The shards that hold only the common term score no hit, and their
    empty results still convert to the shard task's Arrow schema."""
    def pairs(df):
        return [(r["doc_id"], r["score"]) for r in df.collect()]

    gen = tiny_index[0]
    common, single = _two_terms(gen, tiny_index[1])
    q, batch = [common, single], {0: [common, single], 1: [single]}
    searcher = LocalSearcher(gen)
    assert pairs(Q.topk(spark, gen, q, 5, mode="and")) == \
        searcher.search(q, 5, mode="and")
    rows = Q.topk_batch(spark, gen, batch, 5, mode="and").collect()
    expect = searcher.search_batch(batch, 5, mode="and")
    assert {qid: [(r["doc_id"], r["score"]) for r in rows
                  if r["query_id"] == qid] for qid in batch} == expect
    assert pairs(Q.bool_topk(spark, gen, must=[single], should=[common],
                             k=5)) == \
        searcher.search_bool(must=[single], should=[common], k=5)

    pos = pos_index[0]
    common, single = _two_terms(pos, pos_index[1])
    positional = LocalSearcher(pos)
    assert pairs(Q.phrase_topk(spark, pos, [single, common], 5)) == \
        positional.search_phrase([single, common], 5)
    rows = Q.highlight_topk(spark, pos, [common, single], 5,
                            mode="and").collect()
    assert rows
    assert [(r["doc_id"], r["score"], r["term"],
             [int(p) for p in r["positions"].split(",")]) for r in rows] == \
        [(h["doc_id"], h["score"], h["term"], h["positions"])
         for h in positional.search_highlight([common, single], 5,
                                              mode="and")]


def test_serving_builds_no_pandas_frame(pos_index, monkeypatch):
    searcher = LocalSearcher(pos_index[0])

    def no_frames(*args, **kwargs):
        raise AssertionError("serving built a pandas DataFrame")

    monkeypatch.setattr(pd, "DataFrame", no_frames)
    assert searcher.search(["tokenIndex", "merge"], 5, wand=True)
    assert searcher.search_batch({0: ["merge"], 1: ["shard", "zzabsent"]}, 5)
    assert searcher.search_phrase(["token", "index"], 5)
    assert searcher.search_bool(must=["merge"], should=["shard"], k=5)
    assert searcher.search_highlight(["tokenIndex", "merge"], 5)
