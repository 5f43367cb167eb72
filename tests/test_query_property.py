"""Randomized property fuzz for the round-5 query kernels: bool queries
and slop phrases cross-checked against independent pure-Python references
(float-exact for scores, set-exact for membership) over the tiny corpus."""

import random

import numpy as np
import pytest

from elastic_indexer4s_spark.config import IndexConfig
from elastic_indexer4s_spark.functions.tokenizer import tokenize_py
from elastic_indexer4s_spark.operators import query as Q
from elastic_indexer4s_spark.operators.build import build_index
from elastic_indexer4s_spark.results import RunResult

VOCAB = ["token", "index", "merge", "stream", "shard", "batch", "query",
         "def", "return", "import", "cache", "heap", "scan", "join"]


@pytest.fixture(scope="module")
def fuzz_index(spark, tiny_corpus, tmp_path_factory):
    gen = str(tmp_path_factory.mktemp("fuzz") / "docs")
    rows = [(d.repo, d.path, d.commit, d.lang, d.content)
            for d in tiny_corpus]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string").repartition(4)
    cfg = IndexConfig(num_shards=4, block_size=16, store_positions=True)
    res = build_index(spark, df, cfg, gen)
    assert isinstance(res, RunResult), str(res)
    # python-side mirror: doc_id -> token list, plus global stats
    import os
    doclen = spark.read.parquet(os.path.join(gen, "doclen")).collect()
    key2id = {(r["repo"], r["path"], r["commit"]): r["doc_id"]
              for r in doclen}
    toks = {key2id[(d.repo, d.path, d.commit)]:
            tokenize_py(d.content, cfg.tokenizer) for d in tiny_corpus}
    n_docs = len(toks)
    avg_dl = sum(len(t) for t in toks.values()) / n_docs
    return gen, cfg, toks, n_docs, avg_dl


def _py_bm25(toks, n_docs, avg_dl, terms, docs, k1=1.2, b=0.75):
    """Per-doc BM25 sum over `terms` (ascending), identical fp order to
    the engine kernels (0.0 + c_t1 + c_t2 ... in float64)."""
    dfs = {t: sum(1 for tl in toks.values() if t in tl) for t in terms}
    out = {}
    for did in docs:
        tl = toks[did]
        dl = len(tl)
        s = np.float64(0.0)
        for t in sorted(set(terms)):
            tf = tl.count(t)
            if not tf or not dfs[t]:
                continue
            idf = np.float64(np.log(1.0 + (n_docs - dfs[t] + 0.5)
                                    / (dfs[t] + 0.5)))
            tf_ = np.float64(tf)
            s = s + idf * tf_ * np.float64(k1 + 1.0) / (
                tf_ + np.float64(k1) * np.float64(1.0 - b + b * dl / avg_dl))
        out[did] = float(s)
    return out


def test_bool_fuzz(spark, fuzz_index):
    gen, cfg, toks, n_docs, avg_dl = fuzz_index
    rng = random.Random("bool-fuzz")
    for trial in range(15):
        pool = rng.sample(VOCAB, rng.randint(3, 7))
        n_must = rng.randint(0, min(2, len(pool) - 1))
        must = pool[:n_must]
        must_not = [pool[-1]] if rng.random() < 0.6 else []
        should = [t for t in pool[n_must:-1] if t not in must_not]
        if not must and not should:
            continue
        got = {r["doc_id"]: r["score"] for r in Q.bool_topk(
            spark, gen, must=must, should=should, must_not=must_not,
            k=100000).collect()}
        scoring = sorted(set(must) | set(should))
        want_docs = set()
        for did, tl in toks.items():
            ts = set(tl)
            if any(t not in ts for t in must):
                continue
            if any(t in ts for t in must_not):
                continue
            if not must and not any(t in ts for t in should):
                continue
            want_docs.add(did)
        assert set(got) == want_docs, (trial, must, should, must_not)
        want = _py_bm25(toks, n_docs, avg_dl, scoring, want_docs)
        for did in want_docs:
            assert got[did] == pytest.approx(want[did], abs=0.0), \
                (trial, did)


def test_slop_phrase_fuzz(spark, fuzz_index):
    gen, cfg, toks, n_docs, avg_dl = fuzz_index
    rng = random.Random("slop-fuzz")
    checked = 0
    for trial in range(15):
        seq = [rng.choice(VOCAB) for _ in range(rng.randint(2, 3))]
        slop = rng.randint(0, 3)
        got = {r["doc_id"]: r["score"] for r in Q.phrase_topk(
            spark, gen, [" ".join(seq)], k=100000,
            slop=slop).collect()}

        def matches(tl):
            pos = {t: [i for i, x in enumerate(tl) if x == t]
                   for t in set(seq)}
            frontier = set(pos[seq[0]])
            for tok in seq[1:]:
                nxt = {q for q in pos[tok]
                       if any(q - d in frontier
                              for d in range(1, slop + 2))}
                if not nxt:
                    return False
                frontier = nxt
            return True

        want_docs = {did for did, tl in toks.items()
                     if all(t in tl for t in seq) and matches(tl)}
        assert set(got) == want_docs, (trial, seq, slop)
        want = _py_bm25(toks, n_docs, avg_dl, sorted(set(seq)), want_docs)
        for did in want_docs:
            assert got[did] == pytest.approx(want[did], abs=0.0)
        checked += len(want_docs)
    assert checked > 0  # the fuzz actually exercised matches
