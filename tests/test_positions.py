"""Positional postings (round 5): codec round-trip, index-native phrase
against a token-stream oracle, serving twin, hydration, plan checks."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from elastic_indexer4s_spark.config import IndexConfig
from elastic_indexer4s_spark.functions import codec
from elastic_indexer4s_spark.operators import query as Q
from elastic_indexer4s_spark.serving import LocalSearcher


# ---------------------------------------------------------------------------
# codec: positions round-trip
# ---------------------------------------------------------------------------

def _rand_posting(rng, n_docs, max_tf=5):
    doc_ids = np.sort(rng.choice(10 * n_docs, size=n_docs, replace=False))
    tfs = rng.randint(1, max_tf + 1, size=n_docs).astype(np.int64)
    dls = rng.randint(10, 500, size=n_docs).astype(np.int64)
    pos = np.concatenate([
        np.sort(rng.choice(int(dls[i]) + int(tfs[i]), size=int(tfs[i]),
                           replace=False))
        for i in range(n_docs)]).astype(np.int64)
    return doc_ids.astype(np.int64), tfs, dls, pos


@pytest.mark.parametrize("seed,n_docs,block", [(0, 1, 4), (1, 7, 4),
                                               (2, 100, 16), (3, 1000, 128)])
def test_positions_roundtrip(seed, n_docs, block):
    rng = np.random.RandomState(seed)
    doc_ids, tfs, dls, pos = _rand_posting(rng, n_docs)
    enc = codec.encode_postings(doc_ids, tfs, dls, block, positions=pos)
    d, t, l = codec.decode_postings(enc)
    assert (d == doc_ids).all() and (t == tfs).all() and (l == dls).all()
    got = codec.decode_positions(enc)
    assert (got == pos).all()
    # tf-supplied decode path identical
    assert (codec.decode_positions(enc, tfs) == pos).all()


def test_positions_concat_merge():
    rng = np.random.RandomState(9)
    d1, t1, l1, p1 = _rand_posting(rng, 20)
    d2, t2, l2, p2 = _rand_posting(rng, 30)
    d2 = d2 + int(d1.max()) + 1          # disjoint ascending ranges
    e1 = codec.encode_postings(d1, t1, l1, 8, positions=p1)
    e2 = codec.encode_postings(d2, t2, l2, 8, positions=p2)
    m = codec.concat_postings([e1, e2])
    assert (codec.decode_positions(m) == np.concatenate([p1, p2])).all()
    # a position-less part poisons the merge to None (honest fallback)
    e3 = codec.encode_postings(d2 + 10_000, t2, l2, 8)
    assert codec.concat_postings([e1, e3]).pos_blob is None


def test_positions_row_roundtrip():
    rng = np.random.RandomState(4)
    d, t, l, p = _rand_posting(rng, 10)
    enc = codec.encode_postings(d, t, l, 4, positions=p)
    row = codec.enc_to_row("tok", enc, shard=0)
    back = codec.row_to_enc(row["df"], row["enc"], row["pos_blob"])
    assert (codec.decode_positions(back) == p).all()
    # a row without positions → pos_blob None
    assert codec.row_to_enc(row["df"], row["enc"]).pos_blob is None


# ---------------------------------------------------------------------------
# build + query: index-native phrase
# ---------------------------------------------------------------------------

def test_positions_present_in_artifact(spark, pos_index):
    gen, cfg, _src = pos_index
    import os
    post = spark.read.schema(codec.POSTINGS_DDL).parquet(
        os.path.join(gen, "postings"))
    assert post.filter(F.col("pos_blob").isNull()).count() == 0
    # positions per posting == tf, ascending within doc, < some bound
    r = post.orderBy(F.col("df").desc()).limit(3).collect()
    for row in r:
        enc = codec.row_to_enc(row["df"], row["enc"], row["pos_blob"])
        _d, tfs, _l = codec.decode_postings(enc)
        pos = codec.decode_positions(enc, tfs)
        assert pos.size == tfs.sum()
        off = np.concatenate(([0], np.cumsum(tfs)))
        for i in range(len(tfs)):
            seg = pos[off[i]:off[i + 1]]
            assert (np.diff(seg) > 0).all() and seg.min() >= 0


def test_positions_consistent_with_tokens(spark, pos_index, tiny_corpus):
    """Ground truth: decoded (term, doc, position) triples must equal the
    tokenizer's posting of the raw corpus."""
    import os
    from collections import defaultdict
    from elastic_indexer4s_spark.functions.tokenizer import tokenize_py

    gen, cfg, _src = pos_index
    doclen = spark.read.parquet(os.path.join(gen, "doclen")).collect()
    key2id = {(r["repo"], r["path"], r["commit"]): r["doc_id"]
              for r in doclen}
    truth = defaultdict(list)           # (term, doc_id) -> positions
    for d in tiny_corpus:
        did = key2id[(d.repo, d.path, d.commit)]
        for i, tok in enumerate(tokenize_py(d.content, cfg.tokenizer)):
            truth[(tok, did)].append(i)
    post = spark.read.schema(codec.POSTINGS_DDL).parquet(
        os.path.join(gen, "postings")).collect()
    seen = 0
    for row in post:
        enc = codec.row_to_enc(row["df"], row["enc"], row["pos_blob"])
        docs, tfs, _l = codec.decode_postings(enc)
        pos = codec.decode_positions(enc, tfs)
        off = np.concatenate(([0], np.cumsum(tfs)))
        for i, did in enumerate(docs):
            got = pos[off[i]:off[i + 1]].tolist()
            assert got == truth[(row["term"], did)], (row["term"], did)
            seen += 1
    assert seen == sum(1 for _ in truth)


def _collect_pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


# camelCase identifiers split into ADJACENT sub-tokens (tokenIndex →
# token index), marker docs end with "<marker> marker line" — both give
# real phrase hits; the last entry is absent from the vocabulary entirely
PHRASES = [["tokenIndex"], ["marker", "line"], ["zqmarker0", "marker"],
           ["def"], ["token", "index"], ["no such phrase here ever"]]


def _phrase_oracle(spark, gen, cfg, corpus, phrase, k):
    """Independent phrase ground truth: the docs whose ``tokenize_py``
    stream holds the analyzed sequence contiguously, scored by
    ``topk(mode="and")`` over the phrase, top ``k`` by (score desc,
    doc_id asc)."""
    from elastic_indexer4s_spark.functions.tokenizer import tokenize_py

    seq = [t for part in phrase for t in tokenize_py(part, cfg.tokenizer)]
    k2i = _key2id(spark, gen)
    docs = set()
    for d in corpus:
        toks = tokenize_py(d.content, cfg.tokenizer)
        if any(toks[i:i + len(seq)] == seq
               for i in range(len(toks) - len(seq) + 1)):
            docs.add(k2i[(d.repo, d.path, d.commit)])
    if not docs:
        return []
    scores = {r["doc_id"]: r["score"] for r in Q.topk(
        spark, gen, phrase, k=len(k2i), mode="and").collect()}
    return sorted(((d, scores[d]) for d in docs),
                  key=lambda p: (-p[1], p[0]))[:k]


def test_phrase_index_vs_content_parity(spark, pos_index, tiny_corpus):
    gen, cfg, _src = pos_index
    hits = 0
    for phrase in PHRASES:
        got = _collect_pairs(Q.phrase_topk(spark, gen, phrase, k=10))
        assert got == _phrase_oracle(spark, gen, cfg, tiny_corpus, phrase,
                                     10), phrase
        hits += len(got)
    assert hits


def test_phrase_order_and_multiplicity(spark, pos_index, tiny_corpus):
    gen, cfg, _src = pos_index
    # order matters: the reversed phrase has its own match set, each
    # checked against the token-stream oracle
    for phrase in (["index token"], ["token index"]):
        got = _collect_pairs(Q.phrase_topk(spark, gen, phrase, k=20))
        assert got == _phrase_oracle(spark, gen, cfg, tiny_corpus, phrase,
                                     20), phrase


def test_phrase_plan_never_touches_source(spark, pos_index):
    gen, cfg, _src = pos_index
    df = Q.phrase_topk(spark, gen, ["token", "index"], k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the whole plan reads only the postings artifact: no source/content
    # column, no doclen, no Spark file scan at all (the shard tasks of the
    # one MapInArrow read their postings files)
    assert "content" not in plan
    assert "doclen" not in plan
    assert "FileScan" not in plan and "MapInArrow" in plan


def test_phrase_positionless_generation_raises(spark, tiny_index):
    gen, cfg = tiny_index
    with pytest.raises(ValueError, match="store_positions"):
        Q.phrase_topk(spark, gen, ["merge"], k=5)


def test_positionless_custom_key_generation_raises(spark, tmp_path):
    """A position-less generation with a caller ``doc_key`` (no repo, path
    or commit column) rejects phrase and highlight with the same
    positions ValueError on both tiers."""
    from elastic_indexer4s_spark.operators.build import build_index
    from elastic_indexer4s_spark.results import RunResult

    rows = [(f"bucket{i % 4}", i, f"text tokenRun_{i} commonTerm", "go")
            for i in range(40)]
    src = spark.createDataFrame(
        rows, "bucket string, file_id long, content string, lang string")
    gen = str(tmp_path / "gen_key")
    cfg = IndexConfig(num_shards=2, block_size=16,
                      doc_key=("bucket", "file_id"))
    assert isinstance(build_index(spark, src, cfg, gen), RunResult)
    srv = LocalSearcher(gen)
    for call in (lambda: Q.phrase_topk(spark, gen, ["text", "token"]),
                 lambda: Q.phrase_topk_hydrated(spark, gen, ["text"]),
                 lambda: Q.highlight_topk(spark, gen, ["text"]),
                 lambda: srv.search_phrase(["text", "token"]),
                 lambda: srv.search_highlight(["text"])):
        with pytest.raises(ValueError, match="store_positions"):
            call()


def test_phrase_serving_parity(spark, pos_index):
    gen, cfg, _src = pos_index
    searcher = LocalSearcher(gen)
    for phrase in PHRASES:
        spark_hits = _collect_pairs(
            Q.phrase_topk(spark, gen, phrase, k=10))
        local_hits = searcher.search_phrase(phrase, k=10)
        assert spark_hits == local_hits, phrase


def test_phrase_serving_requires_positions(tiny_index):
    gen, cfg = tiny_index
    with pytest.raises(ValueError, match="store_positions"):
        LocalSearcher(gen).search_phrase(["merge"], k=5)


def test_phrase_hydrated(spark, pos_index):
    gen, cfg, _src = pos_index
    plain = _collect_pairs(
        Q.phrase_topk(spark, gen, ["marker", "line"], k=5))
    hyd = Q.phrase_topk_hydrated(spark, gen, ["marker", "line"],
                                 k=5).collect()
    assert [(r["doc_id"], r["score"]) for r in hyd] == plain
    assert [r["rank"] for r in hyd] == list(range(1, len(hyd) + 1))
    assert all(r["repo"] is not None and r["path"] is not None for r in hyd)
    # columns= projection contract: only the requested passthrough column
    proj = Q.phrase_topk_hydrated(spark, gen, ["marker", "line"],
                                  k=5, columns=["path"])
    assert proj.columns == ["rank", "doc_id", "path", "score"]


def test_bm25_results_unchanged_with_positions(spark, pos_index, tiny_index):
    """Positions are additive: BM25 top-k on the positions generation must
    equal the position-less generation built from the same corpus."""
    gen_pos, _, _ = pos_index
    gen_plain, _ = tiny_index
    for terms in (["tokenIndex", "merge"], ["the"], ["zqmarker3"]):
        a = _collect_pairs(Q.topk(spark, gen_pos, terms, 10, wand=True))
        b = _collect_pairs(Q.topk(spark, gen_plain, terms, 10, wand=True))
        assert a == b, terms


def _key2id(spark, gen):
    import os
    doclen = spark.read.parquet(os.path.join(gen, "doclen")).collect()
    return {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in doclen}


def test_phrase_slop_monotone_and_groundtruth(spark, pos_index, tiny_corpus):
    from elastic_indexer4s_spark.functions.tokenizer import tokenize_py
    from elastic_indexer4s_spark.serving import LocalSearcher

    gen, cfg, _src = pos_index
    phrase = ["token", "index"]
    sets = {}
    for slop in (0, 1, 3):
        hits = Q.phrase_topk(spark, gen, phrase, k=1000,
                             slop=slop).collect()
        sets[slop] = {r["doc_id"] for r in hits}
    # ordered proximity is monotone in slop, anchored at the exact phrase
    assert sets[0] <= sets[1] <= sets[3]
    assert len(sets[3]) >= len(sets[0])
    # ground truth for slop=1: some "index" 1..2 positions after a "token"
    k2i = _key2id(spark, gen)
    truth = set()
    for d in tiny_corpus:
        toks = tokenize_py(d.content, cfg.tokenizer)
        ps = {i for i, t in enumerate(toks) if t == "token"}
        qs = [i for i, t in enumerate(toks) if t == "index"]
        if any((q - 1 in ps) or (q - 2 in ps) for q in qs):
            truth.add(k2i[(d.repo, d.path, d.commit)])
    assert sets[1] == truth
    # serving twin is rank-identical
    spark_hits = [(r["doc_id"], r["score"]) for r in Q.phrase_topk(
        spark, gen, phrase, k=10, slop=1).collect()]
    assert spark_hits == LocalSearcher(gen).search_phrase(phrase, k=10,
                                                          slop=1)


def test_highlight_positions(spark, pos_index, tiny_corpus):
    from elastic_indexer4s_spark.functions.tokenizer import tokenize_py

    gen, cfg, _src = pos_index
    res = Q.highlight_topk(spark, gen, ["tokenIndex", "merge"],
                           k=5).collect()
    assert res
    # top docs must equal the plain BM25 top-5 with identical scores
    plain = Q.topk(spark, gen, ["tokenIndex", "merge"], 5).collect()
    want = {r["doc_id"]: r["score"] for r in plain}
    got_docs = {r["doc_id"] for r in res}
    assert got_docs == set(want)
    id2doc = {v: k for k, v in _key2id(spark, gen).items()}
    bykey = {(d.repo, d.path, d.commit): d for d in tiny_corpus}
    for r in res:
        assert r["score"] == want[r["doc_id"]]
        toks = tokenize_py(bykey[id2doc[r["doc_id"]]].content,
                           cfg.tokenizer)
        truth = [i for i, t in enumerate(toks) if t == r["term"]]
        assert r["positions"] == ",".join(map(str, truth)), r
    # every (doc, term-present) pair is covered
    for did in got_docs:
        toks = set(tokenize_py(bykey[id2doc[did]].content, cfg.tokenizer))
        present = {t for t in ("token", "index", "merge") if t in toks}
        assert {r["term"] for r in res if r["doc_id"] == did} == present


def test_highlight_requires_positions(spark, tiny_index):
    gen, cfg = tiny_index
    with pytest.raises(ValueError, match="store_positions"):
        Q.highlight_topk(spark, gen, ["merge"], k=5)


def test_bool_query_semantics(spark, pos_index, tiny_corpus):
    from elastic_indexer4s_spark.functions.tokenizer import tokenize_py
    from elastic_indexer4s_spark.serving import LocalSearcher

    gen, cfg, _src = pos_index
    must, should, must_not = ["token"], ["merge", "index"], ["stream"]
    res = Q.bool_topk(spark, gen, must=must, should=should,
                      must_not=must_not, k=1000).collect()
    got = {r["doc_id"]: r["score"] for r in res}
    assert got
    # ground truth membership
    k2i = _key2id(spark, gen)
    scores_all = {r["doc_id"]: r["score"] for r in Q.topk(
        spark, gen, ["token", "merge", "index"], k=100000).collect()}
    for d in tiny_corpus:
        toks = set(tokenize_py(d.content, cfg.tokenizer))
        did = k2i[(d.repo, d.path, d.commit)]
        member = "token" in toks and "stream" not in toks
        assert (did in got) == member, (did, toks & {"token", "stream"})
        if member:
            # score equals the plain OR-BM25 over the scoring terms
            assert got[did] == scores_all[did]
    # must-less bool = pure disjunction over should
    a = [(r["doc_id"], r["score"]) for r in Q.bool_topk(
        spark, gen, should=["merge", "index"], k=20).collect()]
    b = [(r["doc_id"], r["score"]) for r in Q.topk(
        spark, gen, ["merge", "index"], 20).collect()]
    assert a == b
    # serving twin parity
    srv = LocalSearcher(gen)
    spark_hits = [(r["doc_id"], r["score"]) for r in Q.bool_topk(
        spark, gen, must=must, should=should, must_not=must_not,
        k=10).collect()]
    assert srv.search_bool(must=must, should=should, must_not=must_not,
                           k=10) == spark_hits
    # conflicting legs rejected
    with pytest.raises(ValueError, match="excluded and matched"):
        Q.bool_topk(spark, gen, must=["token"], must_not=["token"], k=5)
    with pytest.raises(ValueError, match="excluded and matched"):
        srv.search_bool(must=["token"], must_not=["token"], k=5)


def test_prefix_and_fuzzy_expansion(spark, pos_index, tiny_corpus):
    from collections import Counter

    from elastic_indexer4s_spark.functions.tokenizer import tokenize_py

    gen, cfg, _src = pos_index
    vocab = Counter()
    for d in tiny_corpus:
        vocab.update(set(tokenize_py(d.content, cfg.tokenizer)))
    # expansion = alphabetically-first cap over the true term universe
    want = sorted(t for t in vocab if t.startswith("so"))[:5]
    got = Q.expand_terms(spark, gen, prefix="so", max_expansions=5)
    assert got == want and got
    # a capped expansion drops the alphabetical tail deterministically
    all_s = sorted(t for t in vocab if t.startswith("s"))
    capped = Q.expand_terms(spark, gen, prefix="s", max_expansions=3)
    assert capped == all_s[:3] and len(all_s) > 3
    # fuzzy: a 1-edit typo of a real term finds it
    fz = Q.expand_terms(spark, gen, fuzzy="mergee", max_edit=1)
    assert "merge" in fz
    # prefix_topk == plain BM25 over the expanded terms
    a = [(r["doc_id"], r["score"]) for r in
         Q.prefix_topk(spark, gen, "so", k=10, max_expansions=5).collect()]
    b = [(r["doc_id"], r["score"]) for r in
         Q.topk(spark, gen, want, 10).collect()]
    assert a == b and a
    # no match -> empty frames
    assert Q.prefix_topk(spark, gen, "zzzz", k=5).count() == 0
    assert Q.fuzzy_topk(spark, gen, "qqqqqqqqqq", k=5, max_edit=1).count() == 0


def test_prefix_fuzzy_serving_parity(spark, pos_index):
    from elastic_indexer4s_spark.serving import LocalSearcher

    gen, cfg, _src = pos_index
    srv = LocalSearcher(gen)
    assert srv.expand_terms(prefix="so", max_expansions=5) == \
        Q.expand_terms(spark, gen, prefix="so", max_expansions=5)
    assert srv.expand_terms(fuzzy="mergee", max_edit=1) == \
        Q.expand_terms(spark, gen, fuzzy="mergee", max_edit=1)
    a = [(r["doc_id"], r["score"]) for r in
         Q.prefix_topk(spark, gen, "so", k=10, max_expansions=5).collect()]
    assert srv.search_prefix("so", k=10, max_expansions=5) == a and a
    b = [(r["doc_id"], r["score"]) for r in
         Q.fuzzy_topk(spark, gen, "mergee", k=10, max_edit=1).collect()]
    assert srv.search_fuzzy("mergee", k=10, max_edit=1) == b and b
    # pure-Python levenshtein == Spark's (sampled over the vocabulary)
    from elastic_indexer4s_spark.serving import _levenshtein
    from pyspark.sql import functions as SF
    d = spark.read.parquet(gen + "/dictionary").limit(200)
    rows = d.select("term", SF.levenshtein("term",
                                           SF.lit("mergee")).alias("lv")
                    ).collect()
    for r in rows:
        assert _levenshtein(r["term"], "mergee") == r["lv"], r["term"]


def test_facet_counts(spark, pos_index, tiny_corpus):
    from collections import Counter

    from elastic_indexer4s_spark.functions.tokenizer import tokenize_py

    gen, cfg, _src = pos_index
    got = {r["facet"]: r["n"] for r in
           Q.facet_counts(spark, gen, ["tokenIndex", "merge"],
                          "lang").collect()}
    want = Counter()
    for d in tiny_corpus:
        toks = set(tokenize_py(d.content, cfg.tokenizer))
        if {"token", "index", "merge"} & toks:
            want[d.lang] += 1
    assert got == dict(want)
    # mode="and": only docs holding every analyzed term
    got_and = {r["facet"]: r["n"] for r in
               Q.facet_counts(spark, gen, ["tokenIndex", "merge"], "lang",
                              mode="and").collect()}
    want_and = Counter()
    for d in tiny_corpus:
        toks = set(tokenize_py(d.content, cfg.tokenizer))
        if {"token", "index", "merge"} <= toks:
            want_and[d.lang] += 1
    assert got_and == dict(want_and) and got_and
    with pytest.raises(ValueError, match="passthrough"):
        Q.facet_counts(spark, gen, ["merge"], "sha256")
    with pytest.raises(ValueError, match="passthrough"):
        Q.facet_counts(spark, gen, ["merge"], "nosuchcol")


def test_search_highlight_serving_parity(spark, pos_index):
    gen, cfg, _src = pos_index
    sp = Q.highlight_topk(spark, gen, ["tokenIndex", "merge"], k=5).collect()
    srv = LocalSearcher(gen).search_highlight(["tokenIndex", "merge"], k=5)
    a = [(r["doc_id"], r["score"], r["term"], r["positions"]) for r in sp]
    b = [(d["doc_id"], d["score"], d["term"],
          ",".join(map(str, d["positions"]))) for d in srv]
    assert a == b and a


def test_search_highlight_requires_positions(tiny_index):
    gen, cfg = tiny_index
    with pytest.raises(ValueError, match="store_positions"):
        LocalSearcher(gen).search_highlight(["merge"], k=5)


def test_phrase_multi_segments(spark, tiny_corpus, tmp_path_factory):
    """Segment-spanning phrase query: per-segment index-native phrase,
    merged — the streaming-serving shape for match_phrase."""
    from elastic_indexer4s_spark.plans.catalog import GenerationCatalog
    from elastic_indexer4s_spark.streaming.incremental import phrase_multi
    from elastic_indexer4s_spark.operators.build import build_index
    from elastic_indexer4s_spark.results import RunResult

    root = str(tmp_path_factory.mktemp("pm") / "root")
    cfg = IndexConfig(num_shards=2, block_size=16, store_positions=True)
    cat = GenerationCatalog(root)
    half = len(tiny_corpus) // 2
    for i, chunk in enumerate((tiny_corpus[:half], tiny_corpus[half:])):
        rows = [(d.repo, d.path, d.commit, d.lang, d.content)
                for d in chunk]
        df = spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, "
                  "content string")
        name = f"seg_{i}"
        res = build_index(spark, df, cfg, cat.path(name))
        assert isinstance(res, RunResult), str(res)
        cat.register(name)
        cat.add_alias("live-segments", name)
    got = [(r["doc_id"], r["score"], r["segment"]) for r in
           phrase_multi(spark, root, ["marker", "line"], k=20).collect()]
    assert got
    per = []
    for i in range(2):
        per += [(r["doc_id"], r["score"], f"seg_{i}") for r in
                Q.phrase_topk(spark, cat.path(f"seg_{i}"),
                              ["marker", "line"], k=20).collect()]
    per.sort(key=lambda t: (-t[1], t[2], t[0]))
    assert got == per[:20]


def test_salted_positions_build_matches_unsalted(spark, pos_index,
                                                 salted_pos_index):
    """Positions and hot-term salting combine: a positions build whose
    stopword-like terms are salted answers phrase, slop-phrase, highlight
    and serving phrase queries exactly like the unsalted ``pos_index``."""
    gen, _cfg, _src = pos_index
    salted = salted_pos_index

    def hot_enc(g):
        rows = (spark.read.schema(codec.POSTINGS_DDL).parquet(f"{g}/postings")
                .filter(F.col("term").isin("def", "return", "import"))
                .collect())
        return {(r["shard"], r["term"]): bytes(r["enc"]) for r in rows}

    # the hot lists really were laid out differently
    plain, split = hot_enc(gen), hot_enc(salted)
    assert plain.keys() == split.keys() and plain != split

    base, other = LocalSearcher(gen), LocalSearcher(salted)
    cases = [(p, 0) for p in PHRASES] + [(["token", "index"], 1),
                                         (["def", "return"], 2)]
    hits = 0
    for phrase, slop in cases:
        want = _collect_pairs(Q.phrase_topk(spark, gen, phrase, k=10,
                                            slop=slop))
        got = _collect_pairs(Q.phrase_topk(spark, salted, phrase,
                                           k=10, slop=slop))
        assert got == want, (phrase, slop)
        assert other.search_phrase(phrase, k=10, slop=slop) == \
            base.search_phrase(phrase, k=10, slop=slop), (phrase, slop)
        hits += len(want)
    assert hits
    for terms in (["tokenIndex", "merge"], ["def", "return"]):
        want = [tuple(r) for r in Q.highlight_topk(spark, gen, terms,
                                                   k=5).collect()]
        got = [tuple(r) for r in Q.highlight_topk(spark, salted, terms,
                                                  k=5).collect()]
        assert got == want and want, terms
