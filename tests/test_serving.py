"""LocalSearcher (pyarrow, no Spark job) must be rank- AND score-identical
to the Spark scatter-gather query path on the same generation."""

import pytest

from elastic_indexer4s_spark.operators.query import topk
from elastic_indexer4s_spark.serving import LocalSearcher

QUERIES = [
    ["tokenIndex", "merge"],
    ["shard"],
    ["zqmarker0"],
    ["computeScore", "flushSegment", "the"],
    ["zzabsenttermzz"],
]


@pytest.fixture(scope="module")
def searcher(tiny_index):
    gen, _ = tiny_index
    return LocalSearcher(gen)


@pytest.mark.parametrize("mode", ["or", "and"])
@pytest.mark.parametrize("wand", [True, False])
def test_local_matches_spark(spark, tiny_index, searcher, wand, mode):
    gen, _ = tiny_index
    for q in QUERIES:
        via_spark = [(r["doc_id"], r["score"]) for r in
                     topk(spark, gen, q, 10, wand=wand, mode=mode).collect()]
        via_local = searcher.search(q, 10, wand=wand, mode=mode)
        assert via_local == via_spark, (q, wand, mode)


def test_local_count(tiny_index, searcher):
    assert searcher.count() == 200


def test_search_alias(spark, tiny_index, tmp_path):
    """search_alias resolves the published generation like a frontend would."""
    import shutil

    from elastic_indexer4s_spark.plans.catalog import GenerationCatalog
    from elastic_indexer4s_spark.serving import search_alias

    gen, _ = tiny_index
    root = tmp_path / "idx_root"
    dst = root / "docs_2026-01-01't'00.00.00"
    root.mkdir()
    shutil.copytree(gen, dst)
    GenerationCatalog(str(root)).add_alias("live", dst.name)
    got = search_alias(str(root), "live", ["tokenIndex", "merge"], 5)
    want = [(r["doc_id"], r["score"]) for r in
            topk(spark, gen, ["tokenIndex", "merge"], 5).collect()]
    assert got == want


def test_search_batch_matches_per_query(tiny_index):
    """search_batch (one artifact read for the query set) must equal
    per-query search for every query, in both scorer modes and under AND;
    an absent-term query is simply missing from the result dict."""
    from elastic_indexer4s_spark.serving import LocalSearcher

    gen, _cfg = tiny_index
    s = LocalSearcher(gen)
    qmap = {0: ["tokenIndex", "merge"], 1: ["sparkJoin"],
            2: ["window", "batch", "scan"], 3: ["zzabsenttermzz"]}
    for wand in (False, True):
        batch = s.search_batch(qmap, k=5, wand=wand)
        for qid, terms in qmap.items():
            single = s.search(terms, k=5, wand=wand)
            assert batch.get(qid, []) == single, (wand, qid)
    batch_and = s.search_batch(qmap, k=5, wand=True, mode="and")
    for qid, terms in qmap.items():
        single = s.search(terms, k=5, wand=True, mode="and")
        assert batch_and.get(qid, []) == single, qid


def test_read_counters_pin_marker_queries(searcher):
    """``last_read`` counts, per file set, the row groups present, the row
    groups read (selected by their footer ``term`` range) and the rows
    kept, for the last query.  At 200 docs every shard's postings file is
    one row group whose term range ends at a ``zqmarker`` term, so a marker
    query reads all 4 groups but keeps one row per shard that holds the
    marker; a term above every range reads nothing."""
    from elastic_indexer4s_spark.serving import ReadCount

    def counts(postings, dictionary):
        return {"postings": ReadCount(4, *postings),
                "dictionary": ReadCount(1, *dictionary)}

    searcher.search(["zqmarker0"])
    assert searcher.last_read == counts((4, 1), (1, 1))
    searcher.search(["zqmarker0", "zqmarker5"], wand=True)
    assert searcher.last_read == counts((4, 4), (1, 2))
    searcher.search(["zzabsenttermzz"])
    assert searcher.last_read == counts((0, 0), (0, 0))
    # one query: the expansion (12 markers) and the df lookup both read the
    # dictionary; the 12 markers' postings sit in 19 (shard, term) rows
    searcher.search_prefix("zqmarker", 5)
    assert searcher.last_read == counts((4, 19), (2, 24))


def test_shard_pool_matches_serial(tiny_index, searcher):
    """``n_threads > 1`` fans shards out over a thread pool; results and
    read counts must equal the default one-thread searcher's."""
    gen, _ = tiny_index
    pooled = LocalSearcher(gen, n_threads=4)
    assert searcher._pool is None and pooled._pool is not None
    for q in QUERIES:
        for wand in (False, True):
            for mode in ("or", "and"):
                assert (pooled.search(q, 10, wand=wand, mode=mode)
                        == searcher.search(q, 10, wand=wand, mode=mode)), q
                assert pooled.last_read == searcher.last_read, q
    qmap = dict(enumerate(QUERIES))
    assert (pooled.search_batch(qmap, 5, wand=True)
            == searcher.search_batch(qmap, 5, wand=True))
    assert (pooled.search_prefix("zqmarker", 5)
            == searcher.search_prefix("zqmarker", 5))
    assert pooled.last_read == searcher.last_read
    assert (pooled.search_hydrated(["tokenIndex", "merge"], 5)
            == searcher.search_hydrated(["tokenIndex", "merge"], 5))
