"""Round-4 fixes (VERDICT r3 + ADVICE): NaN ordering in ANN top-k,
null-content docs kept by the build, fs cache-hit path parity,
observer persist leak."""

import os

import pytest
from pyspark.sql import functions as F

from elastic_indexer4s_spark.operators import dedup, similarity


# ---------------------------------------------------------------------------
# ADVICE medium: zero-norm vectors must rank LAST (NaN -> NULL), not first
# ---------------------------------------------------------------------------

def _vecs(spark, rows, dim=8):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>")


def test_zero_norm_vector_ranks_last_brute_force(spark):
    dim = 8
    base = [0.0] * dim
    rows = [(0, [1.0] + base[1:]),
            (1, [0.9, 0.1] + base[2:]),
            (2, base)]                       # zero-norm -> NaN cosine
    vecs = _vecs(spark, rows, dim)
    q = (vecs.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = similarity.brute_force_topk(vecs, q, k=3, id_col="vec_id")
    got = [(r["rank"], r["vec_id"], r["cosine"])
           for r in out.orderBy("rank").collect()]
    assert [g[1] for g in got] == [0, 1, 2]
    assert got[0][2] == pytest.approx(1.0)
    assert got[2][2] is None                 # NULL score, NULLS LAST


def test_zero_norm_vector_ranks_last_ivf(spark):
    dim = 8
    # zero vector lands in cell argmax(all-zero scores) = 0; make the query
    # probe every cell so the zero vector is always a candidate
    rows = [(i, [float(i == j) for j in range(dim)]) for i in range(4)]
    rows.append((9, [0.0] * dim))
    vecs = _vecs(spark, rows, dim)
    q = (vecs.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = similarity.ivf_topk(vecs, q, k=5, n_centroids=4, n_probe=4, dim=dim)
    got = out.orderBy("rank").collect()
    assert got[0]["vec_id"] == 0
    # the zero vector must be the LAST ranked row with a NULL score
    assert got[-1]["vec_id"] == 9 and got[-1]["cosine"] is None


# ---------------------------------------------------------------------------
# ADVICE low: the build must not drop null-content docs
# ---------------------------------------------------------------------------

def test_tok_dedup_keeps_null_content_docs(spark, tmp_path):
    from elastic_indexer4s_spark.config import IndexConfig
    from elastic_indexer4s_spark.operators.build import build_index
    from elastic_indexer4s_spark.results import RunResult

    rows = [("r", f"p{i}", "c", "py", f"alpha beta doc{i}") for i in range(6)]
    rows.append(("r", "pnull", "c", "py", None))
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    gen = str(tmp_path / "gen")
    res = build_index(spark, df, IndexConfig(num_shards=2), gen)
    assert isinstance(res, RunResult), str(res)
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    assert doclen.count() == 7
    assert doclen.filter(doclen.path == "pnull").count() == 1


# ---------------------------------------------------------------------------
# ADVICE low: fs cache hit must derive the same inner path as the miss
# ---------------------------------------------------------------------------

def test_fs_resolve_unquotes_on_cache_hit(tmp_path):
    from elastic_indexer4s_spark import fs as FS

    d = tmp_path / "a b"
    d.mkdir()
    (d / "f.txt").write_text("x")
    uri = f"file://{tmp_path}/a%20b/f.txt"
    FS._FS_CACHE.pop("file://", None)        # force the miss path first
    _, p_miss = FS.resolve(uri)
    _, p_hit = FS.resolve(uri)               # now served from cache
    assert p_miss == p_hit
    assert FS.exists(uri)                    # decoded path really resolves


# ---------------------------------------------------------------------------
# ADVICE low: observer path must not leak cached partitions
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# VERDICT r3 #1: the guard-firing contract corpora really trip the guards
# ---------------------------------------------------------------------------

def test_guarded_contract_corpora_trip_the_guards(spark):
    """The new dedup_*_guarded contract rows are only evidence if their
    corpora make the skew guards FIRE — the observers must report nonzero
    pruned shingles / dropped buckets at the smallest sf (guards fire at
    every sf by construction: df = N >= 50, bucket = N/2 >= 25)."""
    from elastic_indexer4s_spark import driver_contract as dc

    sf = "/root/testdata/sf0.001"
    ev1 = []
    dedup.ngram_jaccard_pairs(
        dc._ngram_guarded_docs(spark, sf), threshold=0.8,
        max_shingle_df=40, observer=ev1.append).collect()
    assert ev1[0]["pruned_shingles"] > 0

    ev2 = []
    out = dedup.minhash_lsh_pairs(
        dc._minhash_guarded_docs(spark, sf), num_hashes=16, bands=4,
        min_est_sim=0.5, max_bucket_size=20, observer=ev2.append)
    rows = out.collect()
    assert ev2[0]["dropped_buckets"] >= 4      # the identical half, per band
    # pairs among the identical (even) docs lived ONLY in dropped buckets
    assert all(r["id_a"] % 2 == 1 or r["id_b"] % 2 == 1 for r in rows)


# ---------------------------------------------------------------------------
# VERDICT r3 #2: multi-table OR-amplified LSH
# ---------------------------------------------------------------------------

def test_multi_table_lsh_superset_and_dedup(spark):
    """n_tables=T candidates are a superset of every single table's; each
    (query, id) appears once; table 0 equals the single-table family."""
    import numpy as np

    rng = np.random.RandomState(7)
    dim = 16
    rows = [(i, [float(x) for x in rng.randn(dim)]) for i in range(200)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = (vecs.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    single = similarity.lsh_topk(vecs, q, k=10, n_planes=4, dim=dim)
    multi = similarity.lsh_topk(vecs, q, k=10, n_planes=4, dim=dim,
                                n_tables=4)
    # no duplicate result rows
    assert multi.count() == \
        multi.dropDuplicates(["query_id", "vec_id"]).count()
    # table-0 buckets of the multi index == the single-table buckets
    mb = {(r["vec_id"]): r["bucket"]
          for r in similarity.lsh_buckets_multi(
              vecs, n_planes=4, n_tables=4, dim=dim)
          .filter(F.col("table") == 0).collect()}
    sb = {r["vec_id"]: r["bucket"]
          for r in similarity.lsh_buckets(vecs, n_planes=4, dim=dim)
          .collect()}
    assert mb == sb
    # recall vs exact is monotone: multi >= single (strict on this corpus)
    exact = similarity.brute_force_topk(vecs, q, k=10)
    r1 = {r["query_id"]: r["recall"] for r in
          similarity.recall_at_k(single, exact, 10).collect()}
    r4 = {r["query_id"]: r["recall"] for r in
          similarity.recall_at_k(multi, exact, 10).collect()}
    assert all(r4[qid] >= r1[qid] for qid in r1)
    assert sum(r4.values()) > sum(r1.values())


def test_lsh_topk_materialized_index_matches_computed(spark, tmp_path):
    """A stored multi-table inverted file (table, bucket columns, ideally
    partitionBy on disk) must return exactly what the query-time bucket
    computation returns — the 10^9-vector serving path, mirroring
    ivf_topk's `cell` column."""
    import numpy as np

    rng = np.random.RandomState(11)
    dim = 16
    rows = [(i, [float(x) for x in rng.randn(dim)]) for i in range(150)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = (vecs.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    path = str(tmp_path / "lsh_index")
    similarity.lsh_buckets_multi(vecs, n_planes=4, n_tables=3, dim=dim) \
        .write.partitionBy("table", "bucket").parquet(path)
    mat = spark.read.parquet(path)
    computed = similarity.lsh_topk(vecs, q, k=8, n_planes=4, dim=dim,
                                   n_tables=3)
    stored = similarity.lsh_topk(mat, q, k=8, n_planes=4, dim=dim,
                                 n_tables=3)
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])  # noqa: E731
    assert sorted(map(key, computed.collect())) == \
        sorted(map(key, stored.collect()))
    # misuse guards
    with pytest.raises(ValueError, match="multi-table index"):
        similarity.lsh_topk(mat, q, k=8, n_planes=4, dim=dim)
    single = similarity.lsh_buckets(vecs, n_planes=4, dim=dim)
    with pytest.raises(ValueError, match="needs a materialized"):
        similarity.lsh_topk(single, q, k=8, n_planes=4, dim=dim, n_tables=3)
    # param-mismatch guards via stamped metadata (the vec column keeps it
    # through the hive-partitioned round-trip even though the bucket
    # partition column loses its field metadata)
    with pytest.raises(ValueError, match="n_planes=4, queried with"):
        similarity.lsh_topk(mat, q, k=8, n_planes=8, dim=dim, n_tables=3)
    with pytest.raises(ValueError, match="n_tables=3, queried with"):
        similarity.lsh_topk(mat, q, k=8, n_planes=4, dim=dim, n_tables=2)
    # true partition pruning: the scan's PartitionFilters must carry
    # VALUE-BEARING IN predicates on the partition columns (an unpruned
    # scan prints only isnotnull guards; inputFiles() cannot be used — it
    # lists the relation's files BEFORE pruning).  Static probe-derived
    # filters are required because the broadcast equijoin alone never
    # triggers dynamic partition pruning.
    import re

    plan = similarity.lsh_topk(
        mat, q, k=8, n_planes=4, dim=dim,
        n_tables=3)._jdf.queryExecution().executedPlan().toString()
    pf = re.search(r"PartitionFilters: \[[^\]]*\]", plan).group(0)
    assert re.search(r"bucket#\d+ IN(SET)? ", pf), pf
    assert re.search(r"table#\d+ IN(SET)? ", pf), pf


def test_repetition_metrics_property_fuzz(spark):
    """repetition_metrics == a pure-Python reference on randomized docs
    (repetitive and non-repetitive shapes, blank lines, punctuation)."""
    import random
    import re as _re

    from elastic_indexer4s_spark.operators import textstats

    rng = random.Random(1234)
    # includes 1-char tokens (dropped by the tokenizer's len>=2 filter)
    # and punctuation-bearing "words" (split into multiple tokens)
    words = ["alpha", "beta", "gamma", "delta", "x1", "y2", "nav", "bar",
             "a", "7", "foo.bar", "x,y"]
    docs = []
    for i in range(60):
        n_lines = rng.randint(0, 6)
        lines = []
        for _ in range(n_lines):
            if rng.random() < 0.4 and lines:
                lines.append(rng.choice(lines))          # duplicate a line
            else:
                lines.append(" ".join(rng.choices(words,
                                                  k=rng.randint(0, 5))))
        if rng.random() < 0.2:
            lines.append("   ")                          # blank-ish line
        if rng.random() < 0.2:
            lines.append("\t")   # tab-only: NON-blank under space-only trim
        docs.append((i, "\n".join(lines)))

    def ref(text):
        # Spark F.trim and DuckDB trim strip SPACES only — a tab-only line
        # counts as non-blank in both engines, so the reference must use
        # strip(' '), not the all-whitespace str.strip()
        lines = [ln for ln in text.split("\n") if ln.strip(" ")]
        n = len(lines)
        dup = round((n - len(set(lines))) / n, 6) if n else 0.0
        # simple_tokens_expr drops tokens shorter than 2 chars
        toks = [t for t in _re.findall(r"[a-z0-9]+", text.lower())
                if len(t) >= 2]
        bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        if bigrams:
            from collections import Counter
            c = Counter(bigrams)
            top = round(max(c.values()) / len(bigrams), 6)
        else:
            top = 0.0
        return n, dup, top

    out = {r["doc_id"]: r for r in textstats.repetition_metrics(
        spark.createDataFrame(docs, "doc_id long, text string")).collect()}
    for i, text in docs:
        n, dup, top = ref(text)
        r = out[i]
        assert (r["n_lines"], r["dup_line_ratio"],
                r["top_bigram_ratio"]) == (n, dup, top), (i, text)


def test_repetition_metrics_edges(spark):
    from elastic_indexer4s_spark.operators import textstats

    rows = [
        (0, "nav bar\nnav bar\nnav bar\nunique line"),   # 3 dup of 4 lines
        (1, "spam spam spam spam"),                       # one bigram looped
        (2, "all distinct words here now"),
        (3, ""),                                          # no lines/bigrams
        (4, "one"),                                       # 1 line, no bigram
    ]
    out = {r["doc_id"]: r for r in textstats.repetition_metrics(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[0]["n_lines"] == 4
    assert out[0]["dup_line_ratio"] == pytest.approx(0.5)     # 4 lines, 2 distinct
    assert out[1]["top_bigram_ratio"] == pytest.approx(1.0)   # "spam spam" x3
    assert out[2]["dup_line_ratio"] == 0.0
    assert out[2]["top_bigram_ratio"] == pytest.approx(0.25)
    assert out[3]["n_lines"] == 0 and out[3]["dup_line_ratio"] == 0.0
    assert out[4]["n_lines"] == 1 and out[4]["top_bigram_ratio"] == 0.0


# ---------------------------------------------------------------------------
# VERDICT r3 missing #1: top-k result hydration
# ---------------------------------------------------------------------------

def test_topk_hydrated_matches_serving_and_carries_source(spark, tiny_index):
    from elastic_indexer4s_spark.operators.query import topk, topk_hydrated
    from elastic_indexer4s_spark.serving import LocalSearcher

    gen, _cfg = tiny_index
    terms = ["tokenIndex", "merge"]
    plain = [(r["doc_id"], round(r["score"], 9))
             for r in topk(spark, gen, terms, k=5, wand=True).collect()]
    hyd = topk_hydrated(spark, gen, terms, k=5, wand=True).collect()
    # same ids/scores/order as the plain query
    assert [(r["doc_id"], round(r["score"], 9)) for r in hyd] == plain
    assert [r["rank"] for r in hyd] == list(range(1, len(hyd) + 1))
    # passthrough columns are populated
    for r in hyd:
        assert r["repo"] and r["path"] and r["lang"]
    # serving twin returns the identical hydrated rows
    srv = LocalSearcher(gen).search_hydrated(terms, k=5, wand=True)
    assert [(h["rank"], h["doc_id"], round(h["score"], 9),
             h["repo"], h["path"], h["lang"]) for h in srv] == \
        [(r["rank"], r["doc_id"], round(r["score"], 9),
          r["repo"], r["path"], r["lang"]) for r in hyd]
    # column subset selection
    sub = LocalSearcher(gen).search_hydrated(terms, k=3, columns=["path"])
    assert set(sub[0].keys()) == {"rank", "doc_id", "score", "path"}
    # absent term -> empty, not error
    assert LocalSearcher(gen).search_hydrated(["zzabsenttermzz"]) == []


def test_phrase_topk_adjacency_semantics(spark, tmp_path):
    """match_phrase: only docs where the analyzed token SEQUENCE occurs —
    docs containing both terms non-adjacently fail the adjacency check;
    scores equal the conjunctive BM25 of the terms."""
    from elastic_indexer4s_spark.config import IndexConfig
    from elastic_indexer4s_spark.operators.build import build_index
    from elastic_indexer4s_spark.operators.query import phrase_topk, topk
    from elastic_indexer4s_spark.results import RunResult

    rows = [
        ("r", "p0", "c", "py", "alpha beta gamma"),          # phrase
        ("r", "p1", "c", "py", "beta alpha nothing beta"),   # both, not adj
        ("r", "p2", "c", "py", "alpha only here"),           # one term
        ("r", "p3", "c", "py", "xx alpha beta yy"),          # phrase inside
        ("r", "p4", "c", "py", "alphabeta fused"),           # fused != phrase
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    gen = str(tmp_path / "gen")
    res = build_index(spark, df,
                      IndexConfig(num_shards=2, store_positions=True), gen)
    assert isinstance(res, RunResult), str(res)

    out = phrase_topk(spark, gen, ["alpha", "beta"], k=10).collect()
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    path_of = {r["doc_id"]: r["path"] for r in doclen.collect()}
    assert sorted(path_of[r["doc_id"]] for r in out) == ["p0", "p3"]
    # phrase scores == conjunctive BM25 of the same docs
    and_scores = {r["doc_id"]: r["score"]
                  for r in topk(spark, gen, ["alpha", "beta"], k=100,
                                mode="and").collect()}
    for r in out:
        assert r["score"] == and_scores[r["doc_id"]]
    # absent phrase and unseen terms -> empty, not error
    assert phrase_topk(spark, gen, ["gamma", "alpha"], k=10).count() == 0
    assert phrase_topk(spark, gen, ["zz_absent"], k=10).count() == 0
    # repeated-term phrase requires actual repetition
    rep = phrase_topk(spark, gen, ["beta", "beta"], k=10).count()
    assert rep == 0
    # ORDER matters: "beta alpha" matches only p1, never the "alpha beta"
    rev = phrase_topk(spark, gen, ["beta", "alpha"], k=10).collect()
    assert [path_of[r["doc_id"]] for r in rev] == ["p1"]


def test_topk_batch_hydrated_matches_per_query(spark, tiny_index):
    from elastic_indexer4s_spark.operators.query import (topk_batch,
                                                         topk_batch_hydrated)

    gen, _cfg = tiny_index
    qmap = {0: ["tokenIndex", "merge"], 1: ["window", "batch"]}
    plain = {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
             for r in topk_batch(spark, gen, qmap, k=5, wand=True).collect()}
    hyd = topk_batch_hydrated(spark, gen, qmap, k=5, wand=True).collect()
    got = {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
           for r in hyd}
    assert got == plain
    assert all(r["repo"] and r["path"] and r["lang"] for r in hyd)


def test_alias_manifest_concurrent_writers_lose_no_updates(tmp_path):
    """Two writers mutating the alias manifest concurrently (the streaming
    drain registering segments + a compaction adding its generation) must
    lose NO entries: the lock serializes read-modify-write, where the
    round-3 code only made each final rename atomic."""
    import threading

    from elastic_indexer4s_spark.plans.catalog import GenerationCatalog

    cat = GenerationCatalog(str(tmp_path / "root"))
    n = 25
    errs = []

    def drain():
        try:
            for i in range(n):
                cat.add_alias("stream_live", f"seg_{i}")
        except Exception as e:                     # pragma: no cover
            errs.append(e)

    def compact():
        try:
            for i in range(n):
                cat.add_alias("compacted", f"gen_{i}")
                cat.add_alias("stream_live", f"cseg_{i}")
        except Exception as e:                     # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=drain),
               threading.Thread(target=compact)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    live = set(cat._read_aliases()["stream_live"])
    assert live == {f"seg_{i}" for i in range(n)} \
        | {f"cseg_{i}" for i in range(n)}
    assert set(cat._read_aliases()["compacted"]) == \
        {f"gen_{i}" for i in range(n)}
    # the lock file itself must not linger
    import os as _os
    assert not _os.path.exists(str(tmp_path / "root" / "_aliases.json.lock"))


def test_alias_lock_stale_breaker(tmp_path):
    """An abandoned lock (writer died) must be broken after lock_stale_s,
    not deadlock every future mutation."""
    import time

    from elastic_indexer4s_spark import fs as FS
    from elastic_indexer4s_spark.plans.catalog import (ALIAS_MANIFEST,
                                                       GenerationCatalog)

    cat = GenerationCatalog(str(tmp_path / "root"), lock_timeout_s=2.0,
                            lock_stale_s=0.2)
    FS.mkdirs(cat.root)
    lock = FS.join(cat.root, ALIAS_MANIFEST + ".lock")
    assert FS.create_exclusive(lock, str(time.time() - 60).encode())
    cat.add_alias("live", "g1")                    # breaks the stale lock
    assert cat._read_aliases() == {"live": ["g1"]}


def test_alias_lock_ownership_abort_on_broken_lock(tmp_path):
    """If our lock is stale-broken and taken over while we stall, the
    publish must ABORT (and the foreign lock must survive our release) —
    otherwise the stalled writer clobbers the new owner's update."""
    import pytest as _pytest

    from elastic_indexer4s_spark import fs as FS
    from elastic_indexer4s_spark.plans.catalog import (ALIAS_MANIFEST,
                                                       GenerationCatalog)

    cat = GenerationCatalog(str(tmp_path / "root"))
    cat.add_alias("live", "g0")
    lock = FS.join(cat.root, ALIAS_MANIFEST + ".lock")

    def stalled_then_overtaken(a):
        # simulate: while we held the lock, a waiter judged it stale,
        # broke it, and acquired its own
        FS.delete_file(lock)
        assert FS.create_exclusive(lock, b"9999999999.0:someoneelse")
        a["live"].append("g1")

    with _pytest.raises(TimeoutError, match="broken while held"):
        cat._mutate_aliases(stalled_then_overtaken)
    assert cat._read_aliases() == {"live": ["g0"]}   # publish aborted
    assert FS.exists(lock)                           # foreign lock intact
    FS.delete_file(lock)
    # no-op mutations skip the publish entirely (manifest mtime unchanged)
    before = FS.mtime_token(FS.join(cat.root, ALIAS_MANIFEST))
    cat.add_alias("live", "g0")                      # already a member
    cat.remove_alias("nosuch", "g0")                 # not present
    cat.delete_index("never_registered")
    assert FS.mtime_token(FS.join(cat.root, ALIAS_MANIFEST)) == before


def test_ngram_observer_does_not_leak_persisted_frames(spark):
    rows = [(i, f"alpha beta gamma unique{i} tail{i} end{i}")
            for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    for _ in range(3):
        dedup.ngram_jaccard_pairs(
            df, threshold=0.0, max_shingle_df=2,
            observer=lambda e: None).collect()
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after == before
