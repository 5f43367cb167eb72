"""BM25 top-k query execution over a built index generation.

The reference delegates search to ES (`search(index) size 0` for counts,
`EsOpsClientApi.scala:89-90`; `matchAllQuery` in its ITs); this module owns it
(SURVEY §2 B6-B8).

Query plan (scales to many shards).  Every scored query type runs this one
plan, built by :func:`_scatter`; each differs only in its shard kernel and
its final merge:
 1. analyze the query string with the SAME tokenizer as the build;
 2. scan ``postings`` with ``term IN (...)`` — Catalyst pushes the predicate
    into the parquet scan, which skips every row group whose footer ``term``
    min/max excludes all query terms.  The build writes each shard file
    sorted by term in small row groups, so the scan decodes only the groups
    that hold the query terms (on a 2k-doc index: 644 of 16,910 rows for a
    one-term query; generations written before the term sort span the
    whole vocabulary in every group and are scanned in full);
 3. global df per term: the build-time ``dictionary``, filtered the same
    way, is broadcast-joined onto those rows — no separate df job;
 4. per-shard scoring: a pandas UDF per shard group runs the query type's
    kernel (:func:`score_queries`, ``_shard_phrase``, ``_shard_bool``,
    :func:`highlight_rows`), which decodes the blobs, accumulates
    doc→score vectorized (NumPy) and emits the SHARD-LOCAL top-k — the
    scatter-gather every document-partitioned search engine uses.  The
    serving tier runs the same kernels on a pyarrow read;
 5. global top-k = ``ORDER BY score DESC, doc_id ASC LIMIT k`` over ≤
    shards·k rows (tiny); a per-query window for :func:`topk_batch`.

Exact-score semantics match the pure-Python oracle bit-for-bit: float64,
per-term contributions added in ascending term order.

``wand=True`` switches step 4 to block-max WAND (SURVEY §2 B7): maintain a
size-k heap per shard; for each candidate block, compare the sum of the
still-active terms' block upper bounds ``idf·(k1+1)·maxtf/(maxtf+k1·(1-b+
b·min_dl/avgdl))`` against the heap threshold and skip blocks that cannot
enter the top-k.  Exactness vs exhaustive scoring is pinned by tests.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import fs as FS
from ..config import IndexConfig, TokenizerConfig
from ..functions.codec import (EncodedPostings, decode_block,
                               decode_positions, decode_postings, row_to_enc)
from ..functions.tokenizer import tokenize_py


def load_stats(generation_dir: str) -> dict:
    return FS.read_json(FS.join(generation_dir, "stats.json"))


# Per-generation reader cache: generations are immutable once built (new runs
# create NEW generation dirs, reference ElasticWriteConfig.scala:23), so the
# parquet file listing + schema can be resolved once per process instead of on
# every query — re-listing hundreds of files per call dominated query latency.
_READERS: dict[tuple, dict[str, DataFrame]] = {}


DICTIONARY_DDL = "term string, df bigint"


def _dictionary_path(generation_dir: str) -> str:
    """The generation's ``dictionary/``; ValueError if it is missing."""
    path = FS.join(generation_dir, "dictionary")
    if not FS.exists(path):
        raise ValueError(
            f"{path} does not exist: every index generation needs the term "
            f"dictionary its build writes; resume the build to rewrite it")
    return path


def _readers_for(spark: SparkSession, generation_dir: str) -> dict[str, DataFrame]:
    key = (id(spark), generation_dir,
           FS.mtime_token(FS.join(generation_dir, "stats.json")))
    r = _READERS.get(key)
    if r is None:
        # explicit schemas: no footer-sampling inference job on first touch,
        # so a query (or a multi-segment fan-out, streaming.topk_multi) is
        # ONE Spark action even on a cold generation
        from ..functions.codec import POSTINGS_DDL

        r = {"postings": spark.read.schema(POSTINGS_DDL).parquet(
                FS.join(generation_dir, "postings")),
             "dictionary": spark.read.schema(DICTIONARY_DDL).parquet(
                _dictionary_path(generation_dir))}
        _READERS[key] = r
    return r


def load_config(generation_dir: str) -> IndexConfig:
    return IndexConfig.from_json(
        FS.read_text(FS.join(generation_dir, "_meta.json")))


def analyze_query(terms: list[str], cfg: TokenizerConfig) -> list[str]:
    """Apply the index analyzer to raw query inputs (camelCase queries must
    hit split sub-tokens), dedupe, ascending order (fixes fp add order)."""
    out: set[str] = set()
    for t in terms:
        out.update(tokenize_py(t, cfg))
    return sorted(out)


def _idf(n_docs: int, df: int) -> float:
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def _idfs(n_docs: int, dfs: dict[str, int]) -> dict[str, float]:
    return {t: _idf(n_docs, df) for t, df in dfs.items()}


def _check_mode(mode: str) -> None:
    """A term query's ``mode``: ``"or"`` (disjunction) or ``"and"``."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")


def _score_arrays(tf: np.ndarray, dl: np.ndarray, idf: float,
                  k1: float, b: float, avg_dl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    norm = tf + k1 * (1.0 - b + b * dl.astype(np.float64) / avg_dl)
    return idf * tf * (k1 + 1.0) / norm


def _shard_exhaustive(encs: list[tuple[str, EncodedPostings]], idfs: dict[str, float],
                      k1: float, b: float, avg_dl: float, k: int,
                      require_all: int = 0) -> pd.DataFrame:
    """Decode every posting fully, accumulate doc→score, local top-k —
    pure NumPy, no per-posting Python (~20x the dict-loop it replaced on
    high-df terms).

    Float parity: contributions are concatenated per term in ASCENDING term
    order and ``np.bincount`` adds weights in scan order, so each doc's
    score accumulates in exactly the same fp-addition sequence as the
    pure-Python oracle's per-term loop.

    ``require_all`` > 0 = conjunctive (ES ``match`` with ``operator=and``):
    only docs matched by ALL ``require_all`` query terms survive.  A term
    with no postings in this shard makes the whole shard a miss (every doc
    lives in exactly one shard, so this is the global AND semantics too).
    """
    if require_all and len(encs) < require_all:
        return _EMPTY_TOPK.copy()
    ids_parts: list[np.ndarray] = []
    contrib_parts: list[np.ndarray] = []
    for term, enc in sorted(encs, key=lambda x: x[0]):
        doc_ids, tfs, dls = decode_postings(enc)
        ids_parts.append(doc_ids)
        contrib_parts.append(_score_arrays(tfs, dls, idfs[term], k1, b, avg_dl))
    if not ids_parts:
        return _EMPTY_TOPK.copy()
    ids = np.concatenate(ids_parts)
    contrib = np.concatenate(contrib_parts)
    uniq, inv = np.unique(ids, return_inverse=True)
    scores = np.bincount(inv, weights=contrib)
    if require_all:
        keep = np.bincount(inv) >= require_all
        uniq, scores = uniq[keep], scores[keep]
    order = np.lexsort((uniq, -scores))[:k]  # (score desc, doc_id asc)
    return pd.DataFrame({"doc_id": uniq[order],
                         "score": scores[order]}).astype(
        {"doc_id": "int64", "score": "float64"})


_EMPTY_TOPK = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                            "score": pd.Series(dtype="float64")})


#: WAND falls back to the exhaustive scorer when EVERY query term's global
#: document frequency exceeds this fraction of the corpus: with only dense
#: terms the heap threshold almost never exceeds the block upper-bound sums,
#: so nothing is skipped and the Python block-frontier loop just adds
#: overhead over the vectorized bincount scorer (measured ~10x on
#: 3-stopword queries at 200k docs).  Safe because the two scorers are
#: bit-identical (pinned by the WAND property fuzz + hash rows).
WAND_DENSE_DF_FRAC = 0.05


def choose_scorer(wand, dfs: dict[str, int], n_docs: int):
    """Cost-based scorer selection: ``wand=True`` is an optimization HINT —
    keep WAND only if at least one term is selective enough
    (df/N <= WAND_DENSE_DF_FRAC) for block-max pruning to fire; fall back
    to the vectorized exhaustive scorer otherwise (results are identical
    either way).  ``wand="force"`` bypasses the cost model (tests/bench
    that must exercise the WAND machinery itself)."""
    if wand == "force":
        return _shard_wand
    if not wand or not dfs or not n_docs:
        return _shard_exhaustive
    if min(dfs.values()) / float(n_docs) > WAND_DENSE_DF_FRAC:
        return _shard_exhaustive
    return _shard_wand


def _shard_wand(encs: list[tuple[str, EncodedPostings]], idfs: dict[str, float],
                k1: float, b: float, avg_dl: float, k: int,
                require_all: int = 0) -> pd.DataFrame:
    """Block-max WAND over the shard's query-term postings.

    Document-at-a-time in block granularity: advance through blocks in doc_id
    order; before scoring a block span, sum the block upper bounds of the
    terms whose current block overlaps the span — if below the heap's k-th
    score, skip ahead without decoding.  Produces EXACTLY the same top-k as
    exhaustive scoring (ties broken by doc_id asc) because bounds are
    admissible: score(tf,dl) ≤ idf·(k1+1)·maxtf/(maxtf+k1·(1-b+b·min_dl/avgdl)).
    """
    if require_all and len(encs) < require_all:
        return _EMPTY_TOPK.copy()
    encs = sorted(encs, key=lambda x: x[0])
    bounds: list[np.ndarray] = []
    for term, enc in encs:
        maxtf = np.asarray(enc.block_maxtf, dtype=np.float64)
        mindl = np.asarray(enc.block_min_dl, dtype=np.float64)
        norm = maxtf + k1 * (1.0 - b + b * mindl / avg_dl)
        bounds.append(idfs[term] * maxtf * (k1 + 1.0) / norm)

    n_terms = len(encs)
    n_blocks = [len(e.block_count) for _, e in encs]
    cur = [0] * n_terms    # current block index per term
    used = [0] * n_terms   # postings already consumed within current block
    cache: list[tuple | None] = [None] * n_terms  # decoded current block
    heap: list[tuple[float, int]] = []  # min-heap of (score, -doc_id), top-k

    def push(doc: int, score: float) -> None:
        item = (score, -doc)
        if len(heap) < k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)

    while True:
        # frontier: minimum block_last among terms with blocks left
        frontier, active = None, []
        for i, (_, enc) in enumerate(encs):
            if cur[i] < n_blocks[i]:
                active.append(i)
                bl = int(enc.block_last[cur[i]])
                if frontier is None or bl < frontier:
                    frontier = bl
        if frontier is None:
            break
        if require_all and len(active) < require_all:
            # a term is exhausted: no remaining doc can match ALL terms
            # (blocks advance strictly in doc order)
            break
        # admissible upper bound for any doc ≤ frontier: every open block
        # could contribute (blocks advance strictly in doc order, so every
        # block containing a doc ≤ frontier is still open right now)
        ub = sum(float(bounds[i][cur[i]]) for i in active)
        thr = heap[0][0] if len(heap) >= k else -np.inf
        if ub < thr:
            # no doc ≤ frontier can enter the top-k: skip without decoding
            for i in active:
                if int(encs[i][1].block_last[cur[i]]) == frontier:
                    cur[i], used[i], cache[i] = cur[i] + 1, 0, None
            continue
        # score all postings ≤ frontier, vectorized (each doc completes in
        # one round, and term slices are concatenated in ascending term order
        # → np.bincount adds weights in scan order, so each doc's fp
        # accumulation sequence matches the exhaustive scorer and the
        # pure-Python oracle exactly).  Only the block-skip bookkeeping stays
        # scalar — per ROUND, not per posting.
        ids_parts: list[np.ndarray] = []
        contrib_parts: list[np.ndarray] = []
        for i in active:
            term, enc = encs[i]
            if cache[i] is None:
                cache[i] = decode_block(enc, cur[i])
            doc_ids, tfs, dls = cache[i]
            hi = int(np.searchsorted(doc_ids, frontier, side="right"))
            lo = used[i]
            if hi > lo:
                ids_parts.append(doc_ids[lo:hi])
                contrib_parts.append(_score_arrays(
                    tfs[lo:hi], dls[lo:hi], idfs[term], k1, b, avg_dl))
                used[i] = hi
            if int(enc.block_last[cur[i]]) == frontier:
                cur[i], used[i], cache[i] = cur[i] + 1, 0, None
        if ids_parts:
            ids = np.concatenate(ids_parts)
            uniq, inv = np.unique(ids, return_inverse=True)
            scores = np.bincount(inv, weights=np.concatenate(contrib_parts))
            if require_all:
                keep = np.bincount(inv) >= require_all
                uniq, scores = uniq[keep], scores[keep]
            if len(heap) >= k:
                # admissible pre-filter: heap[0][0] only grows during the
                # push loop, and push() itself settles score ties by doc_id
                m = scores >= heap[0][0]
                uniq, scores = uniq[m], scores[m]
            for d, s in zip(uniq.tolist(), scores.tolist()):
                push(int(d), s)

    rows = sorted(((s, -negd) for s, negd in heap), key=lambda x: (-x[0], x[1]))
    return pd.DataFrame([(d, s) for s, d in rows],
                        columns=["doc_id", "score"]).astype(
                            {"doc_id": "int64", "score": "float64"})


def score_queries(encs: list[tuple[str, EncodedPostings]],
                  queries: dict[int, list[str]], dfs: dict[str, int],
                  k1: float, b: float, avg_dl: float, k: int, *,
                  n_docs: int, wand: bool | str = False,
                  mode: str = "or") -> dict[int, pd.DataFrame]:
    """The term-query kernel of both tiers: one shard's postings ``encs``
    scored for each of ``queries`` (query id → analyzed terms) →
    {query_id: shard-local top-k} for the queries with a hit here.  Each
    query picks its scorer (:func:`choose_scorer`) from the dfs of its
    terms in this shard; ``wand`` and ``mode`` are :func:`topk`'s.  A
    single query is ``{0: terms}``."""
    by_term = dict(encs)
    idfs = {t: _idf(n_docs, dfs[t]) for t in by_term}
    out: dict[int, pd.DataFrame] = {}
    for qid, terms in queries.items():
        q = [(t, by_term[t]) for t in terms if t in by_term]
        if not q:
            continue
        scorer = choose_scorer(wand, {t: dfs[t] for t, _ in q}, n_docs)
        top = scorer(q, idfs, k1, b, avg_dl, k,
                     len(terms) if mode == "and" else 0)
        if len(top):
            out[qid] = top
    return out


TOPK_DDL = "doc_id long, score double"


def _scatter(spark: SparkSession, generation_dir: str, terms: list[str],
             kernel, schema: str) -> DataFrame:
    """The one Spark plan of every scored query (module doc, steps 2–4) →
    the shards' ``kernel`` results as a DataFrame of ``schema``.
    ``kernel(encs, dfs)`` gets one shard's [(term, EncodedPostings)] and
    {term: global df} and returns that shard's pandas frame; with the
    caller's merge the query is ONE Spark action."""
    readers = _readers_for(spark, generation_dir)
    postings = readers["postings"].filter(F.col("term").isin(terms))
    d = (readers["dictionary"]
         .filter(F.col("term").isin(terms))
         .withColumnRenamed("df", "df_g"))
    postings = postings.join(F.broadcast(d), "term", "inner")

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        dfs = {t: int(g) for t, g in zip(pdf["term"], pdf["df_g"])}
        encs = [(r["term"], row_to_enc(r)) for _, r in pdf.iterrows()]
        return kernel(encs, dfs)

    return postings.groupBy("shard").applyInPandas(score_shard, schema=schema)


def _top(local: DataFrame, k: int) -> DataFrame:
    """Global top-k of the shards' rows: (score desc, doc_id asc)."""
    return local.orderBy(F.col("score").desc(), F.col("doc_id").asc()) \
        .limit(k)


def topk(spark: SparkSession, generation_dir: str, query_terms: list[str],
         k: int = 10, *, wand: bool | str = False, mode: str = "or",
         cfg: IndexConfig | None = None) -> DataFrame:
    """Top-k BM25 query → DataFrame(doc_id long, score double), ordered.

    ``mode="or"`` (default) = ES ``match`` disjunction; ``mode="and"`` = ES
    ``match`` with ``operator=and`` — only docs containing EVERY analyzed
    query term match (same BM25 score as the disjunctive score of those
    docs).  ``wand=True`` is a cost-based HINT (see :func:`choose_scorer`);
    ``wand="force"`` always runs the block-max scorer.  Results are
    identical for every setting.
    """
    _check_mode(mode)
    cfg = cfg or load_config(generation_dir)
    stats = load_stats(generation_dir)
    n_docs, avg_dl = stats["num_docs"], stats["avg_dl"]
    terms = analyze_query(query_terms, cfg.tokenizer)
    if not terms or n_docs == 0 or avg_dl == 0:
        return spark.createDataFrame([], TOPK_DDL)

    def kernel(encs, dfs) -> pd.DataFrame:
        return score_queries(encs, {0: terms}, dfs, cfg.k1, cfg.b,
                             float(avg_dl), k, n_docs=n_docs, wand=wand,
                             mode=mode).get(0, _EMPTY_TOPK)

    return _top(_scatter(spark, generation_dir, terms, kernel, TOPK_DDL), k)


def topk_batch(spark: SparkSession, generation_dir: str,
               queries: dict[int, list[str]], k: int = 10, *,
               wand: bool | str = False, mode: str = "or",
               cfg: IndexConfig | None = None) -> DataFrame:
    """Top-k BM25 for a whole query SET in ONE Spark action →
    DataFrame(query_id long, rank long, doc_id long, score double).

    The amortization path for offline evaluation / reranking pipelines
    (the reference's "query set" workload): the postings scan filters on
    the UNION of all query terms (one `term IN (...)` pushdown, one
    dictionary broadcast, one shard scatter), the per-shard task scores
    every query against its term slice with :func:`score_queries`, as
    :func:`topk` does, and only shards*queries*k candidate rows
    reach the final per-query window.  Per-query plans would pay the
    scan + schedule cost |queries| times for identical artifacts."""
    _check_mode(mode)
    cfg = cfg or load_config(generation_dir)
    stats = load_stats(generation_dir)
    n_docs, avg_dl = stats["num_docs"], stats["avg_dl"]
    analyzed = {int(qid): analyze_query(terms, cfg.tokenizer)
                for qid, terms in queries.items()}
    analyzed = {qid: t for qid, t in analyzed.items() if t}
    all_terms = sorted({t for ts in analyzed.values() for t in ts})
    if not all_terms or n_docs == 0 or avg_dl == 0:
        return spark.createDataFrame(
            [], "query_id long, rank long, doc_id long, score double")

    def kernel(encs, dfs) -> pd.DataFrame:
        tops = score_queries(encs, analyzed, dfs, cfg.k1, cfg.b,
                             float(avg_dl), k, n_docs=n_docs, wand=wand,
                             mode=mode)
        parts = [top.assign(query_id=qid) for qid, top in tops.items()]
        return pd.concat(parts or [_EMPTY_TOPK.assign(query_id=0)],
                         ignore_index=True)

    local = _scatter(spark, generation_dir, all_terms, kernel,
                     "query_id long, doc_id long, score double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "doc_id", "score"))


def analyze_phrase(phrase_terms: list[str], cfg: TokenizerConfig) -> list[str]:
    """ORDER- and MULTIPLICITY-preserving analysis: the phrase is a token
    SEQUENCE (analyze_query dedupes + sorts, which is right for bag-of-
    terms scoring but would corrupt the needle — "join customer" is not
    "customer join", and "beta beta" requires an actual repetition)."""
    seq: list[str] = []
    for t in phrase_terms:
        seq.extend(tokenize_py(t, cfg))
    return seq


def _isin_sorted(vals: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    """Membership mask of ``vals`` in an ASCENDING ``sorted_arr`` via one
    searchsorted — no hashing, no set build."""
    idx = np.searchsorted(sorted_arr, vals)
    ok = idx < sorted_arr.size
    ok[ok] = sorted_arr[idx[ok]] == vals[ok]
    return ok


#: doc-local key packing for adjacency checks: key = local_doc_idx * 2^33
#: + position.  local_doc_idx is dense per shard (< 2^30 by construction)
#: and positions are < doc length < 2^33, so the packing never collides
#: and ``key + i`` stays inside its doc's block for any phrase offset i.
_POS_SHIFT = np.int64(1) << 33


def _shard_phrase(encs: list[tuple[str, EncodedPostings]], seq: list[str],
                  idfs: dict[str, float], k1: float, b: float,
                  avg_dl: float, k: int, slop: int = 0) -> pd.DataFrame:
    """Index-native phrase match over one shard's query-term postings:
    conjunctive doc intersection, then adjacency verification from DECODED
    POSITIONS (a doc matches iff some position p has seq[0]@p, seq[1]@p+1,
    …), then conjunctive BM25 over the phrase's distinct terms — the same
    fp accumulation order as ``_shard_exhaustive`` (term-ascending), so
    scores are bit-identical to the prune+content-verify path.

    ``slop`` > 0 relaxes adjacency to ORDERED PROXIMITY: each consecutive
    phrase token may sit up to ``slop`` extra positions after its
    predecessor (gap ∈ [1, 1+slop]).  This is deliberately the simple
    ordered semantics, not Lucene's SloppyPhraseScorer edit-distance
    (which also permits reorders at slop ≥ 2) — documented, monotone
    (slop=0 ≡ exact phrase), and SQL-expressible for the oracle.

    Everything is vectorized: per-term (doc, position) pairs pack into one
    sorted int64 key array and each proximity step is ``slop+1``
    searchsorted passes — no per-doc Python.
    """
    uniq = sorted(set(seq))
    by_term = dict(encs)
    if any(t not in by_term for t in uniq):
        # a term absent from this shard: no doc here can hold the phrase
        # (every doc lives in exactly one shard)
        return _EMPTY_TOPK.copy()
    dec: dict[str, tuple] = {}
    for t in uniq:
        enc = by_term[t]
        doc_ids, tfs, dls = decode_postings(enc)
        dec[t] = (doc_ids, tfs, dls, decode_positions(enc, tfs))
    # conjunctive doc intersection (ascending-unique per construction)
    matched = dec[uniq[0]][0]
    for t in uniq[1:]:
        matched = matched[_isin_sorted(matched, dec[t][0])]
        if matched.size == 0:
            return _EMPTY_TOPK.copy()
    # per-term (local_doc, position) keys restricted to the intersection —
    # a ragged gather per term, all index arithmetic
    keys: dict[str, np.ndarray] = {}
    for t in uniq:
        doc_ids, tfs, dls, pos = dec[t]
        offs = np.concatenate(([0], np.cumsum(tfs)))
        sel = np.searchsorted(doc_ids, matched)     # matched ⊆ doc_ids
        lens_sel = tfs[sel]
        total = int(lens_sel.sum())
        loc_cum = np.concatenate(([0], np.cumsum(lens_sel[:-1])))
        out_idx = np.repeat(offs[sel] - loc_cum, lens_sel) \
            + np.arange(total, dtype=np.int64)
        locrep = np.repeat(np.arange(matched.size, dtype=np.int64),
                           lens_sel)
        keys[t] = locrep * _POS_SHIFT + pos[out_idx]   # ascending
    # cand tracks the key of the CURRENT (last-matched) token occurrence;
    # a next-token occurrence q extends a chain iff some prior end sits at
    # q-1 .. q-1-slop (same doc by packing: the gap never crosses a block)
    cand = keys[seq[0]]
    for i in range(1, len(seq)):
        ki = keys[seq[i]]
        mask = np.zeros(ki.size, dtype=bool)
        for d in range(1, slop + 2):
            mask |= _isin_sorted(ki - np.int64(d), cand)
        cand = ki[mask]
        if cand.size == 0:
            return _EMPTY_TOPK.copy()
    ph_docs = matched[np.unique(cand // _POS_SHIFT)]
    # conjunctive BM25, contributions added term-ascending (fp parity
    # with _shard_exhaustive's bincount accumulation)
    score = np.zeros(ph_docs.size, dtype=np.float64)
    for t in uniq:
        doc_ids, tfs, dls, _pos = dec[t]
        sel = np.searchsorted(doc_ids, ph_docs)
        score += _score_arrays(tfs[sel], dls[sel], idfs[t], k1, b, avg_dl)
    order = np.lexsort((ph_docs, -score))[:k]
    return pd.DataFrame({"doc_id": ph_docs[order],
                         "score": score[order]}).astype(
        {"doc_id": "int64", "score": "float64"})


def phrase_topk(spark: SparkSession, generation_dir: str,
                source: DataFrame | None, phrase_terms: list[str],
                k: int = 10, *,
                slop: int = 0,
                cand_limit: int = 100_000,
                cfg: IndexConfig | None = None,
                id_cols: tuple[str, ...] = ("repo", "path", "commit"),
                use_positions: bool | None = None) -> DataFrame:
    """ES ``match_phrase``: top-k docs containing the EXACT analyzed token
    sequence, scored by the conjunctive BM25 of the phrase's terms →
    DataFrame(doc_id long, score double), ordered.

    Two physical strategies, picked by what the generation stores:

    * **positions generation** (``store_positions=True``): fully
      INDEX-NATIVE — conjunctive postings intersection + adjacency
      verification from the decoded ``pos_blob`` streams, one shard
      scatter-gather, EXACT for any phrase.  The source table is never
      touched (``source`` may be ``None``); this is the Lucene-positions
      path ES uses for match_phrase, and closes round 4's scale hazard
      (the verify step used to re-scan + re-tokenize the ENTIRE source
      per phrase query — a multi-hour full scan at 100 TB).
    * **position-less generation**: the classic two-phase substitute —
      (1) PRUNE via conjunctive (AND) postings intersection, keeping the
      top ``cand_limit`` candidates by score (only (doc_id, score) rows
      leave the index); (2) VERIFY adjacency on content: candidate
      identity keys broadcast-join into the source scan (the corpus-sized
      side streams, content never shuffles) and the phrase test is ONE
      codegen ``instr`` over the space-joined analyzed token stream.
      ``cand_limit`` is the exactness dial: exact whenever the AND-match
      count is under it.

    ``use_positions`` forces a path (A/B tests); results are identical —
    same docs, bit-identical scores (pinned by pytest).

    ``slop`` relaxes adjacency to ordered proximity (consecutive tokens
    within ``1+slop`` positions — see :func:`_shard_phrase`); it requires
    the positional index (the content-verify ``instr`` test cannot
    express gaps).
    """
    cfg = cfg or load_config(generation_dir)
    if use_positions is None:
        use_positions = bool(getattr(cfg, "store_positions", False))
    seq = analyze_phrase(phrase_terms, cfg.tokenizer)
    if not seq:
        return spark.createDataFrame([], TOPK_DDL)

    if use_positions:
        return _phrase_topk_index(spark, generation_dir, seq, k, cfg,
                                  slop=slop)

    if slop:
        raise ValueError("slop > 0 needs the positional index "
                         "(store_positions=True); the content-verify "
                         "path only tests exact adjacency")
    if source is None:
        raise ValueError(
            "phrase_topk on a position-less generation needs the source "
            "table for adjacency verification; rebuild with "
            "store_positions=True for index-native phrase queries")
    cand = topk(spark, generation_dir, sorted(set(seq)),
                k=cand_limit, wand=False, mode="and", cfg=cfg)
    doclen = spark.read.parquet(FS.join(generation_dir, "doclen"))
    keyed = cand.join(doclen.select("doc_id", *id_cols), "doc_id")

    from ..functions.tokenizer import tokens_expr

    norm = F.concat(F.lit(" "),
                    F.array_join(tokens_expr(F.col("content"),
                                             cfg.tokenizer), " "),
                    F.lit(" "))
    needle = " " + " ".join(seq) + " "
    # dropDuplicates: duplicate identity keys in the source (a re-ingested
    # snapshot union) would otherwise join each candidate twice and let
    # one doc occupy two top-k slots; scores are identical per doc_id
    verified = (source.select(*id_cols, F.col("content"))
                .join(F.broadcast(keyed), list(id_cols))
                .filter(F.instr(norm, F.lit(needle)) > 0)
                .select("doc_id", "score")
                .dropDuplicates(["doc_id"]))
    return _top(verified, k)


def _phrase_topk_index(spark: SparkSession, generation_dir: str,
                       seq: list[str], k: int,
                       cfg: IndexConfig, slop: int = 0) -> DataFrame:
    """Index-native phrase plan: the :func:`_scatter` plan over the
    phrase's distinct terms with ``_shard_phrase`` as the shard kernel,
    then the global top-k — ONE Spark action, no source table anywhere in
    the plan."""
    stats = load_stats(generation_dir)
    n_docs, avg_dl = stats["num_docs"], stats["avg_dl"]
    if n_docs == 0 or avg_dl == 0:
        return spark.createDataFrame([], TOPK_DDL)

    def kernel(encs, dfs) -> pd.DataFrame:
        return _shard_phrase(encs, seq, _idfs(n_docs, dfs), cfg.k1, cfg.b,
                             float(avg_dl), k, slop=slop)

    return _top(_scatter(spark, generation_dir, sorted(set(seq)), kernel,
                         TOPK_DDL), k)


def _shard_bool(encs: list[tuple[str, EncodedPostings]], must: list[str],
                should: list[str], must_not: list[str],
                idfs: dict[str, float], k1: float, b: float,
                avg_dl: float, k: int) -> pd.DataFrame:
    """ES ``bool`` query over one shard's postings: docs containing EVERY
    ``must`` term and NO ``must_not`` term, scored by the BM25 sum of the
    (must ∪ should) terms they contain; with no ``must`` terms the match
    set is the union of ``should`` matches (pure disjunction).  Same
    decode + searchsorted machinery and term-ascending fp accumulation as
    the other shard kernels."""
    by_term = dict(encs)
    if any(t not in by_term for t in must):
        return _EMPTY_TOPK.copy()
    dec: dict[str, tuple] = {}
    for t in sorted(set(must) | set(should) | set(must_not)):
        if t in by_term:
            doc_ids, tfs, dls = decode_postings(by_term[t])
            dec[t] = (doc_ids, tfs, dls)
    if must:
        base = dec[must[0]][0]
        for t in must[1:]:
            base = base[_isin_sorted(base, dec[t][0])]
            if base.size == 0:
                return _EMPTY_TOPK.copy()
    else:
        parts = [dec[t][0] for t in should if t in dec]
        if not parts:
            return _EMPTY_TOPK.copy()
        base = np.unique(np.concatenate(parts))
    for t in must_not:
        if t in dec:
            base = base[~_isin_sorted(base, dec[t][0])]
            if base.size == 0:
                return _EMPTY_TOPK.copy()
    score = np.zeros(base.size, dtype=np.float64)
    for t in sorted(set(must) | set(should)):
        if t not in dec:
            continue
        doc_ids, tfs, dls = dec[t]
        idx = np.searchsorted(doc_ids, base)
        ok = idx < doc_ids.size
        ok[ok] = doc_ids[idx[ok]] == base[ok]
        sel = idx[ok]
        score[ok] += _score_arrays(tfs[sel], dls[sel], idfs[t],
                                   k1, b, avg_dl)
    order = np.lexsort((base, -score))[:k]
    return pd.DataFrame({"doc_id": base[order],
                         "score": score[order]}).astype(
        {"doc_id": "int64", "score": "float64"})


def bool_topk(spark: SparkSession, generation_dir: str, *,
              must: list[str] | None = None,
              should: list[str] | None = None,
              must_not: list[str] | None = None,
              k: int = 10, cfg: IndexConfig | None = None) -> DataFrame:
    """ES ``bool`` query analog → DataFrame(doc_id long, score double),
    ordered: conjunction over the analyzed ``must`` tokens, exclusion of
    any ``must_not`` token, BM25 score = sum over the (must ∪ should)
    tokens the doc contains — ES's must-filters-and-scores /
    should-only-boosts / must_not-filters semantics for term clauses.

    The :func:`_scatter` plan over the union of the three legs' terms
    with ``_shard_bool`` as the shard kernel, then the global top-k — one
    Spark action.  A shard-local intersection/exclusion is the global one
    because every doc lives in exactly one shard.
    """
    cfg = cfg or load_config(generation_dir)
    must_t = analyze_query(must or [], cfg.tokenizer)
    should_t = analyze_query(should or [], cfg.tokenizer)
    not_t = analyze_query(must_not or [], cfg.tokenizer)
    empty = spark.createDataFrame([], TOPK_DDL)
    if not must_t and not should_t:
        return empty
    overlap = set(not_t) & (set(must_t) | set(should_t))
    if overlap:
        raise ValueError(f"terms cannot be both excluded and matched: "
                         f"{sorted(overlap)}")
    stats = load_stats(generation_dir)
    n_docs, avg_dl = stats["num_docs"], stats["avg_dl"]
    if n_docs == 0 or avg_dl == 0:
        return empty

    def kernel(encs, dfs) -> pd.DataFrame:
        return _shard_bool(encs, must_t, should_t, not_t, _idfs(n_docs, dfs),
                           cfg.k1, cfg.b, float(avg_dl), k)

    all_terms = sorted(set(must_t) | set(should_t) | set(not_t))
    return _top(_scatter(spark, generation_dir, all_terms, kernel,
                         TOPK_DDL), k)


def expand_terms(spark: SparkSession, generation_dir: str, *,
                 prefix: str | None = None,
                 fuzzy: str | None = None, max_edit: int = 2,
                 max_expansions: int = 50) -> list[str]:
    """Multi-term query expansion against the build-time term DICTIONARY
    (the tiny (term, df) artifact — never the postings): terms matching a
    ``prefix`` and/or within ``max_edit`` Levenshtein distance of
    ``fuzzy``, alphabetically first ``max_expansions`` (a deterministic
    cap, mirroring ES's ``index_order`` rewrite expansion limit).

    The dictionary is sorted, coalesced, and query-term-scale — at
    10^12 docs it is still only |vocabulary| rows, which is why ES/Lucene
    resolve prefix/fuzzy against the term dictionary too."""
    d = _readers_for(spark, generation_dir)["dictionary"]
    if prefix is not None:
        d = d.filter(F.col("term").startswith(prefix))
    if fuzzy is not None:
        d = d.filter(F.levenshtein(F.col("term"), F.lit(fuzzy)) <= max_edit)
    rows = d.select("term").orderBy("term").limit(max_expansions).collect()
    return [r["term"] for r in rows]


def prefix_topk(spark: SparkSession, generation_dir: str, prefix: str,
                k: int = 10, *, max_expansions: int = 50,
                wand: bool | str = False,
                cfg: IndexConfig | None = None) -> DataFrame:
    """ES ``prefix`` / autocomplete analog with ``scoring_boolean``
    rewrite semantics: expand the prefix against the term dictionary
    (alphabetically first ``max_expansions``), then score the expanded
    terms as a standard BM25 disjunction → DataFrame(doc_id long,
    score double), ordered.  Like ES's prefix query, the input is a
    TERM-LEVEL prefix — NOT analyzed — so it must be given in the
    indexed (analyzed) term space.  Empty expansion → empty result."""
    terms = expand_terms(spark, generation_dir, prefix=prefix,
                         max_expansions=max_expansions)
    if not terms:
        return spark.createDataFrame([], TOPK_DDL)
    return topk(spark, generation_dir, terms, k, wand=wand, cfg=cfg)


def fuzzy_topk(spark: SparkSession, generation_dir: str, term: str,
               k: int = 10, *, max_edit: int = 2, max_expansions: int = 50,
               wand: bool | str = False,
               cfg: IndexConfig | None = None) -> DataFrame:
    """ES ``fuzzy`` analog (typo tolerance): expand the input to
    dictionary terms within ``max_edit`` Levenshtein distance
    (alphabetically first ``max_expansions``), score as a BM25
    disjunction — ``scoring_boolean`` rewrite, like :func:`prefix_topk`;
    the input is term-level (not analyzed), as in ES.  Levenshtein is
    the plain edit distance (`F.levenshtein`), identical in Spark and
    DuckDB, so the whole path hash-verifies."""
    terms = expand_terms(spark, generation_dir, fuzzy=term,
                         max_edit=max_edit, max_expansions=max_expansions)
    if not terms:
        return spark.createDataFrame([], TOPK_DDL)
    return topk(spark, generation_dir, terms, k, wand=wand, cfg=cfg)


def facet_counts(spark: SparkSession, generation_dir: str,
                 query_terms: list[str], facet_col: str,
                 k_facets: int = 10, *, mode: str = "or",
                 cfg: IndexConfig | None = None) -> DataFrame:
    """ES *terms aggregation* analog over the match set: count every doc
    matching the query per value of a doclen passthrough column →
    DataFrame(facet string, n bigint), ordered (n desc, facet asc),
    top ``k_facets`` buckets.

    The reference's search surface is ES, where search + aggregations is
    the canonical faceted-navigation request; the match set needs NO
    scoring, so the plan skips BM25 entirely: the pushdown-filtered
    postings rows stream through a decode that emits bare doc_ids
    (``mode="or"`` → distinct; ``"and"`` → docs present under every
    term), and the facet column rides a doc_id equi-join against the
    column-pruned doclen table.  Scale shape: only ids ever shuffle —
    never content — and the count is a two-phase hash aggregate; ES
    computes the same thing as shard-local counts merged on the
    coordinator, which is exactly what the map-side partials do here.
    (An earlier draft reused ``topk`` with a giant k: Spark's
    TakeOrderedAndProject allocates its bounded priority queue at k
    capacity, so a 10^9 "no cutoff" k OOMs the JVM — set semantics must
    avoid the top-k operator, not out-size it.)
    """
    _check_mode(mode)
    cfg = cfg or load_config(generation_dir)
    terms = analyze_query(query_terms, cfg.tokenizer)
    empty = spark.createDataFrame([], "facet string, n bigint")
    if not terms:
        return empty
    readers = _readers_for(spark, generation_dir)
    postings = readers["postings"].filter(F.col("term").isin(terms))

    def emit_docs(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                doc_ids, _tfs, _dls = decode_postings(row_to_enc(r))
                yield pd.DataFrame({"doc_id": doc_ids})

    ids = postings.mapInPandas(emit_docs, "doc_id long")
    if mode == "and":
        # each (shard, term) posting lists a doc at most once, so the
        # per-doc row count equals the number of matched terms
        matches = (ids.groupBy("doc_id")
                   .agg(F.count(F.lit(1)).alias("_nt"))
                   .filter(F.col("_nt") == len(terms)).select("doc_id"))
    else:
        matches = ids.distinct()
    doclen = spark.read.parquet(FS.join(generation_dir, "doclen"))
    if facet_col not in doclen.columns or facet_col in DOCLEN_INTERNAL_COLS:
        raise ValueError(f"facet_col {facet_col!r} is not a passthrough "
                         f"column of this generation's doclen")
    return (matches.join(doclen.select("doc_id", facet_col), "doc_id")
            .groupBy(F.col(facet_col).alias("facet"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("facet").asc())
            .limit(k_facets))


def highlight_rows(encs: list[tuple[str, EncodedPostings]],
                   doc_ids: np.ndarray, scores: np.ndarray) -> list[tuple]:
    """The highlight kernel of both tiers: one shard's postings ``encs``
    (read with positions) and the shard's hits ``doc_ids`` with their
    ``scores`` → one ``(doc_id, score, term, positions)`` row per hit and
    query term the hit contains, ``positions`` being the term's ascending
    0-based token offsets in that doc.  The loop is bounded by the RESULT
    size (k·|terms| gathers over decoded postings), not the corpus."""
    rows: list[tuple] = []
    if not len(doc_ids):
        return rows
    for term, enc in sorted(encs, key=lambda x: x[0]):
        ids, tfs, _dls = decode_postings(enc)
        pos = decode_positions(enc, tfs)
        offs = np.concatenate(([0], np.cumsum(tfs)))
        idx = np.searchsorted(ids, doc_ids)
        ok = idx < ids.size
        ok[ok] = ids[idx[ok]] == doc_ids[ok]
        for j in np.nonzero(ok)[0]:
            i = int(idx[j])
            rows.append((int(doc_ids[j]), float(scores[j]), term,
                         pos[offs[i]:offs[i + 1]]))
    return rows


def highlight_topk(spark: SparkSession, generation_dir: str,
                   query_terms: list[str], k: int = 10, *,
                   wand: bool | str = False, mode: str = "or",
                   cfg: IndexConfig | None = None) -> DataFrame:
    """ES *highlighting* analog, served straight from the positional index:
    top-k BM25 docs plus, per matched query term, the term's token
    positions in that document → DataFrame(doc_id long, score double,
    term string, positions string) — ``positions`` is the ascending
    0-based offsets joined by commas (one row per (doc, term) the doc
    actually contains).

    ES builds highlight fragments from term offsets/positions (Lucene
    postings highlighter); a caller here does the same — the positions
    index into the ANALYZED token stream, so the snippet builder
    re-tokenizes just the k docs it displays.  Requires a positions
    generation; the whole query stays one scan + one shard scatter-gather
    (the positions ride the same posting rows already being decoded — no
    extra read).
    """
    _check_mode(mode)
    cfg = cfg or load_config(generation_dir)
    if not getattr(cfg, "store_positions", False):
        raise ValueError("highlight_topk needs a positions generation "
                         "(store_positions=True)")
    stats = load_stats(generation_dir)
    n_docs, avg_dl = stats["num_docs"], stats["avg_dl"]
    terms = analyze_query(query_terms, cfg.tokenizer)
    out_ddl = "doc_id long, score double, term string, positions string"
    if not terms or n_docs == 0 or avg_dl == 0:
        return spark.createDataFrame([], out_ddl)

    def kernel(encs, dfs) -> pd.DataFrame:
        top = score_queries(encs, {0: terms}, dfs, cfg.k1, cfg.b,
                            float(avg_dl), k, n_docs=n_docs, wand=wand,
                            mode=mode).get(0, _EMPTY_TOPK)
        rows = highlight_rows(encs, top["doc_id"].to_numpy(),
                              top["score"].to_numpy())
        return pd.DataFrame(
            [(d, s, t, ",".join(map(str, p.tolist()))) for d, s, t, p in rows],
            columns=["doc_id", "score", "term", "positions"])

    local = _scatter(spark, generation_dir, terms, kernel, out_ddl)
    # global top-k over DISTINCT docs (each doc's term rows share its
    # score), then keep all term rows of the winners
    top_docs = (local.select("doc_id", "score").distinct()
                .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .limit(k).select("doc_id"))
    return (local.join(F.broadcast(top_docs), "doc_id")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc(),
                     F.col("term").asc()))


def phrase_topk_hydrated(spark: SparkSession, generation_dir: str,
                         source: DataFrame | None,
                         phrase_terms: list[str], k: int = 10, *,
                         slop: int = 0,
                         cand_limit: int = 100_000,
                         cfg: IndexConfig | None = None,
                         columns: list[str] | None = None,
                         use_positions: bool | None = None) -> DataFrame:
    """:func:`phrase_topk` with the source documents attached →
    DataFrame(rank, doc_id, <passthrough cols>, score) — same broadcast
    hydration shape as :func:`topk_hydrated` (k result rows into a
    column-pruned doclen scan)."""
    res = phrase_topk(spark, generation_dir, source, phrase_terms, k,
                      slop=slop, cand_limit=cand_limit, cfg=cfg,
                      use_positions=use_positions)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    ranked = res.withColumn("rank", F.row_number().over(w).cast("long"))
    return hydrate_results(spark, generation_dir, ranked,
                           columns=columns).orderBy("rank")


#: doclen columns that are engine bookkeeping, not source passthrough —
#: the single source of truth for BOTH hydration twins (query.hydrate_results
#: and serving.LocalSearcher.search_hydrated), so a future internal column
#: cannot leak from one twin while the other hides it
DOCLEN_INTERNAL_COLS = frozenset({"doc_id", "dl", "sha256", "shard"})


def topk_hydrated(spark: SparkSession, generation_dir: str,
                  query_terms: list[str], k: int = 10, *,
                  wand: bool | str = False, mode: str = "or",
                  cfg: IndexConfig | None = None,
                  columns: list[str] | None = None) -> DataFrame:
    """Top-k BM25 with the source DOCUMENTS attached →
    DataFrame(rank long, doc_id long, <passthrough cols>, score double).

    A search user wants the document, not its id — the reference's ES
    search API returns ``_source`` documents
    (`ElasticIndexer4sSpec.scala` round-trips full documents with
    ``theSameElementsAs``), and the build's doclen table already carries
    every source passthrough column (repo/path/commit/lang survive
    `operators/build.py` stage_doclen) for exactly this join.

    Scale shape: the k result rows BROADCAST into a join against doclen,
    whose scan reads only ``doc_id`` + the requested columns (column
    pruning) — the corpus-sized side streams, nothing corpus-sized
    shuffles, and k stays driver-tiny by contract.

    ``columns=None`` hydrates every passthrough column (everything except
    the engine-internal doc_id/dl/sha256/shard).
    """
    res = topk(spark, generation_dir, query_terms, k,
               wand=wand, mode=mode, cfg=cfg)
    # rank is fixed BEFORE the join (the join scrambles row order)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    ranked = res.withColumn("rank", F.row_number().over(w).cast("long"))
    return hydrate_results(spark, generation_dir, ranked,
                           columns=columns).orderBy("rank")


def topk_batch_hydrated(spark: SparkSession, generation_dir: str,
                        queries: dict[int, list[str]], k: int = 10, *,
                        wand: bool | str = False, mode: str = "or",
                        cfg: IndexConfig | None = None,
                        columns: list[str] | None = None) -> DataFrame:
    """:func:`topk_batch` with source documents attached →
    DataFrame(query_id, rank, doc_id, <passthrough cols>, score).  Same
    single-action scatter-gather; ONE broadcast join hydrates every
    query's results together."""
    res = topk_batch(spark, generation_dir, queries, k,
                     wand=wand, mode=mode, cfg=cfg)
    return hydrate_results(spark, generation_dir, res, columns=columns,
                           lead_cols=["query_id", "rank"]) \
        .orderBy("query_id", "rank")


def hydrate_results(spark: SparkSession, generation_dir: str,
                    results: DataFrame, *, columns: list[str] | None = None,
                    lead_cols: list[str] | None = None) -> DataFrame:
    """Attach doclen's source passthrough columns to a small result frame
    by broadcast-joining it into a column-pruned doclen scan (the big side
    streams; nothing corpus-sized shuffles)."""
    doclen = spark.read.parquet(FS.join(generation_dir, "doclen"))
    if columns is None:
        columns = [c for c in doclen.columns
                   if c not in DOCLEN_INTERNAL_COLS]
    lead = lead_cols if lead_cols is not None else ["rank"]
    return (doclen.select("doc_id", *columns)
            .join(F.broadcast(results), "doc_id")
            .select(*lead, "doc_id", *columns, "score"))


def count_index(spark: SparkSession, generation_dir: str) -> int:
    """Match-all doc count (reference `EsOpsClientApi.scala:89-90`).
    The minimal explicit schema keeps this working on a zero-doc
    generation (no part files to infer from)."""
    return spark.read.schema("doc_id long").parquet(
        FS.join(generation_dir, "doclen")).count()


def serve_topk(spark: SparkSession, generation_dir: str,
               query_terms: list[str], k: int = 10, *,
               wand: bool | str = True, mode: str = "or") -> list:
    """Latency-optimized point-query execution (returns collected rows).

    Tiny scatter-gather plans lose ~0.5s to AQE's staged re-optimization and
    to oversized shuffle fan-out, so both are narrowed around the action —
    this is the serving path a search frontend calls; `topk` remains the
    composable DataFrame API.
    """
    conf = spark.conf
    saved = {key: conf.get(key) for key in
             ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")}
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return topk(spark, generation_dir, query_terms, k,
                    wand=wand, mode=mode).collect()
    finally:
        for key, val in saved.items():
            conf.set(key, val)
