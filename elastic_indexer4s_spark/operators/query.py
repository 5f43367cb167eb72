"""BM25 top-k query execution over a built index generation.

The reference delegates search to ES (`search(index) size 0` for counts,
`EsOpsClientApi.scala:89-90`; `matchAllQuery` in its ITs); this module owns it
(SURVEY §2 B6-B8).

Query plan (scales to many shards).  Every scored query type runs this one
plan, built by :func:`_scatter`; each differs only in its ``serving.Plan``
(analysis, terms, shard kernel) and its final merge:
 1. analyze the query string with the SAME tokenizer as the build — the
    query type's plan (``serving.term_plan``, ``phrase_plan``,
    ``bool_plan``, ``highlight_plan``), which the serving tier builds too;
 2. global df per term: the driver reads the build-time ``dictionary``
    with the serving tier's reader (``serving.read_dfs``, only the row
    groups whose ``term`` min/max can hold a query term) and ships the dfs
    in the task closure — a query term in no dictionary row returns the
    empty result without a Spark job;
 3. per-shard scoring: ONE ``mapInArrow`` over the shard ids, one task per
    shard, no exchange below it.  Each task reads its shard's postings with
    the serving reader (``serving.read_postings``: the term-sorted row
    groups that can hold the query terms, only their ``term``, ``df``,
    ``enc`` columns, ``pos_blob`` too for phrase and highlight) and runs
    the plan's kernel (:func:`score_queries`, ``_shard_phrase``,
    ``_shard_bool``, :func:`highlight_rows`): decode, accumulate
    doc→score vectorized (:func:`_accumulate`), return the SHARD-LOCAL
    top-k as a typed :class:`TopK`, handed to Spark as one Arrow batch —
    the scatter-gather of every document-partitioned search engine.  The
    serving tier runs the same plan and reader in process and merges the
    arrays directly (:func:`merge_topk`);
 4. global top-k = ``ORDER BY score DESC, doc_id ASC LIMIT k`` over ≤
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
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .. import fs as FS
from ..config import IndexConfig, TokenizerConfig
from ..functions.codec import (POSTINGS_FORMAT, EncodedPostings,
                               decode_block, decode_positions,
                               decode_postings)
from ..functions.tokenizer import tokenize_py


def load_stats(generation_dir: str) -> dict:
    return FS.read_json(FS.join(generation_dir, "stats.json"))


DICTIONARY_DDL = "term string, df bigint"


def _dictionary_path(generation_dir: str) -> str:
    """The generation's ``dictionary/``; ValueError if it is missing."""
    path = FS.join(generation_dir, "dictionary")
    if not FS.exists(path):
        raise ValueError(
            f"{path} does not exist: every index generation needs the term "
            f"dictionary its build writes; resume the build to rewrite it")
    return path


def check_postings_format(generation_dir: str, stats: dict) -> None:
    """ValueError unless ``stats`` (the generation's ``stats.json``)
    records the postings layout this engine reads."""
    found = stats.get("postings_format")
    if found != POSTINGS_FORMAT:
        layout = ("the column-per-stream postings layout (doc_blob, tf_blob, "
                  "dl_blob and seven block_* columns)" if found is None
                  else f"postings_format {found}")
        raise ValueError(
            f"{generation_dir} stores {layout}; this engine reads only "
            f"postings_format {POSTINGS_FORMAT} (one packed enc payload per "
            "term): rebuild the generation")


#: generation dir → (``stats.json`` token, dictionary ``TermFiles``, ids of
#: the shards holding postings): what the Spark driver keeps of a
#: generation.  Generations are immutable once built (new runs create NEW
#: generation dirs, reference ElasticWriteConfig.scala:23), but a resumed
#: build rewrites shards in place and then ``stats.json``, so an entry is
#: renewed whenever that file's token changes.
_GENERATIONS: dict[str, tuple] = {}


def _generation(generation_dir: str) -> tuple:
    from ..serving import TermFiles

    token = FS.mtime_token(FS.join(generation_dir, "stats.json"))
    gen = _GENERATIONS.get(generation_dir)
    if gen is None or gen[0] != token:
        check_postings_format(generation_dir, load_stats(generation_dir))
        gen = _GENERATIONS[generation_dir] = (
            token,
            TermFiles(FS.parquet_dataset(_dictionary_path(generation_dir),
                                         format="parquet")),
            sorted(int(info.base_name.split("=", 1)[1]) for info in
                   FS.ls(FS.join(generation_dir, "postings"))
                   if info.base_name.startswith("shard=")))
    return gen


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


@dataclass(frozen=True, slots=True)
class TopK:
    """One shard kernel's result: ``doc_id`` (int64) and ``score``
    (float64) arrays of equal length, ordered (score desc, doc_id asc).
    ``top["doc_id"]`` reads a column by name; ``len(top)`` is the hit
    count."""
    doc_id: np.ndarray
    score: np.ndarray

    def __len__(self) -> int:
        return len(self.doc_id)

    def __getitem__(self, column: str) -> np.ndarray:
        return getattr(self, column)

    def columns(self) -> dict[str, np.ndarray]:
        """The result as a column mapping (an Arrow batch's input)."""
        return {"doc_id": self.doc_id, "score": self.score}


#: the empty result every kernel returns for a shard without a hit
EMPTY_TOPK = TopK(np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


def _ranked(doc_id: np.ndarray, score: np.ndarray, k: int) -> TopK:
    """The k best of unordered ``doc_id``/``score`` pairs."""
    order = np.lexsort((doc_id, -score))[:k]  # (score desc, doc_id asc)
    return TopK(doc_id[order], score[order])


def merge_topk(tops, k: int) -> TopK:
    """Shard-local top-k results → the global top-k: every doc lives in
    one shard, so this is a top-k of the concatenation."""
    tops = [EMPTY_TOPK, *tops]
    return _ranked(np.concatenate([t.doc_id for t in tops]),
                   np.concatenate([t.score for t in tops]), k)


#: :func:`_accumulate` bins postings by offset from the least doc id when
#: the ids span at most this many ids per posting, else it bins through
#: ``np.unique``.  Offset bins cost O(span) but no sort; at spans up to 2x
#: the posting count they were faster than the sort at every shard size
#: measured (6k–400k ids), and a wider span never allocates more than 2x
#: the postings.  Shard-dense ids (``shard << 33 | row``) make a dense
#: query's span about its shard's size.
_DENSE_SPAN_PER_POSTING = 2


def _accumulate(ids_parts: list[np.ndarray], contrib_parts: list[np.ndarray],
                require_all: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc BM25 sums of term-ordered posting slices → (doc ids
    ascending, scores), keeping only docs present in ``require_all``
    slices when it is > 0.  ``np.bincount`` adds each bin's weights in
    scan order under either binning, so every doc's sum is formed in the
    pure-Python oracle's order."""
    ids = np.concatenate(ids_parts)
    if not ids.size:
        return ids, np.zeros(0, dtype=np.float64)
    lo = ids.min()
    if ids.max() - lo < _DENSE_SPAN_PER_POSTING * ids.size:
        bins, inv = None, ids - lo
    else:
        bins, inv = np.unique(ids, return_inverse=True)
    scores = np.bincount(inv, weights=np.concatenate(contrib_parts))
    hit = np.flatnonzero(np.bincount(inv) >= max(require_all, 1))
    return (hit + lo if bins is None else bins[hit]), scores[hit]


def _shard_exhaustive(encs: list[tuple[str, EncodedPostings]], idfs: dict[str, float],
                      k1: float, b: float, avg_dl: float, k: int,
                      require_all: int = 0) -> TopK:
    """Decode every posting fully, accumulate doc→score, local top-k —
    pure NumPy, no per-posting Python (~20x the dict-loop it replaced on
    high-df terms).

    Float parity: contributions are concatenated per term in ASCENDING term
    order and :func:`_accumulate` adds them in scan order, so each doc's
    score accumulates in exactly the same fp-addition sequence as the
    pure-Python oracle's per-term loop.

    ``require_all`` > 0 = conjunctive (ES ``match`` with ``operator=and``):
    only docs matched by ALL ``require_all`` query terms survive.  A term
    with no postings in this shard makes the whole shard a miss (every doc
    lives in exactly one shard, so this is the global AND semantics too).
    """
    if not encs or (require_all and len(encs) < require_all):
        return EMPTY_TOPK
    ids_parts: list[np.ndarray] = []
    contrib_parts: list[np.ndarray] = []
    for term, enc in sorted(encs, key=lambda x: x[0]):
        doc_ids, tfs, dls = decode_postings(enc)
        ids_parts.append(doc_ids)
        contrib_parts.append(_score_arrays(tfs, dls, idfs[term], k1, b, avg_dl))
    return _ranked(*_accumulate(ids_parts, contrib_parts, require_all), k)


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
                require_all: int = 0) -> TopK:
    """Block-max WAND over the shard's query-term postings.

    Document-at-a-time in block granularity: advance through blocks in doc_id
    order; before scoring a block span, sum the block upper bounds of the
    terms whose current block overlaps the span — if below the heap's k-th
    score, skip ahead without decoding.  Produces EXACTLY the same top-k as
    exhaustive scoring (ties broken by doc_id asc) because bounds are
    admissible: score(tf,dl) ≤ idf·(k1+1)·maxtf/(maxtf+k1·(1-b+b·min_dl/avgdl)).
    """
    if require_all and len(encs) < require_all:
        return EMPTY_TOPK
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
            uniq, scores = _accumulate(ids_parts, contrib_parts, require_all)
            if len(heap) >= k:
                # admissible pre-filter: heap[0][0] only grows during the
                # push loop, and push() itself settles score ties by doc_id
                m = scores >= heap[0][0]
                uniq, scores = uniq[m], scores[m]
            for d, s in zip(uniq.tolist(), scores.tolist()):
                push(int(d), s)

    return _ranked(
        np.fromiter((-negd for _, negd in heap), np.int64, len(heap)),
        np.fromiter((s for s, _ in heap), np.float64, len(heap)), k)


def score_queries(encs: list[tuple[str, EncodedPostings]],
                  queries: dict[int, list[str]], dfs: dict[str, int],
                  k1: float, b: float, avg_dl: float, k: int, *,
                  n_docs: int, wand: bool | str = False,
                  mode: str = "or") -> dict[int, TopK]:
    """The term-query kernel of both tiers: one shard's postings ``encs``
    scored for each of ``queries`` (query id → analyzed terms) →
    {query_id: shard-local top-k} for the queries with a hit here.  Each
    query picks its scorer (:func:`choose_scorer`) from the dfs of its
    terms in this shard; ``wand`` and ``mode`` are :func:`topk`'s.  A
    single query is ``{0: terms}``."""
    by_term = dict(encs)
    idfs = {t: _idf(n_docs, dfs[t]) for t in by_term}
    out: dict[int, TopK] = {}
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


#: the shard results' Arrow schemas: a top-k, a batch's, highlight's rows
#: and facets' match set
TOPK = pa.schema([("doc_id", pa.int64()), ("score", pa.float64())])
BATCH = pa.schema([("query_id", pa.int64()), *TOPK])
HIGHLIGHT = pa.schema([*TOPK, ("term", pa.string()),
                       ("positions", pa.string())])
MATCHES = pa.schema([("doc_id", pa.int64())])


def _scatter(spark: SparkSession, generation_dir: str, plan, schema,
             columns) -> DataFrame:
    """The one Spark plan of every scored query (module doc, steps 2–3) →
    the shards' kernel results as a DataFrame of the Arrow ``schema``.
    ``plan`` is the query's ``serving.Plan``; ``columns(result)`` turns
    one shard's kernel result into {column: array}.  One ``mapInArrow``
    task per shard reads that shard's postings with the serving reader and
    runs the kernel; with the caller's merge the query is ONE Spark
    action."""
    from ..serving import read_dfs, read_postings, shard_files

    spark_schema = from_arrow_schema(schema)
    if not plan.terms:
        return spark.createDataFrame([], spark_schema)
    token, dictionary, shards = _generation(generation_dir)
    dfs = read_dfs(dictionary, plan.terms)
    if not dfs:
        return spark.createDataFrame([], spark_schema)

    def run(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                shard = shards[i]
                encs = read_postings(shard_files(generation_dir, shard, token),
                                     plan.terms, plan.positions).get(shard)
                if encs:
                    yield pa.RecordBatch.from_pydict(
                        columns(plan.kernel(encs, dfs)), schema=schema)

    return (spark.range(len(shards), numPartitions=len(shards))
            .mapInArrow(run, spark_schema))


def _top(local: DataFrame, k: int) -> DataFrame:
    """Global top-k of the shards' rows: (score desc, doc_id asc)."""
    return local.orderBy(F.col("score").desc(), F.col("doc_id").asc()) \
        .limit(k)


def _corpus(generation_dir: str, cfg: IndexConfig | None):
    """(config, doc count, average doc length): what a plan needs of the
    generation."""
    stats = load_stats(generation_dir)
    return (cfg or load_config(generation_dir), stats["num_docs"],
            stats["avg_dl"])


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
    from ..serving import term_plan

    plan = term_plan(*_corpus(generation_dir, cfg), {0: query_terms}, k,
                     wand=wand, mode=mode)
    return _top(_scatter(spark, generation_dir, plan, TOPK,
                         lambda out: out.get(0, EMPTY_TOPK).columns()), k)


def _batch_columns(tops: dict[int, TopK]) -> dict[str, np.ndarray]:
    """One shard's {query_id: top-k} → ``query_id, doc_id, score``
    columns."""
    # a leading empty result keeps every array op defined with no hit
    qids = np.array([0, *tops], dtype=np.int64)
    parts = [EMPTY_TOPK, *tops.values()]
    return {"query_id": np.repeat(qids, [len(t) for t in parts]),
            "doc_id": np.concatenate([t.doc_id for t in parts]),
            "score": np.concatenate([t.score for t in parts])}


def topk_batch(spark: SparkSession, generation_dir: str,
               queries: dict[int, list[str]], k: int = 10, *,
               wand: bool | str = False, mode: str = "or",
               cfg: IndexConfig | None = None) -> DataFrame:
    """Top-k BM25 for a whole query SET in ONE Spark action →
    DataFrame(query_id long, rank long, doc_id long, score double).

    The amortization path for offline evaluation / reranking pipelines
    (the reference's "query set" workload): one dictionary read and one
    shard scatter for the UNION of all query terms, the per-shard task
    scores every query against its term slice with :func:`score_queries`,
    as :func:`topk` does, and only shards*queries*k candidate rows
    reach the final per-query window.  Per-query plans would pay the
    read + schedule cost |queries| times for identical artifacts."""
    from ..serving import term_plan

    plan = term_plan(*_corpus(generation_dir, cfg),
                     {int(qid): terms for qid, terms in queries.items()}, k,
                     wand=wand, mode=mode)
    local = _scatter(spark, generation_dir, plan, BATCH, _batch_columns)
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
                  avg_dl: float, k: int, slop: int = 0) -> TopK:
    """Index-native phrase match over one shard's query-term postings:
    conjunctive doc intersection, then adjacency verification from DECODED
    POSITIONS (a doc matches iff some position p has seq[0]@p, seq[1]@p+1,
    …), then conjunctive BM25 over the phrase's distinct terms — the same
    fp accumulation order as ``_shard_exhaustive`` (term-ascending), so
    each hit's score is bit-identical to its ``topk(mode="and")`` score.

    ``slop`` > 0 relaxes adjacency to ORDERED PROXIMITY: each consecutive
    phrase token may sit up to ``slop`` extra positions after its
    predecessor (gap ∈ [1, 1+slop]).  This is deliberately the simple
    ordered semantics, not Lucene's SloppyPhraseScorer edit-distance
    (which also permits reorders at slop ≥ 2) — documented, monotone
    (slop=0 ≡ exact phrase), and SQL-expressible for the oracle.  The
    divergence is pinned by ``test_slop_does_not_reorder``
    (``tests/test_shard_kernels.py``).

    Everything is vectorized: per-term (doc, position) pairs pack into one
    sorted int64 key array and each proximity step is ``slop+1``
    searchsorted passes — no per-doc Python.
    """
    uniq = sorted(set(seq))
    by_term = dict(encs)
    if any(t not in by_term for t in uniq):
        # a term absent from this shard: no doc here can hold the phrase
        # (every doc lives in exactly one shard)
        return EMPTY_TOPK
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
            return EMPTY_TOPK
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
            return EMPTY_TOPK
    ph_docs = matched[np.unique(cand // _POS_SHIFT)]
    # conjunctive BM25, contributions added term-ascending (fp parity
    # with _shard_exhaustive's bincount accumulation)
    score = np.zeros(ph_docs.size, dtype=np.float64)
    for t in uniq:
        doc_ids, tfs, dls, _pos = dec[t]
        sel = np.searchsorted(doc_ids, ph_docs)
        score += _score_arrays(tfs[sel], dls[sel], idfs[t], k1, b, avg_dl)
    return _ranked(ph_docs, score, k)


def require_positions(cfg: IndexConfig, query: str) -> None:
    """ValueError unless the generation built with ``cfg`` stores token
    positions.  ``query`` names the caller.  Phrase and highlight, on both
    tiers, read ``pos_blob`` and have no fallback; ES's ``match_phrase``
    on a field indexed without positions fails the same way."""
    if not cfg.store_positions:
        raise ValueError(f"{query} needs a positions generation "
                         "(store_positions=True); this index stores none")


def phrase_topk(spark: SparkSession, generation_dir: str,
                phrase_terms: list[str], k: int = 10, *,
                slop: int = 0,
                cfg: IndexConfig | None = None) -> DataFrame:
    """ES ``match_phrase``: top-k docs containing the EXACT analyzed token
    sequence, scored by the conjunctive BM25 of the phrase's terms →
    DataFrame(doc_id long, score double), ordered.

    The :func:`_scatter` plan over the phrase's distinct terms with
    ``_shard_phrase`` as the shard kernel: conjunctive postings
    intersection, then adjacency verification from the decoded
    ``pos_blob`` streams, then the global top-k.  One Spark action, exact
    for any phrase, and the source table is never read.  Needs a positions
    generation (``store_positions=True``); any other raises ValueError
    (:func:`require_positions`).

    ``slop`` relaxes adjacency to ordered proximity (consecutive tokens
    within ``1+slop`` positions — see :func:`_shard_phrase`).
    """
    from ..serving import phrase_plan

    plan = phrase_plan(*_corpus(generation_dir, cfg), phrase_terms, k,
                       slop=slop, query="phrase_topk")
    return _top(_scatter(spark, generation_dir, plan, TOPK, TopK.columns), k)


def _shard_bool(encs: list[tuple[str, EncodedPostings]], must: list[str],
                should: list[str], must_not: list[str],
                idfs: dict[str, float], k1: float, b: float,
                avg_dl: float, k: int) -> TopK:
    """ES ``bool`` query over one shard's postings: docs containing EVERY
    ``must`` term and NO ``must_not`` term, scored by the BM25 sum of the
    (must ∪ should) terms they contain; with no ``must`` terms the match
    set is the union of ``should`` matches (pure disjunction).  Same
    decode + searchsorted machinery and term-ascending fp accumulation as
    the other shard kernels."""
    by_term = dict(encs)
    if any(t not in by_term for t in must):
        return EMPTY_TOPK
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
                return EMPTY_TOPK
    else:
        parts = [dec[t][0] for t in should if t in dec]
        if not parts:
            return EMPTY_TOPK
        base = np.unique(np.concatenate(parts))
    for t in must_not:
        if t in dec:
            base = base[~_isin_sorted(base, dec[t][0])]
            if base.size == 0:
                return EMPTY_TOPK
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
    return _ranked(base, score, k)


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
    from ..serving import bool_plan

    plan = bool_plan(*_corpus(generation_dir, cfg), must, should, must_not,
                     k)
    return _top(_scatter(spark, generation_dir, plan, TOPK, TopK.columns), k)


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
    d = spark.read.schema(DICTIONARY_DDL).parquet(
        _dictionary_path(generation_dir))
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
    the canonical faceted-navigation request.  The match set needs NO
    scoring: it is the :func:`_scatter` plan with a kernel that decodes
    only each term's doc ids and returns the shard's docs present under
    every analyzed term (``mode="and"``) or under any (``"or"``) — a
    shard-local intersection is the global one, since every doc lives in
    exactly one shard.  The facet column rides a doc_id equi-join against
    the column-pruned doclen table, and the count is a two-phase hash
    aggregate.  Scale shape: only ids ever shuffle — never content — as
    in ES, which merges shard-local counts on the coordinator.  (An
    earlier draft reused ``topk`` with a giant k: Spark's
    TakeOrderedAndProject allocates its bounded priority queue at k
    capacity, so a 10^9 "no cutoff" k OOMs the JVM — set semantics must
    avoid the top-k operator, not out-size it.)
    """
    from ..serving import Plan

    _check_mode(mode)
    cfg = cfg or load_config(generation_dir)
    terms = analyze_query(query_terms, cfg.tokenizer)
    doclen = spark.read.parquet(FS.join(generation_dir, "doclen"))
    if facet_col not in doclen.columns or facet_col in DOCLEN_INTERNAL_COLS:
        raise ValueError(f"facet_col {facet_col!r} is not a passthrough "
                         f"column of this generation's doclen")

    def kernel(encs, _dfs) -> np.ndarray:
        ids = [decode_postings(enc)[0] for _term, enc in encs]
        if mode == "or":
            return np.unique(np.concatenate(ids))
        if len(ids) < len(terms):
            return np.empty(0, dtype=np.int64)
        hit = ids[0]
        for other in ids[1:]:
            hit = hit[_isin_sorted(hit, other)]
        return hit

    matches = _scatter(spark, generation_dir, Plan(terms, kernel), MATCHES,
                       lambda ids: {"doc_id": ids})
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


def _highlight_columns(out: tuple[TopK, list[tuple]]) -> dict[str, list]:
    """One shard's (top-k, highlight rows) → the rows as columns, positions
    joined by commas."""
    rows = out[1]
    return {"doc_id": [r[0] for r in rows], "score": [r[1] for r in rows],
            "term": [r[2] for r in rows],
            "positions": [",".join(map(str, r[3].tolist())) for r in rows]}


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
    from ..serving import highlight_plan

    plan = highlight_plan(*_corpus(generation_dir, cfg), query_terms, k,
                          wand=wand, mode=mode, query="highlight_topk")
    local = _scatter(spark, generation_dir, plan, HIGHLIGHT,
                     _highlight_columns)
    # global top-k over DISTINCT docs: a doc's term rows share its (score,
    # doc_id), so they share one dense rank, and the first k ranks are the
    # k best docs.  The window sees at most shards·k·|terms| rows.
    by_hit = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (local.withColumn("_rank", F.dense_rank().over(by_hit))
            .filter(F.col("_rank") <= k).drop("_rank")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc(),
                     F.col("term").asc()))


def phrase_topk_hydrated(spark: SparkSession, generation_dir: str,
                         phrase_terms: list[str], k: int = 10, *,
                         slop: int = 0,
                         cfg: IndexConfig | None = None,
                         columns: list[str] | None = None) -> DataFrame:
    """:func:`phrase_topk` with the source documents attached →
    DataFrame(rank, doc_id, <passthrough cols>, score) — same broadcast
    hydration shape as :func:`topk_hydrated` (k result rows into a
    column-pruned doclen scan)."""
    res = phrase_topk(spark, generation_dir, phrase_terms, k, slop=slop,
                      cfg=cfg)
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
