"""Low-latency local query serving over a built index generation — no Spark
— plus the one postings reader and the query plans both tiers run.

The reference's serving side is an Elasticsearch cluster: documents are
indexed through the write pipeline, then queries bypass the ingest machinery
entirely and hit ES's own searchers (`EsOpsClientApi.scala:89-90` is the only
query the reference itself issues).  This module is the engine-native
equivalent of that split: **build distributed (Spark), serve from the
artifact (pyarrow)**.  An index generation is immutable columnar parquet
(SURVEY §1.3), so a search frontend can read it directly.  Each scored
query type is one :class:`Plan` (its analysis, validation, terms and shard
kernel), and a shard's postings reach the kernel through one reader,
:func:`read_postings`.  The tiers differ only in how they schedule shards
and merge: :meth:`LocalSearcher._scatter` loops over them in process and
merges the typed ``TopK`` arrays (``merge_topk``); the Spark tier
(``operators.query._scatter``) runs one task per shard and merges with
``orderBy`` or a window.  So they are rank- and score-identical by
construction (pinned by tests).

Latency profile: the Spark path pays one job (~0.3-1 s scheduling floor) per
query — right for analytical batch scoring over thousands of queries; this
path pays a read of the few parquet row groups that can hold the query
terms plus in-process vectorized scoring.  The build writes postings and
dictionary sorted by ``term`` in small row groups; :class:`TermFiles` keeps
each group's footer ``term`` min/max (O(row groups) memory, no vocabulary)
and selects the groups a query needs, like an ES data node seeking to a
term's postings instead of scanning its shards.
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np

from . import fs as FS
from .config import IndexConfig
from .functions.codec import POSTINGS_FIELDS, EncodedPostings, row_to_enc
from .operators.query import (
    EMPTY_TOPK,
    TopK,
    _check_mode,
    _dictionary_path,
    _idfs,
    _shard_bool,
    _shard_phrase,
    analyze_phrase,
    analyze_query,
    check_postings_format,
    highlight_rows,
    load_config,
    load_stats,
    merge_topk,
    require_positions,
    score_queries,
)


def _levenshtein(a: str, b: str) -> int:
    """Plain edit distance — the same function Spark's ``F.levenshtein``
    and DuckDB's ``levenshtein`` compute (unit costs, no transposition),
    so serving-tier fuzzy expansion matches the Spark/oracle paths
    exactly."""
    if a == b:
        return 0
    if not a or not b:
        return len(a) or len(b)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _prefix_end(prefix: str) -> str | None:
    """The least string above every string that starts with ``prefix``
    (None: no bound).  ``[prefix, _prefix_end(prefix))`` is exactly the
    set of strings with that prefix, in code-point order."""
    p = prefix.rstrip("\U0010ffff")
    return p[:-1] + chr(ord(p[-1]) + 1) if p else None


class TermFiles:
    """The parquet files of one ``term``-keyed dataset (postings or
    dictionary), addressed through their row groups' ``term`` statistics.

    Construction opens every file once and keeps, per non-empty row group,
    the footer's ``term`` min/max — O(row groups) memory, no per-term
    state.  A selection returns the ``(file, [row group])`` pairs whose
    range can hold a wanted term.  It is exact on term-sorted files (a term
    selects the one group of each file that holds it) and a superset on
    any other file: an unsorted group spans most of the vocabulary and is
    simply selected, and a group without ``term`` statistics is always
    selected.
    """

    def __init__(self, dataset):
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        self.files: list = []
        self.keys: list[dict] = []      # hive partition values per file
        lo: list[str] = []
        hi: list[str] = []
        bounded: list[bool] = []
        where: list[tuple[int, int]] = []
        for frag in dataset.get_fragments():
            pf = pq.ParquetFile(frag.path, filesystem=dataset.filesystem)
            md = pf.metadata
            col = [md.schema.column(c).path
                   for c in range(md.num_columns)].index("term")
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                if rg.num_rows == 0:
                    continue
                st = rg.column(col).statistics
                ok = (st is not None and st.has_min_max
                      and isinstance(st.min, str))
                lo.append(st.min if ok else "")
                hi.append(st.max if ok else "")
                bounded.append(ok)
                where.append((len(self.files), g))
            self.files.append(pf)
            self.keys.append(ds.get_partition_keys(frag.partition_expression))
        self._lo = np.array(lo, dtype=object)
        self._hi = np.array(hi, dtype=object)
        self._unbounded = ~np.array(bounded, dtype=bool)
        self._where = np.array(where, dtype=np.int64).reshape(-1, 2)

    @property
    def num_groups(self) -> int:
        """Non-empty row groups over all files."""
        return len(self._where)

    def select(self, terms: list[str]) -> list[tuple[int, list[int]]]:
        """Groups whose ``[min, max]`` holds at least one of ``terms``:
        one ``searchsorted`` of every group's min into the sorted terms
        finds the least term ≥ min, which the group holds iff it is ≤ max."""
        q = np.array(sorted(set(terms)), dtype=object)
        at = np.searchsorted(q, self._lo)
        hit = at < q.size
        hit[hit] = q[at[hit]] <= self._hi[hit]
        return self._picks(hit)

    def select_prefix(self, prefix: str) -> list[tuple[int, list[int]]]:
        """Groups whose range overlaps the strings starting with
        ``prefix``."""
        hit = self._hi >= prefix
        end = _prefix_end(prefix)
        if end is not None:
            hit &= self._lo < end
        return self._picks(hit)

    def select_all(self) -> list[tuple[int, list[int]]]:
        return self._picks(np.ones(self.num_groups, dtype=bool))

    def _picks(self, hit: np.ndarray) -> list[tuple[int, list[int]]]:
        out: dict[int, list[int]] = {}
        for f, g in self._where[hit | self._unbounded].tolist():
            out.setdefault(f, []).append(g)
        return list(out.items())

    def read(self, file: int, groups: list[int], keep=None, columns=None):
        """Rows of one file's ``groups`` whose ``term`` passes ``keep`` (a
        pyarrow compute predicate; None keeps all).

        With ``keep``, every group's ``term`` column is read first and the
        other ``columns`` only from the groups that hold a kept row: a
        query term selects a group in every shard's file, but a rare term
        is in few shards, and the payload columns cost most of a read."""
        import pyarrow as pa

        pf = self.files[file]
        if keep is None:
            return pf.read_row_groups(groups, columns=columns,
                                      use_threads=False)
        terms = pf.read_row_groups(groups, columns=["term"],
                                   use_threads=False).column("term")
        kept = np.flatnonzero(keep(terms).to_numpy())
        sizes = np.array([pf.metadata.row_group(g).num_rows for g in groups])
        starts = np.cumsum(sizes) - sizes
        owner = np.searchsorted(starts, kept, side="right") - 1
        held = np.unique(owner)
        # a kept row's index in the read of the held groups alone
        at = (kept - starts[owner]
              + (np.cumsum(sizes[held]) - sizes[held])[
                  np.searchsorted(held, owner)])
        term = terms.take(kept)
        rest = [c for c in (columns or pf.schema_arrow.names) if c != "term"]
        if not rest:
            return pa.table({"term": term})
        payload = pf.read_row_groups([groups[i] for i in held], columns=rest,
                                     use_threads=False).take(at)
        return payload.append_column("term", term)


@dataclass
class ReadCount:
    """Row groups and rows of one ``TermFiles`` set touched by a query,
    summed over the query's reads of the set."""
    groups_present: int = 0   # non-empty row groups in the file set
    groups_read: int = 0      # selected by their footer ``term`` range
    rows: int = 0             # rows left after the term filter


def _read_groups(files: TermFiles, picks, keep=None, columns=None,
                convert=None, *, fan_out=map,
                count: ReadCount | None = None) -> list[tuple[dict, object]]:
    """The picked row groups of ``files`` read one file per ``fan_out``
    task, rows kept by ``keep``, tables ``convert``-ed → [(partition keys,
    converted table)], counted in ``count``."""
    def one(pick):
        file, groups = pick
        tbl = files.read(file, groups, keep, columns)
        return tbl.num_rows, (files.keys[file],
                              convert(tbl) if convert else tbl)

    outs = list(fan_out(one, picks))
    if count is not None:
        count.groups_read += sum(len(groups) for _, groups in picks)
        count.rows += sum(n for n, _ in outs)
    return [part for _, part in outs]


def _is_in(terms: list[str]):
    """A ``TermFiles.read`` predicate keeping the rows of ``terms``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    wanted = pa.array(sorted(set(terms)), type=pa.string())
    return lambda col: pc.is_in(col, value_set=wanted)


def to_encs(tbl) -> list[tuple[str, EncodedPostings]]:
    """Postings rows → the kernels' input [(term, EncodedPostings)]."""
    col = {c: tbl.column(c).to_pylist() for c in tbl.column_names}
    pos = col.get("pos_blob") or [None] * tbl.num_rows
    return [(t, row_to_enc(d, e, p)) for t, d, e, p in
            zip(col["term"], col["df"], col["enc"], pos)]


#: every postings column the scorers read: all but the positions
_NO_POSITIONS = [f for f in POSTINGS_FIELDS if f != "pos_blob"]


def read_postings(files: TermFiles, terms: list[str],
                  positions: bool = False, **how) -> dict[int, list]:
    """shard → [(term, EncodedPostings)] of ``terms`` in ``files`` (all
    shards for a searcher, one for a Spark task): the ``term``, ``df`` and
    ``enc`` columns, and ``pos_blob``, the largest, only for
    ``positions``.  ``how``: :func:`_read_groups`'s ``fan_out``, ``count``."""
    by_shard: dict[int, list] = {}
    for keys, rows in _read_groups(
            files, files.select(terms), _is_in(terms),
            list(POSTINGS_FIELDS) if positions else _NO_POSITIONS,
            to_encs, **how):
        if rows:
            by_shard.setdefault(int(keys["shard"]), []).extend(rows)
    return by_shard


def read_dfs(files: TermFiles, terms: list[str], **how) -> dict[str, int]:
    """Global df of each of ``terms`` the dictionary ``files`` holds."""
    out: dict[str, int] = {}
    for _, t in _read_groups(files, files.select(terms), _is_in(terms),
                            **how):
        out.update(zip(t.column("term").to_pylist(),
                       t.column("df").to_pylist()))
    return out


#: a process's one-shard postings readers for Spark tasks: (generation,
#: shard) → (stats.json token, TermFiles)
_SHARD_FILES: dict[tuple[str, int], tuple[object, TermFiles]] = {}


def shard_files(generation_dir: str, shard: int, token) -> TermFiles:
    """One shard's postings :class:`TermFiles`, reopened when ``token``
    changes (a resumed build rewrites shards in place, then stats.json)."""
    hit = _SHARD_FILES.get((generation_dir, shard))
    if hit is None or hit[0] != token:
        postings = FS.join(generation_dir, "postings")
        hit = (token, TermFiles(FS.parquet_dataset(
            FS.join(postings, f"shard={shard}"), format="parquet",
            partitioning="hive", partition_base_dir=FS.resolve(postings)[1])))
        _SHARD_FILES[(generation_dir, shard)] = hit
    return hit[1]


@dataclass(frozen=True)
class Plan:
    """One query's work on each shard, on both tiers: read the postings of
    ``terms`` (``pos_blob`` too for ``positions``), then ``kernel(encs,
    dfs)`` → the shard's result.  No ``terms``: nothing is read."""
    terms: list[str]
    kernel: Callable | None = None
    positions: bool = False


#: the plan of a query with no term to match, or of an empty index
NO_MATCH = Plan([])


def term_plan(cfg: IndexConfig, n_docs: int, avg_dl: float,
              queries: dict[int, list[str]], k: int, *,
              wand: bool | str, mode: str) -> Plan:
    """Term queries (query id → raw terms) → kernel ``score_queries``:
    {query_id: shard-local top-k}."""
    _check_mode(mode)
    analyzed = {qid: analyze_query(terms, cfg.tokenizer)
                for qid, terms in queries.items()}
    analyzed = {qid: t for qid, t in analyzed.items() if t}
    if not analyzed or n_docs == 0 or avg_dl == 0:
        return NO_MATCH

    def kernel(encs, dfs) -> dict[int, TopK]:
        return score_queries(encs, analyzed, dfs, cfg.k1, cfg.b,
                             float(avg_dl), k, n_docs=n_docs, wand=wand,
                             mode=mode)

    return Plan(sorted({t for ts in analyzed.values() for t in ts}), kernel)


def phrase_plan(cfg: IndexConfig, n_docs: int, avg_dl: float,
                phrase_terms: list[str], k: int, *, slop: int,
                query: str) -> Plan:
    """``match_phrase`` → kernel ``_shard_phrase``; ``query`` names the
    caller in the error of a generation without positions."""
    require_positions(cfg, query)
    seq = analyze_phrase(phrase_terms, cfg.tokenizer)
    if not seq or n_docs == 0 or avg_dl == 0:
        return NO_MATCH

    def kernel(encs, dfs) -> TopK:
        return _shard_phrase(encs, seq, _idfs(n_docs, dfs), cfg.k1, cfg.b,
                             float(avg_dl), k, slop=slop)

    return Plan(sorted(set(seq)), kernel, positions=True)


def bool_plan(cfg: IndexConfig, n_docs: int, avg_dl: float,
              must: list[str] | None, should: list[str] | None,
              must_not: list[str] | None, k: int) -> Plan:
    """ES ``bool`` → kernel ``_shard_bool``; a term both excluded and
    matched is rejected."""
    must_t = analyze_query(must or [], cfg.tokenizer)
    should_t = analyze_query(should or [], cfg.tokenizer)
    not_t = analyze_query(must_not or [], cfg.tokenizer)
    if not must_t and not should_t:
        return NO_MATCH
    overlap = set(not_t) & (set(must_t) | set(should_t))
    if overlap:
        raise ValueError(f"terms cannot be both excluded and matched: "
                         f"{sorted(overlap)}")
    if n_docs == 0 or avg_dl == 0:
        return NO_MATCH

    def kernel(encs, dfs) -> TopK:
        return _shard_bool(encs, must_t, should_t, not_t, _idfs(n_docs, dfs),
                           cfg.k1, cfg.b, float(avg_dl), k)

    return Plan(sorted(set(must_t) | set(should_t) | set(not_t)), kernel)


def highlight_plan(cfg: IndexConfig, n_docs: int, avg_dl: float,
                   query_terms: list[str], k: int, *, wand: bool | str,
                   mode: str, query: str) -> Plan:
    """Highlighting: the term plan read with positions → kernel (shard
    top-k, its ``highlight_rows``); ``query`` as in :func:`phrase_plan`."""
    scored = term_plan(cfg, n_docs, avg_dl, {0: query_terms}, k, wand=wand,
                       mode=mode)
    require_positions(cfg, query)
    if not scored.terms:
        return NO_MATCH

    def kernel(encs, dfs) -> tuple[TopK, list[tuple]]:
        top = scored.kernel(encs, dfs).get(0, EMPTY_TOPK)
        return top, highlight_rows(encs, top.doc_id, top.score)

    return Plan(scored.terms, kernel, positions=True)


def _one_query(method):
    """Public query entry point: starts a fresh :attr:`LocalSearcher.
    last_read`, unless it runs inside another query on the same thread
    (``search_prefix`` → ``expand_terms`` + ``search`` count as one)."""
    @functools.wraps(method)
    def run(self, *args, **kwargs):
        depth = getattr(self._local, "depth", 0)
        if depth == 0:
            self.last_read = self._no_reads()
        self._local.depth = depth + 1
        try:
            return method(self, *args, **kwargs)
        finally:
            self._local.depth = depth
    return run


def _hits(top: TopK) -> list[tuple[int, float]]:
    """A merged top-k → [(doc_id, score)], the ``search*`` result."""
    return list(zip(top.doc_id.tolist(), top.score.tolist()))


class LocalSearcher:
    """Query a generation directory directly through pyarrow.

    One instance per (immutable) generation: the file listing, each
    postings and dictionary file's row-group ``term`` bounds and the
    stats/config manifests are resolved once at construction, so a query
    reads only the row groups that can hold its terms, then scores in
    process (vectorized exhaustive by default; ``wand=True`` for block-max
    WAND).  Shards read and score one after another on the calling thread
    by default; ``n_threads > 1`` fans them out over a thread pool, like
    the shards of an ES data node.  The pool is opt-in because a query
    reads and scores a few small row groups, mostly under the GIL: the
    fan-out saves little and makes latency depend on when the pool's
    threads get a core.  On a shared 4-core VM the 4-thread pool gave a
    per-query coefficient of variation of ~0.3 against ~0.1 serial, with
    ~25% more throughput on selective queries and less on dense ones.
    The generation may live on any FS the engine's fs layer resolves
    (local, ``file://``, object stores).

    ``last_read`` maps ``"postings"`` and ``"dictionary"`` to the
    :class:`ReadCount` of the last query (per instance, last writer wins).
    """

    def __init__(self, generation_dir: str, *, n_threads: int = 1):
        self.generation_dir = generation_dir
        self.n_threads = max(1, int(n_threads))
        self.cfg: IndexConfig = load_config(generation_dir)
        stats = load_stats(generation_dir)
        check_postings_format(generation_dir, stats)
        self.num_docs: int = stats["num_docs"]
        self.avg_dl: float = stats["avg_dl"]
        self.dictionary = FS.parquet_dataset(
            _dictionary_path(generation_dir), format="parquet")
        self.postings = FS.parquet_dataset(
            FS.join(generation_dir, "postings"),
            format="parquet", partitioning="hive")
        self._files = {"postings": TermFiles(self.postings),
                       "dictionary": TermFiles(self.dictionary)}
        self._pool = (ThreadPoolExecutor(max_workers=self.n_threads)
                      if self.n_threads > 1 else None)
        self._doclen = None              # lazy: only hydration needs it
        self._local = threading.local()
        self.last_read: dict[str, ReadCount] = self._no_reads()

    def _no_reads(self) -> dict[str, ReadCount]:
        return {kind: ReadCount(files.num_groups)
                for kind, files in self._files.items()}

    def _fan_out(self, fn, items) -> list:
        items = list(items)
        if self._pool is not None and len(items) > 1:
            return list(self._pool.map(fn, items))
        return [fn(x) for x in items]

    def _how(self, kind: str) -> dict:
        """A read of the ``kind`` file set: on this searcher's shard pool,
        counted in :attr:`last_read`."""
        return {"fan_out": self._fan_out, "count": self.last_read[kind]}

    def _dfs(self, terms: list[str]) -> dict[str, int]:
        """Global df of each of ``terms`` in the dictionary."""
        return read_dfs(self._files["dictionary"], terms,
                        **self._how("dictionary"))

    def _scatter(self, plan: Plan) -> dict[int, object]:
        """The in-process executor of every scored ``search*`` →
        {shard: ``plan.kernel(encs, dfs)``} for the shards that hold a
        query term: read the postings of the plan's terms
        (:func:`read_postings`), then their global dfs (:meth:`_dfs`,
        skipped when no shard holds a term), then run the kernel on each
        shard (:meth:`_fan_out`)."""
        if not plan.terms:
            return {}
        by_shard = read_postings(self._files["postings"], plan.terms,
                                 plan.positions, **self._how("postings"))
        if not by_shard:
            return {}
        dfs = self._dfs(plan.terms)
        return dict(zip(by_shard, self._fan_out(
            lambda encs: plan.kernel(encs, dfs), by_shard.values())))

    @_one_query
    def search(self, query_terms: list[str], k: int = 10, *,
               wand: bool = False, mode: str = "or") -> list[tuple[int, float]]:
        """Top-k BM25 → [(doc_id, score)] ordered by (score desc, doc_id asc).

        Identical semantics (analysis, scoring, tie-breaks, ``mode="and"``
        conjunction) to :func:`operators.query.topk`: a one-query
        :meth:`search_batch`.
        """
        return self.search_batch({0: query_terms}, k, wand=wand,
                                 mode=mode).get(0, [])

    @_one_query
    def search_batch(self, queries: dict[int, list[str]], k: int = 10, *,
                     wand: bool = False,
                     mode: str = "or") -> dict[int, list[tuple[int, float]]]:
        """Top-k for a whole query set in ONE artifact read →
        {query_id: [(doc_id, score)]}, each list ordered like
        :meth:`search`.

        The serving twin of ``operators.query.topk_batch`` (same
        :func:`term_plan`): the postings read selects the row groups of
        the UNION of every query's terms (one read instead of |queries|
        reads), and every query scores against each shard's slice."""
        shard_outs = self._scatter(term_plan(
            self.cfg, self.num_docs, self.avg_dl, queries, k, wand=wand,
            mode=mode)).values()
        result: dict[int, list[tuple[int, float]]] = {}
        for qid in queries:
            top = merge_topk([so[qid] for so in shard_outs if qid in so], k)
            if len(top):
                result[qid] = _hits(top)
        return result

    @_one_query
    def search_phrase(self, phrase_terms: list[str],
                      k: int = 10, *,
                      slop: int = 0) -> list[tuple[int, float]]:
        """ES ``match_phrase`` on the serving tier → [(doc_id, score)]
        ordered by (score desc, doc_id asc).  ``slop`` relaxes adjacency
        to ordered proximity (gap ≤ 1+slop per consecutive pair).

        Requires a positions generation (``store_positions=True``): the
        adjacency check runs entirely off the artifact's decoded
        ``pos_blob`` streams — the :func:`phrase_plan` of the Spark path
        (``operators.query.phrase_topk``), so results are rank- and
        score-identical (pinned by pytest)."""
        plan = phrase_plan(self.cfg, self.num_docs, self.avg_dl,
                           phrase_terms, k, slop=slop, query="search_phrase")
        return _hits(merge_topk(self._scatter(plan).values(), k))

    @_one_query
    def search_bool(self, *, must: list[str] | None = None,
                    should: list[str] | None = None,
                    must_not: list[str] | None = None,
                    k: int = 10) -> list[tuple[int, float]]:
        """ES ``bool`` query on the serving tier — twin of
        ``operators.query.bool_topk`` (same :func:`bool_plan`: must
        filters+scores, should boosts, must_not excludes),
        rank/score-identical by pytest."""
        plan = bool_plan(self.cfg, self.num_docs, self.avg_dl, must, should,
                         must_not, k)
        return _hits(merge_topk(self._scatter(plan).values(), k))

    @_one_query
    def expand_terms(self, *, prefix: str | None = None,
                     fuzzy: str | None = None, max_edit: int = 2,
                     max_expansions: int = 50) -> list[str]:
        """Term-dictionary expansion on the serving tier — same semantics
        as ``operators.query.expand_terms``: alphabetically-first
        ``max_expansions`` terms matching the prefix and/or within
        ``max_edit`` plain Levenshtein distance.

        A prefix reads only the dictionary row groups whose term range
        overlaps the prefix's.  Fuzzy reads the whole ``term`` column (any
        group can hold a near term), drops terms whose length differs from
        the query's by more than ``max_edit`` — exact, since an edit
        distance is at least the length difference — and runs the Python
        Levenshtein on the rest only."""
        import pyarrow as pa
        import pyarrow.compute as pc

        files, how = self._files["dictionary"], self._how("dictionary")
        if prefix is not None:
            parts = _read_groups(
                files, files.select_prefix(prefix),
                keep=lambda col: pc.starts_with(col, prefix),
                columns=["term"], **how)
        else:
            parts = _read_groups(files, files.select_all(),
                                 columns=["term"], **how)
        terms = pa.chunked_array([t.column("term") for _, t in parts],
                                 type=pa.string())
        if fuzzy is not None:
            gap = pc.abs(pc.subtract(pc.utf8_length(terms), len(fuzzy)))
            near = terms.filter(pc.less_equal(gap, max_edit)).to_pylist()
            return sorted(t for t in near
                          if _levenshtein(t, fuzzy) <= max_edit
                          )[:max_expansions]
        return terms.take(
            pc.sort_indices(terms)[:max_expansions]).to_pylist()

    @_one_query
    def search_prefix(self, prefix: str, k: int = 10, *,
                      max_expansions: int = 50,
                      wand: bool = False) -> list[tuple[int, float]]:
        """ES prefix query on the serving tier: dictionary expansion +
        BM25 disjunction — rank/score-identical to
        ``operators.query.prefix_topk`` (pinned by pytest)."""
        terms = self.expand_terms(prefix=prefix,
                                  max_expansions=max_expansions)
        return self.search(terms, k, wand=wand) if terms else []

    @_one_query
    def search_fuzzy(self, term: str, k: int = 10, *, max_edit: int = 2,
                     max_expansions: int = 50,
                     wand: bool = False) -> list[tuple[int, float]]:
        """ES fuzzy query on the serving tier: Levenshtein expansion +
        BM25 disjunction — twin of ``operators.query.fuzzy_topk``."""
        terms = self.expand_terms(fuzzy=term, max_edit=max_edit,
                                  max_expansions=max_expansions)
        return self.search(terms, k, wand=wand) if terms else []

    @_one_query
    def search_highlight(self, query_terms: list[str], k: int = 10, *,
                         wand: bool = False,
                         mode: str = "or") -> list[dict]:
        """ES highlighting on the serving tier: top-k hits plus each
        matched term's 0-based token positions, straight from the
        artifact's ``pos_blob`` streams →
        ``[{"doc_id", "score", "term", "positions": [int, ...]}, ...]``
        ordered (score desc, doc_id asc, term asc) — the serving twin of
        ``operators.query.highlight_topk`` (identical docs/scores/
        positions, pinned by pytest).  Requires a positions generation."""
        parts = self._scatter(highlight_plan(
            self.cfg, self.num_docs, self.avg_dl, query_terms, k, wand=wand,
            mode=mode, query="search_highlight")).values()
        # global top-k over the shards' hits, then their term rows
        hits = set(merge_topk([top for top, _ in parts], k).doc_id.tolist())
        out = [{"doc_id": d, "score": s, "term": t, "positions": p.tolist()}
               for _, rows in parts for d, s, t, p in rows if d in hits]
        out.sort(key=lambda r: (-r["score"], r["doc_id"], r["term"]))
        return out

    @_one_query
    def search_hydrated(self, query_terms: list[str], k: int = 10, *,
                        wand: bool = False, mode: str = "or",
                        columns: list[str] | None = None) -> list[dict]:
        """Top-k with source documents attached →
        ``[{"rank", "doc_id", "score", <passthrough cols>}, ...]``.

        The serving twin of ``operators.query.topk_hydrated`` (the
        reference's ES search returns ``_source`` documents, not ids): one
        columnar doclen read of ``doc_id`` plus the requested passthrough
        columns, filtered to the k hit ids, on pyarrow's threads only when
        the searcher has a shard pool.  doclen is partitioned by shard like
        the postings, so the read covers only the shards the hits came
        from; its cost grows with those shards' size, not with k."""
        import pyarrow.dataset as ds

        tops = {shard: out[0] for shard, out in self._scatter(term_plan(
            self.cfg, self.num_docs, self.avg_dl, {0: query_terms}, k,
            wand=wand, mode=mode)).items() if 0 in out}
        top = merge_topk(tops.values(), k)
        if not len(top):
            return []
        hits = _hits(top)
        shards = [shard for shard, t in tops.items()
                  if np.isin(t.doc_id, top.doc_id).any()]
        if self._doclen is None:
            self._doclen = FS.parquet_dataset(
                FS.join(self.generation_dir, "doclen"),
                format="parquet", partitioning="hive")
        if columns is None:
            from .operators.query import DOCLEN_INTERNAL_COLS

            columns = [c for c in self._doclen.schema.names
                       if c not in DOCLEN_INTERNAL_COLS]
        ids = top.doc_id.tolist()
        tbl = self._doclen.to_table(
            columns=["doc_id", *columns],
            filter=(ds.field("shard").isin(shards)
                    & ds.field("doc_id").isin(ids)),
            use_threads=self._pool is not None)
        by_id = {int(r["doc_id"]): r for r in tbl.to_pylist()}
        out = []
        for rank, (doc_id, score) in enumerate(hits, start=1):
            row = {"rank": rank, "doc_id": doc_id, "score": score}
            src = by_id.get(doc_id, {})
            for c in columns:
                row[c] = src.get(c)
            out.append(row)
        return out

    def count(self) -> int:
        """Match-all doc count (reference `EsOpsClientApi.scala:89-90`)."""
        return self.num_docs


def search_alias(index_root: str, alias: str, query_terms: list[str],
                 k: int = 10, **kw) -> list[tuple[int, float]]:
    """Resolve ``alias`` (the published generation, reference
    `AliasSwitching.scala`) and query it — the one-shot convenience wrapper a
    serving frontend would call per request when not caching searchers."""
    from .plans.pipeline import resolve_alias

    gen = resolve_alias(index_root, alias)
    if gen is None:
        raise KeyError(
            f"alias {alias!r} does not resolve to any generation "
            f"under {index_root!r}")
    return LocalSearcher(gen).search(query_terms, k, **kw)
