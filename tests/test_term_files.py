"""Row-group addressing of term-keyed parquet (serving.TermFiles) and the
serving reads built on it — pure pyarrow, no Spark session.

Files are written here with ``row_group_size=8`` so that even a small
vocabulary spans many row groups: on a term-sorted file a term selects
exactly its own group, on a shuffled file the selection is a superset, and
generations of either layout serve identical results."""

import json
import random

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from elastic_indexer4s_spark.config import IndexConfig
from elastic_indexer4s_spark.functions.codec import (
    POSTINGS_FORMAT, enc_to_row, encode_postings, postings_arrow_schema)
from elastic_indexer4s_spark.reference_bm25 import build_py_index, bm25_topk
from elastic_indexer4s_spark.serving import (
    LocalSearcher, TermFiles, _levenshtein)

GROUP = 8


def _words(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice("abcdeklmorstu")
                        for _ in range(rng.randint(2, 7))))
    return sorted(out)


def _term_file(path, terms: list[str], *, shuffle: bool = False,
               group: int = GROUP, **kw) -> str:
    """One file of (term, payload = the term's rank in ``terms``)."""
    rows = list(enumerate(terms))
    if shuffle:
        random.Random(3).shuffle(rows)
    tbl = pa.table({"term": [t for _, t in rows],
                    "payload": [i for i, _ in rows]})
    pq.write_table(tbl, str(path), row_group_size=group, **kw)
    return str(path)


def _read_picks(files: TermFiles, picks, term: str) -> list[dict]:
    rows = []
    for f, groups in picks:
        rows += [r for r in files.read(f, groups).to_pylist()
                 if r["term"] == term]
    return rows


def test_shuffled_file_selection_is_superset(tmp_path):
    terms = _words(100, 1)
    files = TermFiles(ds.dataset(_term_file(tmp_path / "a.parquet", terms,
                                            shuffle=True)))
    assert files.num_groups == 13
    for i, t in enumerate(terms):
        assert _read_picks(files, files.select([t]), t) == \
            [{"term": t, "payload": i}]
    # several terms at once: every one of them is still reachable
    want = terms[::17]
    picks = files.select(want)
    for t in want:
        assert len(_read_picks(files, picks, t)) == 1


def test_sorted_file_term_selects_exactly_its_group(tmp_path):
    terms = _words(100, 2)
    files = TermFiles(ds.dataset(_term_file(tmp_path / "a.parquet", terms)))
    for i, t in enumerate(terms):
        assert files.select([t]) == [(0, [i // GROUP])], t
    # one term from each of three groups → exactly those three groups
    assert files.select([terms[3], terms[40], terms[99]]) == \
        [(0, [0, 5, 12])]


def test_read_keeps_matching_rows(tmp_path):
    import pyarrow.compute as pc

    terms = _words(100, 6)
    files = TermFiles(ds.dataset(_term_file(tmp_path / "a.parquet", terms,
                                            shuffle=True)))
    want = [terms[5], terms[60], "zzzz"]
    keep = lambda col: pc.is_in(col, value_set=pa.array(want))  # noqa: E731
    (f, groups), = files.select(want)
    tbl = files.read(f, groups, keep)
    assert sorted(tbl.to_pylist(), key=lambda r: r["payload"]) == \
        [{"term": terms[5], "payload": 5}, {"term": terms[60], "payload": 60}]
    only_terms = files.read(f, groups, keep, columns=["term"])
    assert sorted(only_terms.column("term").to_pylist()) == want[:2]


def test_group_without_term_statistics_is_always_read(tmp_path):
    d = tmp_path / "set"
    d.mkdir()
    terms = _words(40, 3)
    _term_file(d / "a.parquet", terms[:24])
    _term_file(d / "b.parquet", terms[24:], write_statistics=["payload"])
    files = TermFiles(ds.dataset(str(d)))
    by_path = {pf.metadata.num_rows: i for i, pf in enumerate(files.files)}
    a, b = by_path[24], by_path[16]
    # a term of a.parquet: its own group there, every group of b.parquet
    assert dict(files.select([terms[10]])) == {a: [1], b: [0, 1]}
    assert dict(files.select(["zzzz"])) == {b: [0, 1]}
    assert dict(files.select_prefix("zzzz")) == {b: [0, 1]}


def test_absent_terms_and_empty_file(tmp_path):
    terms = _words(64, 4)
    files = TermFiles(ds.dataset(_term_file(tmp_path / "a.parquet", terms)))
    # between group 0's max and group 1's min, and past the last term
    gap = terms[7] + "~"
    assert terms[7] < gap < terms[8]
    assert files.select([gap]) == []
    assert files.select(["~~~"]) == []
    assert files.select_prefix("~") == []

    empty = _term_file(tmp_path / "empty.parquet", [])
    files = TermFiles(ds.dataset(empty))
    assert files.num_groups == 0
    assert files.select(["a"]) == []
    assert files.select_prefix("a") == []
    assert files.select_all() == []


# ---------------------------------------------------------------------------
# whole generations written with pyarrow: term-sorted small row groups vs the
# old layout (first-appearance order, one row group per file)
# ---------------------------------------------------------------------------

N_SHARDS = 3


def _corpus() -> dict[int, str]:
    words = _words(150, 5)
    rng = random.Random(9)
    # Zipf-ish draw so some terms are dense and most are rare
    return {d: " ".join(words[min(int(150 ** rng.random()) - 1, 149)]
                        for _ in range(rng.randint(3, 25)))
            for d in range(120)}


def _write_generation(gen, idx, *, term_sorted: bool) -> str:
    cfg = IndexConfig(num_shards=N_SHARDS, block_size=4)
    gen.mkdir()
    (gen / "_meta.json").write_text(cfg.to_json())
    (gen / "stats.json").write_text(json.dumps(
        {"num_docs": idx.n_docs, "avg_dl": idx.avg_dl,
         "postings_format": POSTINGS_FORMAT}))
    schema = pa.schema([f for f in postings_arrow_schema()
                        if f.name != "shard"])
    group = GROUP if term_sorted else None

    def write(path, rows, schema=None):
        if term_sorted:
            rows = sorted(rows, key=lambda r: r["term"])
        else:
            random.Random(len(rows)).shuffle(rows)
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), str(path),
                       row_group_size=group or max(1, len(rows)))

    for s in range(N_SHARDS):
        rows = []
        for term, plist in idx.postings.items():
            docs = sorted(d for d in plist if d % N_SHARDS == s)
            if docs:
                enc = encode_postings(
                    np.array(docs), np.array([plist[d] for d in docs]),
                    np.array([idx.doclen[d] for d in docs]), cfg.block_size)
                rows.append(enc_to_row(term, enc))
        write(gen / "postings" / f"shard={s}" / "part-0.parquet", rows,
              schema)
    write(gen / "dictionary" / "part-0.parquet",
          [{"term": t, "df": len(p)} for t, p in idx.postings.items()])
    return str(gen)


@pytest.fixture(scope="module")
def generations(tmp_path_factory):
    idx = build_py_index(_corpus())
    root = tmp_path_factory.mktemp("gens")
    return (idx,
            LocalSearcher(_write_generation(root / "sorted", idx,
                                            term_sorted=True)),
            LocalSearcher(_write_generation(root / "legacy", idx,
                                            term_sorted=False)))


def test_old_layout_serves_identical_results(generations):
    idx, new, old = generations
    vocab = sorted(idx.postings)
    rng = random.Random(11)
    queries = [rng.sample(vocab, rng.randint(1, 3)) for _ in range(40)]
    queries += [["zzabsent"], [vocab[0], "zzabsent"]]
    for q in queries:
        for mode in ("or", "and"):
            want = bm25_topk(idx, q, 10, mode=mode)
            for wand in (False, True):
                got = new.search(q, 10, wand=wand, mode=mode)
                assert got == old.search(q, 10, wand=wand, mode=mode), q
                assert [d for d, _ in got] == [d for d, _ in want], q
                assert np.allclose([s for _, s in got],
                                   [s for _, s in want], rtol=0, atol=1e-9)
        assert new.search_bool(must=q[:1], should=q[1:], k=7) == \
            old.search_bool(must=q[:1], should=q[1:], k=7)
    batch = dict(enumerate(queries))
    assert new.search_batch(batch, 5, wand=True) == \
        old.search_batch(batch, 5, wand=True)
    for p in ("a", "ko", "zz", ""):
        assert new.search_prefix(p, 5, max_expansions=20) == \
            old.search_prefix(p, 5, max_expansions=20)
    # the sorted layout reads one postings group per shard for one term;
    # the old one reads every shard's only group
    new.search([vocab[5]])
    old.search([vocab[5]])
    assert new.last_read["postings"].groups_read <= N_SHARDS
    assert new.last_read["postings"].groups_present > 3 * N_SHARDS
    assert old.last_read["postings"].groups_read == \
        old.last_read["postings"].groups_present == N_SHARDS
    assert new.last_read["postings"].rows == \
        old.last_read["postings"].rows


def _group_bounds(gen_dir: str) -> list[tuple[str, str]]:
    pf = pq.ParquetFile(f"{gen_dir}/dictionary/part-0.parquet")
    out = []
    for g in range(pf.metadata.num_row_groups):
        col = pf.read_row_group(g, columns=["term"]).column("term")
        out.append((min(col.to_pylist()), max(col.to_pylist())))
    return out


def test_prefix_expansion_reads_only_overlapping_groups(generations):
    idx, new, old = generations
    vocab = sorted(idx.postings)
    bounds = _group_bounds(new.generation_dir)
    assert len(bounds) == new.last_read["dictionary"].groups_present > 10
    for p in ("a", "k", "ko", "ma", "st", "u", "zz", "", "abcdefgh"):
        matches = [t for t in vocab if t.startswith(p)]
        for cap in (50, 3):
            got = new.expand_terms(prefix=p, max_expansions=cap)
            assert got == matches[:cap], (p, cap)
            assert got == old.expand_terms(prefix=p, max_expansions=cap)
        read = new.last_read["dictionary"]
        overlapping = sum(1 for lo, hi in bounds
                          if hi >= p and (lo < p or lo.startswith(p)))
        assert read.groups_read == overlapping, p
        assert read.rows == len(matches), p
    new.expand_terms(prefix="ko")
    assert new.last_read["dictionary"].groups_read <= 2


def test_fuzzy_length_band_equals_unfiltered_levenshtein(generations):
    idx, new, old = generations
    vocab = sorted(idx.postings)
    for q in ("kol", "abc", "stuma", "a", "zzzzzzzzz", vocab[17]):
        for max_edit in (0, 1, 2, 3):
            want = [t for t in vocab if _levenshtein(t, q) <= max_edit]
            assert new.expand_terms(fuzzy=q, max_edit=max_edit,
                                    max_expansions=1000) == want
            assert new.expand_terms(fuzzy=q, max_edit=max_edit,
                                    max_expansions=4) == want[:4]
            both = [t for t in want if t.startswith(q[:1])]
            assert new.expand_terms(prefix=q[:1], fuzzy=q,
                                    max_edit=max_edit,
                                    max_expansions=1000) == both
    assert new.search_fuzzy(vocab[17], 5) == old.search_fuzzy(vocab[17], 5)
