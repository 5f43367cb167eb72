"""Every build writes a term-addressable generation, salted or not:
postings sorted by ``term`` within each shard file and a sorted dictionary,
so the serving tier can read only the row groups that hold the query
terms."""

import glob

import numpy as np
import pyarrow.parquet as pq

from elastic_indexer4s_spark.functions.codec import decode_postings, row_to_enc


def _files(gen: str, dataset: str) -> list[str]:
    out = sorted(glob.glob(f"{gen}/{dataset}/**/*.parquet", recursive=True))
    assert out, (gen, dataset)
    return out


def _assert_term_sorted(gen: str) -> None:
    for f in _files(gen, "postings") + _files(gen, "dictionary"):
        terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms), f


def _decoded(gen: str) -> dict:
    out = {}
    for f in _files(gen, "postings"):
        shard = int(f.split("shard=")[1].split("/")[0])
        for r in pq.read_table(f).to_pylist():
            out[(shard, r["term"])] = decode_postings(
                row_to_enc(r["df"], r["enc"], r["pos_blob"]))
    return out


def test_every_build_path_is_term_sorted(tiny_index, salted_pos_index):
    """The default build and a positions build with salted hot terms are
    both term-sorted and decode to the same postings."""
    gen, _ = tiny_index
    _assert_term_sorted(gen)
    base = _decoded(gen)
    assert len(base) > 1000
    _assert_term_sorted(salted_pos_index)
    got = _decoded(salted_pos_index)
    assert set(got) == set(base)
    for key, arrays in base.items():
        for a, b in zip(arrays, got[key]):
            assert np.array_equal(a, b), key


def test_postings_statistics_on_term_only(tiny_index):
    gen, _ = tiny_index
    for f in _files(gen, "postings"):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                assert col.compression == "ZSTD"
                has = col.statistics is not None and col.statistics.has_min_max
                assert has == (col.path_in_schema == "term"), (f, col)
