"""Every build path writes term-addressable generations: postings sorted by
``term`` within each shard file and a sorted dictionary, so the serving
tier can read only the row groups that hold the query terms."""

import glob

import numpy as np
import pyarrow.parquet as pq
import pytest

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


@pytest.fixture(scope="module")
def other_builds(spark, tiny_corpus, tmp_path_factory):
    """The conftest corpus and config through the salted path and the
    two-pass (``EI4S_SINGLE_PASS=0``) path."""
    from elastic_indexer4s_spark.config import IndexConfig
    from elastic_indexer4s_spark.operators.build import build_index
    from elastic_indexer4s_spark.results import RunResult

    rows = [(d.repo, d.path, d.commit, d.lang, d.content)
            for d in tiny_corpus]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string").repartition(4)
    cfg = IndexConfig(num_shards=4, hot_term_df=50, salt_span=64,
                      block_size=16)
    root = tmp_path_factory.mktemp("layouts")
    salted = str(root / "salted")
    # no partition coalescing: the grouped encode then runs as several
    # tasks, so each shard's rows reach the writer as interleaved runs
    aqe = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        assert isinstance(build_index(spark, df, cfg, salted, salted=True),
                          RunResult)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", aqe)
    two_pass = str(root / "two_pass")
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("EI4S_SINGLE_PASS", "0")
        assert isinstance(build_index(spark, df, cfg, two_pass), RunResult)
    return {"salted": salted, "two_pass": two_pass}


def test_every_build_path_is_term_sorted(tiny_index, other_builds):
    gen, _ = tiny_index
    _assert_term_sorted(gen)
    base = _decoded(gen)
    assert len(base) > 1000
    for name, other in other_builds.items():
        _assert_term_sorted(other)
        got = _decoded(other)
        assert set(got) == set(base), name
        for key, arrays in base.items():
            for a, b in zip(arrays, got[key]):
                assert np.array_equal(a, b), (name, key)


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
