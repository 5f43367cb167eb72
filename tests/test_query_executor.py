"""One query executor per tier.

Every scored Spark query type is the same plan: one postings scan with the
query terms pushed down, the dictionary joined through a broadcast, one
shuffle by shard into one pandas shard stage, then the query type's merge.
Both tiers read only the postings columns a query needs, and reject a
generation that lacks its term dictionary or holds an older postings
layout."""

import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from elastic_indexer4s_spark.functions.codec import row_to_enc
from elastic_indexer4s_spark.operators import query as Q
from elastic_indexer4s_spark.serving import LocalSearcher

#: the query types whose kernels read token positions
POSITIONAL = {"phrase_topk", "highlight_topk"}

#: query type → DataFrame, from (spark, plain generation, positions one)
SCORED = {
    "topk": lambda spark, gen, pos: Q.topk(
        spark, gen, ["tokenIndex", "merge"], 5, wand=True),
    "topk_batch": lambda spark, gen, pos: Q.topk_batch(
        spark, gen, {0: ["tokenIndex", "merge"], 1: ["shard"]}, 5),
    "bool_topk": lambda spark, gen, pos: Q.bool_topk(
        spark, gen, must=["merge"], should=["shard"], must_not=["the"], k=5),
    "phrase_topk": lambda spark, gen, pos: Q.phrase_topk(
        spark, pos, ["token", "index"], 5),
    "highlight_topk": lambda spark, gen, pos: Q.highlight_topk(
        spark, pos, ["tokenIndex", "merge"], 5),
}


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted")


@pytest.fixture
def static_plans(spark):
    """Plan without AQE: an adaptive plan hides exchange reuse until it
    runs."""
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", saved)


@pytest.mark.parametrize("name", sorted(SCORED))
def test_scored_query_is_one_scatter_plan(spark, tiny_index, pos_index,
                                          static_plans, name):
    plan = _formatted(SCORED[name](spark, tiny_index[0], pos_index[0]))
    tree = plan.split("\n\n")[0]
    # the scans: postings (the packed enc column) and dictionary, both with
    # the query terms pushed into parquet
    scans = re.findall(r"\(\d+\) Scan parquet.*?\n\n", plan, re.S)
    assert len(scans) == 2, plan
    postings = [s for s in scans if "enc:binary" in s]
    assert len(postings) == 1, scans
    assert re.search(r"PushedFilters: \[In\(term", postings[0]), postings[0]
    # positions are read only by the kernels that use them
    assert ("pos_blob" in postings[0]) == (name in POSITIONAL), postings[0]
    assert "BroadcastExchange" in tree, tree
    pandas = re.findall(r"FlatMapGroupsInPandas \(\d+\)", tree)
    assert len(pandas) == 1, tree


def test_facet_match_set_is_one_scatter_stage(spark, tiny_index,
                                              static_plans):
    """Facets build their match set on the same executor: one shard-grouped
    pandas stage, no per-postings-row ``MapInPandas``."""
    tree = _formatted(Q.facet_counts(spark, tiny_index[0],
                                     ["tokenIndex", "merge"], "lang",
                                     mode="and")).split("\n\n")[0]
    assert len(re.findall(r"FlatMapGroupsInPandas \(\d+\)", tree)) == 1, tree
    assert "MapInPandas" not in tree.replace("FlatMapGroupsInPandas", ""), tree


@pytest.fixture(scope="module")
def no_dictionary(tiny_index, tmp_path_factory):
    """A copy of the tiny generation without its ``dictionary/``."""
    gen, _cfg = tiny_index
    dst = tmp_path_factory.mktemp("nodict") / "docs_tiny"
    shutil.copytree(gen, dst)
    shutil.rmtree(dst / "dictionary")
    return str(dst)


def test_generation_without_dictionary_is_rejected(spark, no_dictionary):
    path = re.escape(no_dictionary + "/dictionary")
    with pytest.raises(ValueError, match=path):
        Q.topk(spark, no_dictionary, ["tokenIndex"], 5)
    with pytest.raises(ValueError, match=path):
        Q.topk_batch(spark, no_dictionary, {0: ["tokenIndex"]}, 5)
    with pytest.raises(ValueError, match=path):
        LocalSearcher(no_dictionary)


def _read_columns(searcher, monkeypatch) -> list:
    """Record the columns of every postings read ``searcher`` makes."""
    files = searcher._files["postings"]  # noqa: SLF001
    reads, read = [], files.read

    def spy(file, groups, keep=None, columns=None):
        reads.append(list(columns))
        return read(file, groups, keep, columns)

    monkeypatch.setattr(files, "read", spy)
    return reads


def test_serving_reads_only_the_columns_a_query_needs(tiny_index, pos_index,
                                                      monkeypatch):
    scored = LocalSearcher(tiny_index[0])
    reads = _read_columns(scored, monkeypatch)
    assert scored.search(["tokenIndex", "merge"], 5, wand=True)
    assert scored.search_bool(must=["merge"], should=["shard"], k=5)
    assert reads and all(c == ["term", "df", "enc"] for c in reads), reads

    positional = LocalSearcher(pos_index[0])
    reads = _read_columns(positional, monkeypatch)
    assert positional.search_phrase(["token", "index"], 5)
    assert positional.search_highlight(["tokenIndex", "merge"], 5)
    assert reads and all(c == ["term", "df", "enc", "pos_blob"]
                         for c in reads), reads


def _column_layout(row: dict) -> dict:
    """A postings row in the column-per-stream layout that preceded
    ``enc``: three stream columns and seven block sidecar lists."""
    enc = row_to_enc(row["df"], row["enc"], row["pos_blob"])
    out = {"term": row["term"], "df": row["df"]}
    for name in ("doc_blob", "tf_blob", "dl_blob"):
        out[name] = getattr(enc, name)
    for name in ("block_last", "block_maxtf", "block_min_dl", "block_count",
                 "block_doc_off", "block_tf_off", "block_dl_off"):
        out[name] = getattr(enc, name).tolist()
    out["pos_blob"] = enc.pos_blob
    return out


@pytest.fixture
def column_layout(tiny_index, tmp_path):
    """A copy of the tiny generation rewritten in the older postings layout,
    with the ``stats.json`` such a build wrote (no ``postings_format``)."""
    gen, _cfg = tiny_index
    dst = tmp_path / "docs_tiny"
    shutil.copytree(gen, dst)
    for f in (dst / "postings").glob("shard=*/*.parquet"):
        rows = [_column_layout(r) for r in pq.read_table(f).to_pylist()]
        pq.write_table(pa.Table.from_pylist(rows), f)
    stats = json.loads((dst / "stats.json").read_text())
    del stats["postings_format"]
    (dst / "stats.json").write_text(json.dumps(stats))
    return str(dst)


def test_older_postings_layout_is_rejected(spark, tiny_index, tiny_corpus,
                                           column_layout):
    from elastic_indexer4s_spark.operators.build import build_index

    msg = r"doc_blob.*rebuild the generation"
    with pytest.raises(ValueError, match=msg):
        LocalSearcher(column_layout)
    with pytest.raises(ValueError, match=msg):
        Q.topk(spark, column_layout, ["tokenIndex"], 5)
    src = spark.createDataFrame(
        [(d.repo, d.path, d.commit, d.lang, d.content) for d in tiny_corpus],
        "repo string, path string, commit string, lang string, "
        "content string")
    cfg = tiny_index[1]
    with pytest.raises(ValueError, match=msg):
        build_index(spark, src, cfg, column_layout, resume=True)
    # a build that stopped before writing stats.json: judged by its columns
    os.remove(os.path.join(column_layout, "stats.json"))
    with pytest.raises(ValueError, match=msg):
        build_index(spark, src, cfg, column_layout, resume=True)
