"""One query executor per tier.

Every scored Spark query type is the same plan: one postings scan with the
query terms pushed down, the dictionary joined through a broadcast, one
shuffle by shard into one pandas shard stage, then the query type's merge.
Both tiers reject a generation that lacks its term dictionary."""

import re
import shutil

import pytest

from elastic_indexer4s_spark.operators import query as Q
from elastic_indexer4s_spark.serving import LocalSearcher

#: query type → DataFrame, from (spark, plain generation, positions one)
SCORED = {
    "topk": lambda spark, gen, pos: Q.topk(
        spark, gen, ["tokenIndex", "merge"], 5, wand=True),
    "topk_batch": lambda spark, gen, pos: Q.topk_batch(
        spark, gen, {0: ["tokenIndex", "merge"], 1: ["shard"]}, 5),
    "bool_topk": lambda spark, gen, pos: Q.bool_topk(
        spark, gen, must=["merge"], should=["shard"], must_not=["the"], k=5),
    "phrase_topk": lambda spark, gen, pos: Q.phrase_topk(
        spark, pos, None, ["token", "index"], 5),
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
    # the scans: postings (blob columns) and dictionary, both with the
    # query terms pushed into parquet
    scans = re.findall(r"\(\d+\) Scan parquet.*?\n\n", plan, re.S)
    assert len(scans) == 2, plan
    postings = [s for s in scans if "doc_blob" in s]
    assert len(postings) == 1, scans
    assert re.search(r"PushedFilters: \[In\(term", postings[0]), postings[0]
    assert "BroadcastExchange" in tree, tree
    pandas = re.findall(r"FlatMapGroupsInPandas \(\d+\)", tree)
    if name == "highlight_topk":
        # the distinct-doc top-k self-join plans the shard stage twice;
        # the second one reads the first one's shuffle
        assert len(pandas) == 2 and "ReusedExchange" in tree, tree
    else:
        assert len(pandas) == 1, tree


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
