import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from elastic_indexer4s_spark.config import tuned_builder
    s = tuned_builder("local[4]", "elastic_indexer4s_spark_tests",
                      shuffle_partitions=8, driver_mem="8g").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus():
    from elastic_indexer4s_spark.corpus import make_corpus
    return make_corpus(200, seed=42)


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_corpus, tmp_path_factory):
    """Build the tiny corpus index once per session; return its path."""
    from elastic_indexer4s_spark.config import IndexConfig
    from elastic_indexer4s_spark.operators.build import build_index
    from elastic_indexer4s_spark.results import RunResult

    gen = str(tmp_path_factory.mktemp("index") / "docs_tiny")
    rows = [(d.repo, d.path, d.commit, d.lang, d.content) for d in tiny_corpus]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ).repartition(4)
    cfg = IndexConfig(num_shards=4, hot_term_df=50, salt_span=64, block_size=16)
    res = build_index(spark, df, cfg, gen)
    assert isinstance(res, RunResult), str(res)
    return gen, cfg


@pytest.fixture(scope="session")
def pos_index(spark, tiny_corpus, tmp_path_factory):
    """The tiny corpus built with positions (phrase, highlight); return
    (path, cfg, source DataFrame)."""
    from elastic_indexer4s_spark.config import IndexConfig
    from elastic_indexer4s_spark.operators.build import build_index
    from elastic_indexer4s_spark.results import RunResult

    gen = str(tmp_path_factory.mktemp("posidx") / "docs_pos")
    rows = [(d.repo, d.path, d.commit, d.lang, d.content) for d in tiny_corpus]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string").repartition(4)
    cfg = IndexConfig(num_shards=4, block_size=16, store_positions=True)
    res = build_index(spark, df, cfg, gen)
    assert isinstance(res, RunResult), str(res)
    return gen, cfg, df
