"""Checkpoint/resume (SURVEY §2 B9): a build interrupted after committing
some shards is resumed by rebuilding ONLY missing/stale shards, and the
resumed index is byte-identical to an uninterrupted build."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from elastic_indexer4s_spark.config import IndexConfig
from elastic_indexer4s_spark.operators.build import build_index, completed_shards
from elastic_indexer4s_spark.operators.query import topk, topk_batch
from elastic_indexer4s_spark.results import RunResult

SCHEMA = "repo string, path string, commit string, lang string, content string"
CFG = IndexConfig(num_shards=4, block_size=16)


@pytest.fixture(scope="module")
def src(spark, tiny_corpus):
    rows = [(d.repo, d.path, d.commit, d.lang, d.content) for d in tiny_corpus]
    return spark.createDataFrame(rows, SCHEMA).repartition(4)


def _postings_blobs(spark, gen):
    rows = spark.read.parquet(os.path.join(gen, "postings")).collect()
    return {(r["shard"], r["term"]): bytes(r["enc"]) for r in rows}


def _simulate_crash(spark, gen, lost_shard: int):
    """Drop one shard's committed partitions + its lineage row — the on-disk
    state of a run that died before finishing that shard."""
    for ds in ("postings", "doclen"):
        shutil.rmtree(os.path.join(gen, ds, f"shard={lost_shard}"))
    lineage = spark.read.parquet(os.path.join(gen, "lineage")).collect()
    kept = [tuple(r) for r in lineage if r["shard"] != lost_shard]
    cols = lineage[0].asDict().keys()
    shutil.rmtree(os.path.join(gen, "lineage"))
    (spark.createDataFrame(kept, ", ".join(f"{c} long" for c in cols))
     .write.parquet(os.path.join(gen, "lineage")))


def test_resume_rebuilds_only_lost_shard(spark, src, tmp_path):
    gen_full = str(tmp_path / "full")
    gen_crash = str(tmp_path / "crash")
    assert isinstance(build_index(spark, src, CFG, gen_full), RunResult)
    assert isinstance(build_index(spark, src, CFG, gen_crash), RunResult)

    _simulate_crash(spark, gen_crash, lost_shard=1)
    assert set(completed_shards(spark, gen_crash)) == {0, 2, 3}

    res = build_index(spark, src, CFG, gen_crash, resume=True)
    assert isinstance(res, RunResult), str(res)
    assert any("Resuming 1 stale/missing shards" in s.msg
               for s in res.succeeded_stages)

    # resumed index is byte-identical to the uninterrupted build
    assert _postings_blobs(spark, gen_crash) == _postings_blobs(spark, gen_full)
    import json
    with open(os.path.join(gen_crash, "stats.json")) as f:
        s1 = json.load(f)
    with open(os.path.join(gen_full, "stats.json")) as f:
        s2 = json.load(f)
    assert s1 == s2
    assert set(completed_shards(spark, gen_crash)) == {0, 1, 2, 3}


def test_spark_queries_follow_a_resumed_build(spark, src, tmp_path):
    """Spark queries on a crashed generation, then on the same path once
    the resume rewrote the lost shard in place, all in one session: the
    driver's shard list and the tasks' shard readers are renewed with
    ``stats.json``, so the resumed results equal the full build's."""
    gen_full = str(tmp_path / "full")
    gen_crash = str(tmp_path / "crash")
    assert isinstance(build_index(spark, src, CFG, gen_full), RunResult)
    assert isinstance(build_index(spark, src, CFG, gen_crash), RunResult)
    _simulate_crash(spark, gen_crash, lost_shard=1)

    def results(gen):
        point = topk(spark, gen, ["merge"], 10)
        batch = topk_batch(spark, gen, {0: ["merge"], 1: ["tokenIndex"]}, 10)
        return ([tuple(r) for r in point.collect()],
                sorted(tuple(r) for r in batch.collect()))

    full = results(gen_full)
    assert any(doc_id >> 33 == 1 for doc_id, _ in full[0]), full
    crashed = results(gen_crash)
    assert all(doc_id >> 33 != 1 for doc_id, _ in crashed[0]), crashed
    res = build_index(spark, src, CFG, gen_crash, resume=True)
    assert isinstance(res, RunResult), str(res)
    assert results(gen_crash) == full

    # a resume over changed input rewrites one shard's postings with new
    # terms; the tasks' shard readers, warm from the queries above, must
    # reopen them
    for _ in range(3):
        results(gen_crash)
    one_path = src.select("path").limit(1).collect()[0]["path"]
    mutated = src.withColumn("content", F.when(
        F.col("path") == one_path, F.lit("zqresumed marker")).otherwise(
        F.col("content")))
    res = build_index(spark, mutated, CFG, gen_crash, resume=True)
    assert isinstance(res, RunResult), str(res)
    assert len(topk(spark, gen_crash, ["zqresumed"], 10).collect()) == 1


def test_resume_noop_when_up_to_date(spark, src, tmp_path):
    gen = str(tmp_path / "gen")
    assert isinstance(build_index(spark, src, CFG, gen), RunResult)
    res = build_index(spark, src, CFG, gen, resume=True)
    assert isinstance(res, RunResult)
    assert "nothing to build" in str(res)


def test_resume_detects_changed_input(spark, src, tmp_path):
    gen = str(tmp_path / "gen2")
    assert isinstance(build_index(spark, src, CFG, gen), RunResult)
    first = dict(completed_shards(spark, gen))

    one_path = src.select("path").limit(1).collect()[0]["path"]
    mutated = src.withColumn(
        "content",
        F.when(F.col("path") == one_path, F.lit("entirely new content"))
        .otherwise(F.col("content")))
    res = build_index(spark, mutated, CFG, gen, resume=True)
    assert isinstance(res, RunResult)
    assert any("Resuming 1 stale/missing shards" in s.msg
               for s in res.succeeded_stages)
    second = dict(completed_shards(spark, gen))
    changed = [s for s in first if first[s] != second.get(s)]
    assert len(changed) == 1
    # the mutated doc's new sha landed in doclen
    doclen = spark.read.parquet(os.path.join(gen, "doclen"))
    got = doclen.filter(F.col("path") == one_path).collect()[0]["sha256"]
    import hashlib
    assert got == hashlib.sha256(b"entirely new content").hexdigest()
