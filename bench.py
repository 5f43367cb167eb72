"""Headline benchmark: index-build throughput + BM25 query latency + the
operator suite, at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Extra keys (build_files_per_sec, query_p50_ms, query_p99_ms, cpus,
build_docs) quantify the BASELINE.json targets directly.

The build corpus is the sf documents table replicated REPLICATE x with
shifted doc ids — deterministic, no external data — sized so task work
dominates fixed JVM/session cost and parallelism is actually exercised
(that's what the local[8]-vs-local[32] scaling run measures).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPLICATE = int(os.environ.get("BENCH_REPLICATE", "40"))
QUERY_RUNS = int(os.environ.get("BENCH_QUERY_RUNS", "30"))

BENCH_QUERIES = [
    "bm25_topk", "bm25_queryset", "doc_freq", "postings_lists",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_simhash", "ann_brute_force", "ann_ivf_topk", "lang_id", "quality",
    "fingerprint", "events_minutely", "tpch_q1", "top_customers",
]


def sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    from elastic_indexer4s_spark import driver_contract as dc
    from elastic_indexer4s_spark.config import IndexConfig
    from elastic_indexer4s_spark.operators.build import build_index
    from elastic_indexer4s_spark.operators.query import topk
    from elastic_indexer4s_spark.results import RunResult

    from elastic_indexer4s_spark.config import tuned_builder
    spark = tuned_builder(f"local[{CPUS}]", "ei4s-bench",
                          shuffle_partitions=CPUS).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    t_total = time.monotonic()
    timings: dict[str, float] = {}

    # --- index-build throughput -----------------------------------------
    # The corpus (documents table replicated REPLICATE x, shifted ids) is
    # pre-materialized to parquet UNTIMED: production inputs are tables on
    # storage, so the timed region starts at the scan — timing the
    # crossJoin synthesis would measure the harness, not the engine.
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    n_base = docs.count()
    reps = spark.range(REPLICATE).select(F.col("id").alias("rep"))
    big = (docs.crossJoin(reps)
           .select((F.col("doc_id") + F.col("rep") * F.lit(n_base))
                   .alias("doc_id"),
                   "text", "lang", "source", "n_chars")
           .repartition(CPUS * 2))
    corpus_path = os.path.join(tempfile.gettempdir(), "ei4s_bench_corpus")
    dc.corpus_shaped(big).write.mode("overwrite").parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    n_docs = n_base * REPLICATE
    gen = os.path.join(tempfile.gettempdir(), "ei4s_bench_gen")
    shutil.rmtree(gen, ignore_errors=True)
    cfg = IndexConfig(num_shards=CPUS, block_size=128)
    t0 = time.monotonic()
    res = build_index(spark, corpus, cfg, gen)
    build_sec = time.monotonic() - t0
    assert isinstance(res, RunResult), str(res)
    timings["index_build"] = round(build_sec, 3)
    files_per_sec = n_docs / build_sec

    # --- query latency over the built index ------------------------------
    terms_cycle = [["spark", "join"], ["window", "batch"], ["merge"],
                   ["customer", "table", "scan"]]
    # untimed warmup, one per distinct query shape: fills the driver's
    # generation cache and the Python workers' shard readers and spins the
    # workers up — the steady state a serving frontend runs in.
    for terms in terms_cycle:
        topk(spark, gen, terms, k=10, wand=True).collect()
    lat = []
    for i in range(QUERY_RUNS):
        terms = terms_cycle[i % len(terms_cycle)]
        tq = time.monotonic()
        topk(spark, gen, terms, k=10, wand=True).collect()
        lat.append(time.monotonic() - tq)
    lat.sort()
    p50 = lat[len(lat) // 2]
    p99 = lat[min(len(lat) - 1, int(len(lat) * 0.99))]
    timings["bm25_query_p50"] = round(p50, 3)
    timings["bm25_query_p99"] = round(p99, 3)

    # --- worst-case WAND: stopword-grade conjunctive query ----------------
    # three terms each in ~80% of docs (near-zero block-max skip
    # opportunity, maximal frontier churn) under AND mode at k=50 —
    # the p99-defining query shape, hash-verified as engine_bm25_wand_and
    worst = ["batch", "scan", "data"]
    topk(spark, gen, worst, k=50, wand="force", mode="and").collect()
    lat_w = []
    for _ in range(5):
        tq = time.monotonic()
        topk(spark, gen, worst, k=50, wand="force", mode="and").collect()
        lat_w.append(time.monotonic() - tq)
    timings["bm25_wand_worst"] = round(sorted(lat_w)[len(lat_w) // 2], 3)

    # --- batch query set: every query shape in ONE Spark action -----------
    from elastic_indexer4s_spark.operators.query import topk_batch
    qmap = {i: t for i, t in enumerate(terms_cycle)}
    topk_batch(spark, gen, qmap, k=10, wand=True).count()       # warm
    lat_b = []
    for _ in range(5):
        tq = time.monotonic()
        topk_batch(spark, gen, qmap, k=10, wand=True).count()
        lat_b.append(time.monotonic() - tq)
    timings["bm25_batch_queryset"] = round(sorted(lat_b)[len(lat_b) // 2], 3)

    # --- serving-tier latency (LocalSearcher: pyarrow, no Spark job) ------
    from elastic_indexer4s_spark.serving import LocalSearcher
    searcher = LocalSearcher(gen)
    for terms in terms_cycle:
        searcher.search(terms, 10)
    lat_local = []
    for i in range(QUERY_RUNS):
        terms = terms_cycle[i % len(terms_cycle)]
        tq = time.monotonic()
        searcher.search(terms, 10)
        lat_local.append(time.monotonic() - tq)
    # serving batch: the whole query set in one artifact read.  Scorer =
    # the serving default (vectorized exhaustive): on stopword-grade terms
    # the NumPy bincount scorer beats Python-frontier WAND ~10x at this
    # corpus density, which is exactly why it IS the serving default —
    # timing the non-default scorer here once cost the suite 50 s.
    searcher.search_batch(qmap, k=10)
    lat_sb = []
    for _ in range(5):
        tq = time.monotonic()
        searcher.search_batch(qmap, k=10)
        lat_sb.append(time.monotonic() - tq)
    timings["serving_batch_queryset"] = round(
        sorted(lat_sb)[len(lat_sb) // 2], 4)

    lat_local.sort()
    lp50 = lat_local[len(lat_local) // 2]
    lp99 = lat_local[min(len(lat_local) - 1, int(len(lat_local) * 0.99))]
    timings["bm25_local_p50"] = round(lp50, 4)
    timings["bm25_local_p99"] = round(lp99, 4)

    # --- positional postings: build cost + index-native phrase (round 5) --
    # Same corpus, store_positions=True: quantifies the positions tax on
    # build throughput, then times index-native phrase queries on both
    # tiers (Spark and serving).
    from elastic_indexer4s_spark.operators.query import phrase_topk
    gen_pos = os.path.join(tempfile.gettempdir(), "ei4s_bench_gen_pos")
    shutil.rmtree(gen_pos, ignore_errors=True)
    cfg_pos = IndexConfig(num_shards=CPUS, block_size=128,
                          store_positions=True)
    t0 = time.monotonic()
    res = build_index(spark, corpus, cfg_pos, gen_pos)
    timings["index_build_pos"] = round(time.monotonic() - t0, 3)
    assert isinstance(res, RunResult), str(res)
    phrase_q = ["customer", "join"]
    phrase_topk(spark, gen_pos, phrase_q, k=10).count()     # warm
    lat_p = []
    for _ in range(5):
        tq = time.monotonic()
        phrase_topk(spark, gen_pos, phrase_q, k=10).count()
        lat_p.append(time.monotonic() - tq)
    timings["phrase_spark"] = round(sorted(lat_p)[len(lat_p) // 2], 3)
    psearch = LocalSearcher(gen_pos)
    psearch.search_phrase(phrase_q, 10)                           # warm
    lat_ps = []
    for _ in range(5):
        tq = time.monotonic()
        psearch.search_phrase(phrase_q, 10)
        lat_ps.append(time.monotonic() - tq)
    timings["phrase_serving"] = round(sorted(lat_ps)[len(lat_ps) // 2], 4)
    shutil.rmtree(gen_pos, ignore_errors=True)

    # --- boosted multi-field search (round 5) -----------------------------
    # per-field generations build UNTIMED (first call); the timed number is
    # the warm combined query — two pushdown-filtered postings scans + the
    # integer-unit combine
    dc.QUERIES["multi_match"](spark, SF_DIR).count()              # build+warm
    lat_mm = []
    for _ in range(3):
        tq = time.monotonic()
        dc.QUERIES["multi_match"](spark, SF_DIR).count()
        lat_mm.append(time.monotonic() - tq)
    timings["multi_match"] = round(sorted(lat_mm)[len(lat_mm) // 2], 3)

    # --- operator suite ---------------------------------------------------
    for name in BENCH_QUERIES:
        fn = dc.QUERIES[name]
        tq = time.monotonic()
        df = fn(spark, SF_DIR)
        n = df.count()
        timings[name] = round(time.monotonic() - tq, 3)
        _ = n

    total = time.monotonic() - t_total
    print(json.dumps({
        "metric": "index_build_plus_query_suite_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_of(SF_DIR),
        "cpus": CPUS,
        "build_docs": n_docs,
        "build_files_per_sec": round(files_per_sec, 1),
        "query_p50_ms": round(p50 * 1000, 1),
        "query_p99_ms": round(p99 * 1000, 1),
        "serving_p50_ms": round(lp50 * 1000, 2),
        "serving_p99_ms": round(lp99 * 1000, 2),
    }))
    shutil.rmtree(gen, ignore_errors=True)
    shutil.rmtree(corpus_path, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
