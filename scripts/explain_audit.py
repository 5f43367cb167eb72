"""Physical-plan audit: prove the engine's plans have the shape we claim.

Checks (greps `.explain("formatted")` output):
 1. query path — a scored query is one `MapInArrow` task per shard fed
    straight by `Range` (no exchange or broadcast below the kernel, no
    Spark scan of `postings/`: each task runs the serving reader on its
    shard's files);
 2. build path — the frame ``build_index`` analyzes once
    (``tokenized_docs_tf``) has exactly one exchange, the id assignment, and
    sha256, the tokenizer and the ``MapInArrow`` per-doc tf combine all sit
    below it, in the SCAN stage;
 3. doclen write — the doclen projection of that frame has exactly one
    exchange (id-assign window).

Run:  python scripts/explain_audit.py [sf_dir]
Exit code 0 = every assertion held; prints the evidence lines.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

from pyspark.sql import functions as F  # noqa: E402

from elastic_indexer4s_spark.config import IndexConfig, tuned_builder  # noqa: E402
from elastic_indexer4s_spark import driver_contract as dc  # noqa: E402
from elastic_indexer4s_spark.operators.build import tokenized_docs_tf  # noqa: E402

FAIL = 0


def check(name: str, ok: bool, evidence: str) -> None:
    global FAIL
    print(f"{'OK  ' if ok else 'FAIL'} {name}")
    for line in evidence.splitlines():
        print(f"      {line.strip()}")
    if not ok:
        FAIL += 1


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted")


def check_shard_stage(name: str, plan: str) -> None:
    """One ``MapInArrow`` fed straight by ``Range`` and no parquet scan of
    ``postings/``."""
    tree = plan.split("\n\n")[0]
    kernels = re.findall(r"MapInArrow \(\d+\)\n(.*)", tree)
    ok = (len(kernels) == 1
          and re.match(r"[ :]*\+- (\* )?Range \(\d+\)$", kernels[0])
          and "postings" not in plan)
    check(f"{name}: ONE MapInArrow per shard over Range, nothing below the "
          f"kernel, no postings scan (found {len(kernels)} MapInArrow)", ok,
          "" if ok else tree)


def main() -> None:
    spark = tuned_builder("local[4]", "ei4s-explain-audit",
                          shuffle_partitions=8, driver_mem="8g").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # AQE wraps the plan in AdaptiveSparkPlan, which hides codegen ids from
    # the pre-execution formatted explain — audit the static plan instead.
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    gen = dc._generation_for(spark, SF_DIR)  # noqa: SLF001
    cfg = IndexConfig(num_shards=8, block_size=64)

    # --- 1. query path: one shard stage, no Spark read of postings -------
    from elastic_indexer4s_spark.operators.query import topk

    check_shard_stage("scored query", plan_of(topk(spark, gen,
                                                  ["spark", "join"], 10)))

    # --- 2. build path: compute and tf combine before the one shuffle -----
    # raw reader (no _spread): the audit is about the engine's plan over a
    # production table; the contract readers' parallelism-restoring
    # repartition for single-row-group test files would add an exchange
    # that a real multi-split table doesn't have.
    corpus = dc.corpus_shaped(
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")))
    toks = tokenized_docs_tf(corpus, cfg)
    plan = plan_of(toks)
    # formatted plans number nodes leaf-first, so "below the exchange"
    # means a smaller node id
    nodes = [(int(m.group(1)), m.group(2), m.group(3)) for m in re.finditer(
        r"^\((\d+)\) (\w+)[^\n]*\n(.*?)(?=\n\n|\Z)", plan, re.S | re.M)]
    ex = [i for i, name, _ in nodes if name == "Exchange"]
    analyze = [i for i, name, d in nodes if name == "Project"
               and "AS sha256#" in d and "AS tokens#" in d]
    combine = [i for i, name, _ in nodes if name == "MapInArrow"]
    ok = (len(ex) == 1 and len(analyze) == 1 and len(combine) == 1
          and max(analyze[0], combine[0]) < ex[0])
    check("sha256+tokenize and the MapInArrow tf combine run in the scan "
          "stage, below the one (id-assign) exchange", ok,
          f"exchanges {ex}, sha256+tokens Project {analyze}, "
          f"MapInArrow {combine}")

    # --- 3. doclen lineage: exactly the planned exchange -------------------
    plan = plan_of(toks.select("shard", "doc_id", "dl", "sha256"))
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    ok = n_ex == 1  # only the id-assign exchange
    check(f"doclen projection has exactly 1 exchange (id assignment), "
          f"found {n_ex}", ok, "")

    # --- 4. dedup/similarity plan shapes (round 2) -------------------------
    from elastic_indexer4s_spark.operators import dedup, similarity

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = plan_of(dedup.doc_shingles(docs))
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    check(f"shingling is row-local: 0 exchanges (found {n_ex})",
          n_ex == 0, "")

    plan = plan_of(dedup.minhash_signature_array(docs))
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    aggs = len(re.findall(r"\(\d+\) HashAggregate", plan))
    check(f"minhash signatures: ONE doc-keyed exchange with map-side "
          f"partials (found {n_ex} exchanges, {aggs} HashAggregates)",
          n_ex == 1 and aggs >= 2, "")

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    plan = plan_of(similarity.ivf_assign(emb))
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    check(f"IVF cell assignment is a pure projection: 0 exchanges "
          f"(found {n_ex})", n_ex == 0, "")

    # --- 5. round-3 shapes: pruned ANN exchanges, batch query scan ---------
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    plan = plan_of(similarity.brute_force_topk(emb, q, k=5))
    m_map = re.search(r"\((\d+)\) MapInPandas", plan)
    m_win = re.search(r"\((\d+)\) Window\b", plan)
    # formatted plans number nodes leaf-first: the prune's MapInPandas must
    # be DEEPER (smaller id) than the final window
    ok = bool(m_map and m_win and int(m_map.group(1)) < int(m_win.group(1)))
    check("brute-force top-k: window exchange consumes the PRUNED "
          "mapInPandas output, not raw scored rows", ok,
          f"MapInPandas node ({m_map and m_map.group(1)}) deeper than "
          f"Window node ({m_win and m_win.group(1)})")
    ok = ("Join" not in plan
          and len(re.findall(r"Scan parquet\s+\(\d+\)", plan)) == 1)
    check("brute-force top-k: ONE scan, queries ship in the scoring "
          "closure — no join, no per-query row duplication", ok, "")

    plan = plan_of(similarity.ivf_topk(emb, q, k=5))
    n_scan = len(re.findall(r"Scan parquet\s+\(\d+\)", plan))  # tree nodes
    n_map = len(re.findall(r"\(\d+\) MapInPandas", plan))
    check(f"fused IVF top-k: ONE corpus scan + ONE python stage "
          f"(found {n_scan} scans, {n_map} MapInPandas)",
          n_scan == 1 and n_map == 1, "")

    from elastic_indexer4s_spark.operators.query import topk_batch
    check_shard_stage("batch query set", plan_of(topk_batch(
        spark, gen, {0: ["spark", "join"], 1: ["merge"]}, k=5)))

    # --- 6. round-5 shape: index-native phrase never reads the source -----
    from elastic_indexer4s_spark.operators.query import phrase_topk
    plan = plan_of(phrase_topk(spark, gen, ["customer", "join"], k=5))
    check_shard_stage("index-native phrase", plan)
    check("index-native phrase: source/doclen never read",
          "content" not in plan and "Scan parquet" not in plan, "")

    # --- 7. facets run on the one scatter executor ------------------------
    from elastic_indexer4s_spark.operators.query import facet_counts
    plan = plan_of(facet_counts(spark, gen, ["spark", "join"], "lang"))
    check_shard_stage("facet match set", plan)
    n_map = len(re.findall(r"\(\d+\) MapInPandas", plan))
    check(f"facet match set: no per-row MapInPandas (found {n_map})",
          n_map == 0, "")

    spark.stop()
    sys.exit(1 if FAIL else 0)


if __name__ == "__main__":
    main()
