#!/usr/bin/env python3
"""Benchmark of the engine's three tiers on one seeded code corpus.

Run from the repository root:

    python3 perfbench/run.py --workload rare --seed 1 --seconds 10 --trace 0

One run, in one process at ``local[<cores>]``:

1. set-up: start the Spark session, build a warm-up slice of the corpus
   and publish it under the alias ``live`` (this pays JVM, codegen and
   Python-worker start-up, so the timed build is warm);
2. timed: the nightly reindex, ``IndexPipeline(...).switch_alias_from
   ("live").delete_old_indices(keep=1).run()`` over the whole corpus;
3. set-up: ``operators.query.topk_batch`` over the workload's term queries
   on the published generation, a fixed number of times; then
   ``serving.LocalSearcher`` opened on it and warmed, three times;
4. timed, in rounds: one ``topk_batch`` call, then one slice of a fixed
   number of the workload's queries served by the searcher in a closed
   loop with one client (the batch rate comes from the median batch);
5. the Spark session and its JVM are stopped.

Correctness is checked on the way (build result, doc count, alias,
retention, Spark/serving agreement, planted markers by path, result shape);
every failed check counts in ``failed`` and the run goes on.  The last line
of stdout is the JSON result; ``--trace 1`` prints the per-layer metrics
instead of the end-to-end ones (see README.md in this directory).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

N_DOCS = 50_000
K = 10
#: serving queries per ``--seconds``: the query count of a run is fixed by
#: ``--seconds`` alone, never by how fast the queries complete
SERVE_RATE = {"rare": 6, "dense": 6}
#: term queries per ``topk_batch`` call
BATCH_SIZE = {"rare": 48, "dense": 16}
#: warm-up batches, a fixed count so every run starts timing equally warm
BATCH_WARM = 3
#: timed rounds of one Spark batch and one serving slice
ROUNDS = 5
SEARCHER_SETUPS = 3
WARM_QUERIES = 4
MARKER_CHECKS = 8
TS = ("2026-01-01't'00.00.00", "2026-01-02't'00.00.00")
BUILD_STAGES = ("create", "tokenize", "doclen", "postings", "dictionary",
                "lineage", "stats", "verify")


class Tally:
    """Attempted/failed operations; a failure is logged, never raised."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] FAILED: {what}", file=sys.stderr)


def isolate_env() -> None:
    """Keep every file the run writes inside this directory, and let the
    Python workers import the engine from the repository root."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # no hsperfdata file: the JVM would write it under /tmp whatever the
    # temp dir says
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_spark(evdir: str | None):
    from elastic_indexer4s_spark.config import tuned_builder

    cores = len(os.sched_getaffinity(0))
    b = (tuned_builder(f"local[{cores}]", "perfbench", shuffle_partitions=8,
                       driver_mem="3g")
         .config("spark.memory.offHeap.size", "2g")
         .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse")))
    if evdir:
        os.makedirs(evdir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + evdir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def stage_seconds(result) -> list[float]:
    """The ``[x.xxs]`` suffix of every stage of a ``RunResult``."""
    out = []
    for st in result.succeeded_stages:
        m = re.search(r"\[(\d+(?:\.\d+)?)s\]$", str(st))
        out.append(float(m.group(1)) if m else 0.0)
    return out


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def issue(searcher, q: dict):
    kind = q["kind"]
    if "expect_paths" in q:
        return searcher.search_hydrated(q["terms"], K, wand=True)
    if kind in ("or", "and"):
        return searcher.search(q["terms"], K, wand=True, mode=kind)
    if kind == "prefix":
        return searcher.search_prefix(q["prefix"], K, wand=True)
    if kind == "phrase":
        return searcher.search_phrase(q["terms"], K, slop=q["slop"])
    return searcher.search_bool(must=q["must"], should=q["should"],
                                must_not=q["must_not"], k=K)


def result_ok(q: dict, out) -> bool:
    if "expect_paths" in q:
        return sorted(r["path"] for r in out) == q["expect_paths"]
    scores = [s for _, s in out]
    return len(out) <= K and all(a >= b for a, b in zip(scores, scores[1:]))


def same_hits(a: list, b: list) -> bool:
    return (len(a) == len(b)
            and all(da == db and math.isclose(sa, sb, rel_tol=1e-9,
                                              abs_tol=1e-12)
                    for (da, sa), (db, sb) in zip(a, b)))


class RssPeak:
    """Peak resident set of this process inside each ``with`` block (the
    peak carries over from block to block).  It is the kernel's high-water
    mark, reset on entry, so it is exact and no sampling thread runs beside
    the measured code."""

    def __init__(self):
        self.peak = 0

    def __enter__(self):
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return self

    def __exit__(self, *exc):
        with open("/proc/self/status") as f:
            hwm = next(line for line in f if line.startswith("VmHWM:"))
        self.peak = max(self.peak, int(hwm.split()[1]) * 1024)


def tail(lat: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it →
    (percentile, value)."""
    s = sorted(lat)
    n = len(s)
    i = max(0, n - 11)
    return 100.0 * (i + 1) / n, s[i]


def serve_loop(searcher, queries: list[dict], tally: Tally, rec=None):
    """Closed loop, one client → (latencies s, wall s).  With ``rec``,
    each query runs inside a root ``serving.query`` span."""
    lat = []
    t0 = time.perf_counter()
    for qi, q in enumerate(queries):
        q0 = time.perf_counter()
        try:
            if rec is None:
                out = issue(searcher, q)
            else:
                rec.qid = qi
                out = rec.call("serving.query", issue, (searcher, q))
            dt = time.perf_counter() - q0
            tally.check(result_ok(q, out), f"serving query {q}")
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            dt = time.perf_counter() - q0
            tally.check(False, f"serving query {q} raised {e!r}")
        lat.append(dt)
    return lat, time.perf_counter() - t0


def serving_layers(spans, n_queries: int, loop_wall: float) -> dict:
    from spans import self_times

    selft = self_times(spans)
    dur: dict[str, float] = {}
    self_ms: dict[str, float] = {}
    for s in spans:
        dur[s.name] = dur.get(s.name, 0.0) + s.dur_ns / 1e6
        self_ms[s.name] = self_ms.get(s.name, 0.0) + selft[s.sid] / 1e6

    def total(*names):
        return sum(dur.get(n, 0.0) for n in names)

    def attr(name, key):
        return sum(s.attrs.get(key, 0) for s in spans if s.name == name)

    kernels = tuple(f"operators.query.shard_{k}"
                    for k in ("exhaustive", "wand", "phrase", "bool"))
    decode = total("functions.codec.decode_postings",
                   "functions.codec.decode_block",
                   "functions.codec.decode_positions")
    kernel_self = sum(self_ms.get(n, 0.0) for n in kernels)
    fixed = total("serving.read", "serving.dfs", "serving.expand")
    wall = total("serving.query")
    pool = total("serving.pool")
    pools = {s.sid for s in spans if s.name == "serving.pool"}
    in_pool = sum(s.dur_ns / 1e6 for s in spans
                  if s.name in kernels and s.parent in pools)
    # critical path: the caller waits on the pool while shards score
    serial_kernels = sum(s.dur_ns / 1e6 for s in spans
                         if s.name in kernels and s.parent not in pools)
    blocks = attr("operators.query.shard_wand", "blocks")
    blocks_read = sum(1 for s in spans
                      if s.name == "functions.codec.decode_block")
    q = float(n_queries)
    return {
        "operators.query.analyze_ms": total("operators.query.analyze") / q,
        "serving.read_ms": total("serving.read") / q,
        "serving.read_rows": attr("serving.read", "rows") / q,
        "serving.read_bytes": attr("serving.read", "bytes") / q,
        "serving.dfs_ms": total("serving.dfs") / q,
        "serving.expand_ms": total("serving.expand") / q,
        "serving.handoff_ms": total("serving.to_pylist",
                                    "serving.row_to_enc") / q,
        "functions.codec.decode_ms": decode / q,
        "functions.codec.postings_decoded": (
            attr("functions.codec.decode_postings", "postings")
            + attr("functions.codec.decode_block", "postings")) / q,
        "operators.query.bm25_ms": total("operators.query.bm25") / q,
        "operators.query.kernel_self_ms": kernel_self / q,
        "serving.merge_ms": self_ms.get("serving.query", 0.0) / q,
        "serving.pool_parallelism": in_pool / pool if pool else 1.0,
        "operators.query.blocks_decoded_ratio": (
            blocks_read / blocks if blocks else 1.0),
        "serving.fixed_share": fixed / wall,
        "serving.kernel_share": (pool + serial_kernels) / wall,
        "trace.coverage": wall / 1e3 / loop_wall,
    }


class BuildCapture:
    """Keeps the ``RunResult`` of every ``build_index`` call, whose stage
    log carries the per-stage build times that ``IndexPipeline`` folds
    into its single ``index`` stage."""

    def __init__(self):
        from elastic_indexer4s_spark.operators import build

        self.results = []
        self._mod, self._orig = build, build.build_index

        def build_index(*args, **kwargs):
            res = self._orig(*args, **kwargs)
            self.results.append(res)
            return res
        build.build_index = build_index

    def restore(self) -> None:
        self._mod.build_index = self._orig


def run(args) -> dict:
    import pyarrow.parquet as pq

    import workload as W
    from elastic_indexer4s_spark.config import IndexConfig
    from elastic_indexer4s_spark.operators.query import load_stats, topk_batch
    from elastic_indexer4s_spark.plans.catalog import GenerationCatalog
    from elastic_indexer4s_spark.plans.pipeline import (IndexPipeline,
                                                        resolve_alias)
    from elastic_indexer4s_spark.results import RunResult
    from elastic_indexer4s_spark.serving import LocalSearcher

    trace = bool(args.trace)
    corpus, meta = W.prepare(args.seed, args.docs,
                             os.path.join(WORK, "corpus"))
    queries = W.query_sets(args.seed, meta["markers"],
                           W.load_vocabulary(corpus))[args.workload]
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    idx_root = os.path.join(run_dir, "index")
    evdir = os.path.join(run_dir, "eventlog") if trace else None
    cfg = IndexConfig(num_shards=8, store_positions=True)
    tally = Tally()
    e2e: dict[str, float] = {}
    layers: dict[str, float] = {}

    # -- set-up: session + warm-up build ---------------------------------
    t0 = time.perf_counter()
    spark = start_spark(evdir)
    phases = {"session": time.perf_counter() - t0}
    warm_src = spark.read.parquet(os.path.join(corpus, "warm"))
    warm = IndexPipeline(spark, warm_src, cfg, idx_root,
                         run_ts=TS[0]).switch_alias_from("live")
    tally.check(isinstance(warm.run(), RunResult), "warm-up build")
    src = spark.read.parquet(os.path.join(corpus, "full"))
    setup_s = time.perf_counter() - t0
    phases["warm_build"] = setup_s - phases["session"]

    # -- timed: nightly reindex (build + gated switch + retention) -------
    ratio = meta["n_docs"] / meta["n_warm"]
    pipe = (IndexPipeline(spark, src, cfg, idx_root, run_ts=TS[1])
            .switch_alias_from("live", 0.5 * ratio, 2.0 * ratio)
            .delete_old_indices(keep=1))
    capture = BuildCapture() if trace else None
    w0 = time.time()
    t = time.perf_counter()
    res = pipe.run()
    build_s = time.perf_counter() - t
    build_window = (w0 * 1e3, time.time() * 1e3)
    phases["build"] = build_s
    if capture:
        capture.restore()
    new_gen = GenerationCatalog(idx_root).path(cfg.generation_name(TS[1]))
    tally.check(isinstance(res, RunResult), f"reindex: {res}")
    gen = resolve_alias(idx_root, "live")
    if gen is None or not os.path.exists(os.path.join(gen, "stats.json")):
        stop_spark(spark)
        raise RuntimeError("no published generation; nothing to query")
    tally.check(gen == new_gen, f"alias live -> {gen}, expected {new_gen}")
    tally.check(load_stats(gen)["num_docs"] == meta["n_docs"],
                "stats.json num_docs != corpus rows")
    kept = [i.index
            for i in GenerationCatalog(idx_root).all_indices_with_info()
            if i.index != os.path.basename(new_gen)]
    tally.check(len(kept) == 1, f"retention kept {kept}, expected keep=1")
    e2e["build_docs_per_s"] = meta["n_docs"] / build_s
    e2e["index_bytes_per_input_byte"] = (parquet_bytes(gen)
                                        / meta["content_bytes"])
    if trace and isinstance(res, RunResult):
        inner = capture.results[-1]
        for name, sec in zip(BUILD_STAGES, stage_seconds(inner)):
            if name not in ("create", "verify"):
                layers[f"operators.build.{name}_s"] = sec
        _index_s, switch_s, delete_s = stage_seconds(res)
        layers["plans.switch_s"] = switch_s
        layers["plans.delete_s"] = delete_s
        layers["operators.build.postings_bytes"] = parquet_bytes(
            os.path.join(gen, "postings"))
        layers["operators.build.doclen_bytes"] = parquet_bytes(
            os.path.join(gen, "doclen"))
        layers["operators.build.dictionary_terms"] = sum(
            pq.read_metadata(os.path.join(d, f)).num_rows
            for d, _, fs in os.walk(os.path.join(gen, "dictionary"))
            for f in fs if f.endswith(".parquet"))

    # -- set-up of both query tiers ----------------------------------------
    terms_q = [q for q in queries if q["kind"] in ("or", "and")]
    qmap = {i: q["terms"]
            for i, q in enumerate(terms_q[:BATCH_SIZE[args.workload]])}

    def batch():
        return topk_batch(spark, gen, qmap, K, wand=True).collect()

    t = time.perf_counter()
    warm_times = []
    for _ in range(BATCH_WARM):
        b0 = time.perf_counter()
        batch()
        warm_times.append(time.perf_counter() - b0)
    phases["batch_warm"] = time.perf_counter() - t
    setups = []
    for _ in range(SEARCHER_SETUPS):
        t = time.perf_counter()
        searcher = LocalSearcher(gen)
        for q in queries[:WARM_QUERIES]:
            issue(searcher, q)
        setups.append(time.perf_counter() - t)
    phases["searcher_setups"] = sum(setups)
    setup_s += phases["batch_warm"] + statistics.median(setups)

    # -- timed: rounds of one Spark batch then one serving slice -----------
    # Interleaving spreads both tiers' samples over the same stretch of the
    # run, so a burst of load from outside moves their medians less.
    n = max(20, round(args.seconds * SERVE_RATE[args.workload]))
    loop_q = [queries[(WARM_QUERIES + i) % len(queries)] for i in range(n)]
    times, windows, lat, wall = [], [], [], 0.0
    rss = RssPeak()
    for r in range(ROUNDS):
        w0 = time.time()
        b0 = time.perf_counter()
        rows = batch()
        times.append(time.perf_counter() - b0)
        windows.append((w0 * 1e3, time.time() * 1e3))
        lo, hi = r * n // ROUNDS, (r + 1) * n // ROUNDS
        with rss:
            sl_lat, sl_wall = serve_loop(searcher, loop_q[lo:hi], tally)
        lat += sl_lat
        wall += sl_wall
    phases["batch_timed"] = sum(times)
    phases["serve_timed"] = wall
    pct, tail_s = tail(lat)
    e2e.update({
        "spark_batch_qps": len(qmap) / statistics.median(times),
        "serve_p50_ms": statistics.median(lat) * 1e3,
        "serve_tail_ms": tail_s * 1e3,
        "serve_qps": len(lat) / wall,
        "serve_peak_rss_mb": rss.peak / 2**20,
        "setup_s": setup_s,
    })

    t = time.perf_counter()
    spark_hits: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        spark_hits.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"]))
    local_hits = searcher.search_batch(qmap, K, wand=True)
    for qid in qmap:
        tally.check(
            same_hits(spark_hits.get(qid, []), local_hits.get(qid, [])),
            f"topk_batch vs search_batch disagree on {qmap[qid]}")
    stop_spark(spark)
    phases["check_and_stop"] = time.perf_counter() - t

    if trace:
        import evlog

        jobs, stages = evlog.read(evdir)
        layers.update(evlog.build_metrics(jobs, stages, build_window))
        layers.update(evlog.query_metrics(jobs, stages, windows))
        spark_sites = {
            "build": evlog.by_call_site(jobs, stages, build_window),
            "query": evlog.by_call_site(jobs, stages, windows[-1])}

    for m in sorted(meta["markers"])[:MARKER_CHECKS]:
        q = {"kind": "or", "terms": [m],
             "expect_paths": sorted(meta["markers"][m])}
        tally.check(result_ok(q, issue(searcher, q)), f"marker {m}")
    print(f"[perfbench] {args.workload}: serve_tail_ms is p{pct:.1f} of "
          f"{len(lat)} queries; error_rate {tally.failed}/{tally.attempted}")
    print("[perfbench] phase seconds: " + ", ".join(
        f"{k} {v:.2f}" for k, v in phases.items()), file=sys.stderr)
    print("[perfbench] batch seconds: " + " ".join(
        f"{x:.3f}" for x in warm_times + times), file=sys.stderr)

    if trace:
        from spans import Instrumentation, Recorder

        # the untraced reference for the overhead runs under the same
        # conditions as the traced loop: one block, Spark stopped
        ulat, _ = serve_loop(searcher, loop_q, tally)
        rec = Recorder()
        inst = Instrumentation(rec, searcher)
        try:
            tlat, twall = serve_loop(searcher, loop_q, tally, rec)
        finally:
            inst.restore()
        layers.update(serving_layers(rec.spans, len(tlat), twall))
        layers["trace.overhead_ms"] = (statistics.median(tlat)
                                       - statistics.median(ulat)) * 1e3
        layers["serving.tail_percentile"] = pct
        layers["serving.samples"] = len(lat)
        out = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(out, "w") as f:
            json.dump({"spans": [s.__dict__ for s in rec.spans],
                       "spark_call_sites": spark_sites}, f)
    return {"tally": tally, "e2e": e2e, "layers": layers}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SERVE_RATE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=N_DOCS,
                    help="corpus size (the self-test runs a tiny corpus)")
    args = ap.parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import elastic_indexer4s_spark  # noqa: F401
    except ImportError as e:
        print(f"[perfbench] engine package not importable: {e}",
              file=sys.stderr)
        return 2
    spec = load_spec()
    isolate_env()
    out = run(args)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = out["layers"] if args.trace else out["e2e"]
    tally = out["tally"]
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
