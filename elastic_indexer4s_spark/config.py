"""Engine configuration.

Mirrors the reference's config surface (`ElasticWriteConfig.scala:11-36`:
endpoints / index prefix / mapping / batch size 50 / concurrency 10 /
retries 5 / log interval / publish wait) re-expressed for Spark: the ES
cluster knobs become partitioning knobs, the analyzer config becomes a
tokenizer spec, and the BM25 parameters (delegated to ES 6.x defaults in the
reference, never overridden) become explicit.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
from datetime import datetime, timezone
import json
import os


@dataclass(frozen=True)
class TokenizerConfig:
    """Analyzer spec (reference: `MappingSetting.scala:13`, README.md:98-112).

    Code-aware defaults per the north-star: camelCase + snake_case splitting,
    lowercase, length filter.
    """

    split_camel: bool = True
    split_snake: bool = True
    lowercase: bool = True
    min_len: int = 2
    max_len: int = 64


@dataclass(frozen=True)
class IndexConfig:
    """Per-index build configuration.

    * ``index_prefix`` + run timestamp names the generation, mirroring
      ``indexName = esIndexPrefix + "_" + yyyy-MM-dd't'HH:mm:ss``
      (`ElasticWriteConfig.scala:23`).
    * ``num_shards`` = document-hash partitions of the index, the Spark
      equivalent of ES shards (`MappingSetting.scala:15`).  Each shard holds
      the full term dictionary for its slice of documents; queries fan out
      over shards and merge top-k — the same document-partitioned layout ES
      uses, which is what keeps any single posting list bounded at 10^12-file
      scale.
    * ``k1`` / ``b`` — BM25 parameters (ES 6.x defaults, delegated by the
      reference; Lucene BM25 k1=1.2 b=0.75).
    * ``hot_term_df`` — per-shard document-frequency threshold above which
      a term is a skewed "hot" key: the build salts its posting list into
      bounded sub-segments, restarting its blocks at every ``salt_span``
      doc-id boundary (SURVEY §2 B4).  Positions are salted alike.
    * ``block_size`` — postings per block for the block-max WAND layout.
    * ``doc_key`` — caller-supplied document identity columns (the reference's
      ``RequestBuilder`` id control, `ElasticIndexer4s.scala:39-43`,
      README.md:114-116): shard assignment, doc-id ordering, resume
      fingerprints and sha-verification all key on these columns.
    * ``on_error`` — per-element failure policy (reference's ``Decider``,
      `ElasticIndexer4s.scala:45-48`, README.md:141-149): ``"fail"`` aborts
      the build on the first bad document; ``"skip"`` drops it, continues,
      and reports the drop count in ``stats.json["skipped_docs"]``.
    * ``log_every`` — interval in seconds for the build-time throughput log
      (reference `FullStream.scala:15-23` countAndLogSink, default 1/min).
    """

    index_prefix: str = "docs"
    num_shards: int = 8
    k1: float = 1.2
    b: float = 0.75
    tokenizer: TokenizerConfig = field(default_factory=TokenizerConfig)
    hot_term_df: int = 10_000
    salt_span: int = 8_192  # docs per salt bucket for hot terms
    block_size: int = 128
    on_error: str = "fail"  # or "skip" — reference's Decider (ElasticIndexer4s.scala:45-48)
    doc_key: tuple[str, ...] = ("repo", "path", "commit")
    log_every: float = 60.0
    #: store token positions in the postings (delta+varint ``pos_blob``):
    #: makes phrase queries index-native (ES analyzed `text` fields keep
    #: Lucene positions for exactly this, MappingSetting.scala:13) at
    #: roughly dl/distinct-terms extra varints per document.  Default off —
    #: bag-of-words BM25 search needs none of it; flip on when the workload
    #: includes match_phrase.
    store_positions: bool = False

    def generation_name(self, run_ts: str | None = None) -> str:
        ts = run_ts or datetime.now(timezone.utc).strftime("%Y-%m-%d't'%H.%M.%S")
        return f"{self.index_prefix}_{ts}"

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "IndexConfig":
        d = json.loads(s)
        tok = TokenizerConfig(**d.pop("tokenizer"))
        if "doc_key" in d:
            d["doc_key"] = tuple(d["doc_key"])
        return IndexConfig(tokenizer=tok, **d)


class MappingSettingError(ValueError):
    """Raised when a raw mapping/config JSON string is rejected (reference
    `MappingSetting.scala:23-26` ``StringMappingSetting.unsafeString``:
    user-supplied raw JSON is parsed up front and rejected loudly, pinned
    by `MappingSettingSpec.scala:7-14`)."""


def mapping_from_json(raw: str) -> IndexConfig:
    """Validating raw-JSON config ingestion — the engine twin of the
    reference's ``StringMappingSetting``: accepts the exact ``IndexConfig``
    JSON shape, rejects malformed JSON, non-object payloads, unknown keys,
    and bad enum values with a :class:`MappingSettingError` instead of a
    downstream crash mid-build."""
    import dataclasses

    try:
        d = json.loads(raw)
    except json.JSONDecodeError as e:
        raise MappingSettingError(f"mapping is not valid JSON: {e}") from e
    if not isinstance(d, dict):
        raise MappingSettingError(
            f"mapping must be a JSON object, got {type(d).__name__}")
    tok_raw = d.pop("tokenizer", {})
    if not isinstance(tok_raw, dict):
        raise MappingSettingError("'tokenizer' must be a JSON object")
    known = {f.name for f in dataclasses.fields(IndexConfig)} - {"tokenizer"}
    tok_known = {f.name for f in dataclasses.fields(TokenizerConfig)}
    unknown = sorted((set(d) - known) | {f"tokenizer.{k}" for k in
                                         set(tok_raw) - tok_known})
    if unknown:
        raise MappingSettingError(f"unknown mapping keys: {unknown}")
    if "doc_key" in d:
        d["doc_key"] = tuple(d["doc_key"])
    cfg = IndexConfig(tokenizer=TokenizerConfig(**tok_raw), **d)
    if cfg.on_error not in ("fail", "skip"):
        raise MappingSettingError(
            f"on_error must be 'fail' or 'skip', got {cfg.on_error!r}")
    if cfg.num_shards < 1 or cfg.block_size < 1:
        raise MappingSettingError("num_shards and block_size must be >= 1")
    return cfg


@dataclass(frozen=True)
class EngineConfig:
    """Top-level engine config: where the source table lives and where index
    generations are written (reference: `ElasticWriteConfig` endpoints +
    prefix)."""

    source_path: str
    index_root: str
    index: IndexConfig = field(default_factory=IndexConfig)
    # publish gate defaults, reference `IndexableStream.scala:19` /
    # `AliasSwitching.scala:54` (README.md:125-129)
    min_threshold: float = 0.95
    max_threshold: float = 1.25


#: JVM options every engine JVM (driver in local mode, executors on a
#: cluster) should run with.  The analyzer + sha256 scan stage allocates
#: short-lived strings at a very high rate; measured on this box, Java 17's
#: default G1 collector collapses under that allocation rate as threads grow
#: (1M-row tokenizer probe: 70 s at 8 threads,
#: 166 s at 32 — *anti*-scaling), while the throughput-oriented parallel
#: collector scales it cleanly (15.9 s at 32 threads, 10.5x).
#:
#: ``-Xmn1g`` pins the young generation: with the default sizing (~1/3 of a
#: pinned 24g heap) every young collection evacuates gigabytes and showed
#: up as a 2-6 s pause tail on ~15% of BM25 queries; a 1g young gen turns
#: those into sub-50ms collections (interleaved A/B: query max 2.2 s -> 0.5 s,
#: p50 1154 -> 446 ms) at no measurable build-throughput cost — execution
#: memory is off-heap, so the heap holds only short-lived row/string churn.
#: On a real cluster the same flags go in ``spark.executor.extraJavaOptions``.
ENGINE_JAVA_OPTIONS = "-XX:+UseParallelGC -Xmn1g"


def tuned_builder(master: str, app: str, *, shuffle_partitions: int,
                  driver_mem: str = "24g", aqe: bool = True,
                  cores: int | None = None):
    """SparkSession builder with the engine's recommended local-mode conf.

    Centralizes what bench/scaling/tests all need: parallel GC (see
    ``ENGINE_JAVA_OPTIONS``), OFF-HEAP execution memory, Arrow enabled, UTC,
    quiet UI.

    Off-heap execution memory is the load-bearing setting: Tungsten's
    aggregation-map / sort pages are large, long-lived-then-freed arrays
    that, kept on-heap, churn the old generation — the postings-build reduce
    stage spent 480-540s in ParallelGC pauses (67s CPU!) on a 300k-doc
    build; with execution pages off-heap the same stage runs with ZERO GC
    time and the whole build went 192s -> 66s at 8 cores (event-log
    A/B).  G1 tolerated the on-heap churn but made the
    codegen tokenizer scan ~10x slower in pure CPU, so ParallelGC +
    off-heap is the only combination fast at both ends.  ``cores`` sizes
    the off-heap pool (1 GiB/core, min 4 GiB) — per-core memory constant,
    exactly how a real cluster scales executors.
    """
    from pyspark.sql import SparkSession

    # Memory-allocator hygiene for EVERY process in the tree (JVM + pyspark
    # workers): on this class of VM (lazily-backed guest memory) the first
    # touch of a fresh anon page costs ~2-6µs of host-serialized kernel time
    # — ~100x a retouch — so glibc's default behavior of mmap()ing every
    # large block and munmap()ing it on free makes each numpy/Arrow
    # temporary re-pay first-touch forever; at 32 workers the host fault
    # path serializes and the build went 3x SLOWER than at 8.  Keeping
    # blocks in the arena (never direct-mmap, never trim) made a 50x64MB
    # numpy alloc+touch loop 18x faster (3.1s -> 0.17s, sys-time-dominated
    # -> none).  Real clusters with normal memory backing are insensitive
    # to these flags; they are pure downside-protection.  Must be in the
    # environment BEFORE the JVM forks, hence set here (inherited by the
    # gateway JVM and its python workers); spark.executorEnv covers real
    # executors.
    malloc_env = {"MALLOC_MMAP_MAX_": "0", "MALLOC_TRIM_THRESHOLD_": "-1"}
    for k, v in malloc_env.items():
        os.environ.setdefault(k, v)

    # Pin the initial heap to the max: ParallelGC's adaptive resizing under a
    # growing heap produced multi-hundred-second GC storms on shared-host VMs
    # (pinned+pretouch GC = 0.2s vs 0.6-3.9s unpinned on
    # the same sub-plan); a fixed-size heap removes that failure mode.
    java_opts = f"{ENGINE_JAVA_OPTIONS} -Xms{driver_mem}"
    if cores is None and master.startswith("local[") and master[6:-1].isdigit():
        cores = int(master[6:-1])
    offheap_gb = max(4, cores) if cores else 8
    return (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true" if aqe else "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Tokenize+combine costs ~40-60s CPU per compressed GB — an order
        # heavier per byte than the filter/agg scans Spark's 128 MB default
        # split targets.  Smaller splits keep scan tasks at seconds-scale:
        # better wave packing at low parallelism (measured: local[2] build
        # 132s -> 102s) and finer AQE/straggler granularity at high.  The
        # low open-cost matches parquet-over-local/object storage where
        # listing is already amortized.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", f"{offheap_gb}g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.executor.extraJavaOptions", ENGINE_JAVA_OPTIONS)
        .config("spark.executorEnv.MALLOC_MMAP_MAX_", "0")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
    )
