"""SparkSession factory and test-table IO.

Supported envelope
------------------
- The session always runs on ``local[N]`` (one JVM: the executors are
  the driver), over scale factors sf0.001 to sf1. Every operator has
  one code path per input in that envelope; a branch that could only
  fire beyond it is not kept.
- AQE is always on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching size each stage from
  what it actually sees.
- ``spark.sql.shuffle.partitions`` defaults to the local core count.
- Session timezone is pinned to UTC so timestamp semantics are stable
  across engines (the DuckDB oracle is UTC-naive).
- Arrow is enabled for all pandas interchange (vectorized UDF path).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables the driver materializes at each scale factor.
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "movie-etl-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the session with scale-appropriate defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # NOTE (r14): raising AQE initialPartitionNum to 8x cores was
        # measured at the factor-100 point and REJECTED — finer shuffle
        # partitions made g2's sf10 wall 65% worse (176.7 -> 292.9 s
        # solo A/B at 8g, spill 0.27 -> 18 GB in the window-sort stages)
        # at identical heap, and the 6g hash-build OOM it targeted
        # persisted (the build side coalesces back under
        # parallelismFirst). On a real cluster the equivalent knob is
        # executor count, not per-executor partition fan-out.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NOTE (r18): Arrow batch sizing across the Python boundary
        # (guide §4.2) audited and left at engine defaults — Spark
        # 4.1.2 already caps every ArrowRecordBatch at BOTH 10k rows
        # (maxRecordsPerBatch) and 64 MB (maxBytesPerBatch default
        # 67108864b, probed live), so the multimodal family's multi-MB
        # binary payloads are byte-bounded per batch out of the box;
        # adding the conf here would pin it to its own default.
        # NOTE (r18): spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold
        # (guide §3.1's AQE SMJ->SHJ runtime rewrite) was probed at 64m
        # and REJECTED as dead config: the rewrite fired on a synthetic
        # fresh-shuffle join but on ZERO of the catalog's 8 SMJ-bearing
        # queries (their join inputs are persisted/localCheckpoint
        # frames, not plain shuffle stages, so DynamicJoinSelection
        # never sees the map stats it needs) — see OPTIMIZATION_r18.md.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off (Spark's default is on): runs measure compute, not the
        # status store; per-stage figures come from the event log
        .config("spark.ui.enabled", "false")
        # keep saveAsTable/bucketBy output out of the repo cwd (static
        # conf — must be set before the session exists)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/movie-etl-spark-warehouse"
            ),
        )
    )
    return builder.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one test table.

    Parquet + DataFrame reader means Catalyst gets filter pushdown and
    column pruning for free on every downstream query.

    Schema contract for ``events.ts``: downstream operators (watermarked
    streams above all) require a plain TIMESTAMP. The driver has shipped
    the column in two physical encodings so far, and each is normalized
    here — this is the single choke point, so a future re-encoding only
    ever needs a branch added in this function:

    - INT64 TIMESTAMP(NANOS) (rounds <=4): Spark rejects it outright
      (PARQUET_TYPE_ILLEGAL) unless ``spark.sql.legacy.parquet
      .nanosAsLong`` is on; the resulting nanos BIGINT is converted to a
      microsecond timestamp with integer division — bit-identical to
      DuckDB's TIMESTAMP_NS→TIMESTAMP truncation of the same column.
    - ``timestamp[us], isAdjustedToUTC=false`` (round 5+): Spark reads
      TIMESTAMP_NTZ, which ``withWatermark`` rejects
      (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE, the round-5 incident — see
      BASELINE.md). Under the UTC-pinned session a cast to TIMESTAMP
      maps wall-clock fields to the identical instant, so oracle hashes
      are unchanged while event-time semantics come back.
    """
    # the driver may hand us its own session: pin the runtime-settable
    # confs our oracle determinism depends on (UTC casts; nanos events)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All test tables as a dict of lazily-planned DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


#: Persisted DataFrames and ``sc.broadcast`` handles built by operators
#: (dedup indexes, BSP state, the IVF grouped-scoring matrices).
#: Operators return lazy DataFrames, so they cannot release their own
#: caches; callers that run many queries in one session (bench.py,
#: tools/selfcheck.py, the driver shim) call :func:`release_caches`
#: after consuming each result. A pickled ``sc.broadcast``, unlike a
#: SQL-plan broadcast, lives until released, so without this a long
#: session accumulates broadcast blocks in the driver and executors.
_TRACKED: list = []


def cache_tracked(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() with caller-owned lifetime (see :func:`release_caches`).

    ``storage_level``: optional ``pyspark.StorageLevel``. Big invariant
    frames that are re-read across iterations should pass DISK_ONLY —
    deserialized MEMORY_AND_DISK blocks are protected from execution-
    side eviction up to ``spark.memory.storageFraction`` of the unified
    pool, and a multi-GB pinned invariant starves iteration hash
    aggregates (the r11 g2 checkpoint lesson; gr1's sf10 OOM, r13).
    """
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _TRACKED.append(df)
    return df


def broadcast_tracked(bc):
    """Register an sc.broadcast for release alongside the caches."""
    _TRACKED.append(bc)
    return bc


def release_caches() -> None:
    """Unpersist every DataFrame and sc.broadcast registered so far.

    An unpersisted broadcast is not destroyed: a still-referenced result
    DataFrame (e.g. an ``ivf_top_k`` output consumed *after* this call)
    re-ships the value at its next action — a benign recompute, the
    same as for the DataFrame caches.
    """
    while _TRACKED:
        _TRACKED.pop().unpersist()


#: logical operators under which the first executed stage is no longer
#: the file scan (a shuffle or broadcast re-partitions the data), so a
#: file-size split estimate says nothing about the frame's runtime
#: partitioning — those frames keep the exact physical-plan probe.
_NON_SCAN_PLAN_NODES = (
    "Join", "Aggregate", "Window", "Sort", "Repartition",
    "Deduplicate", "Distinct", "GlobalLimit",
)


def _estimate_scan_partitions(df: DataFrame) -> int | None:
    """Estimate the scan split count from file sizes — driver-side
    metadata only, no physical planning (r18).

    Mirrors Spark's ``FilePartition.maxSplitBytes`` packing:
    ``maxSplit = min(maxPartitionBytes, max(openCostInBytes,
    padded/defaultParallelism))`` and splits ≈ ceil(padded/maxSplit)
    where padded charges every file its open cost. The estimate is
    within ±1 split of the planner for single-directory parquet scans
    (packing boundaries differ), which is harmless here: the only
    consumer compares it against the session's core count, and a
    one-split error can only move a frame across that line, never
    change the rows it holds.

    Returns None (caller falls back to the exact probe) when the frame
    is not scan-rooted (shuffle/broadcast above the scan), reads
    non-local files, or has no file source at all. (Non-``file:``
    schemes have no cheap driver-side size call here.)

    The split confs come from the planner's own typed getters, so
    size suffixes read exactly as Spark reads them, and file sizes are
    stat-ed on every call, so a table overwritten in place is sized
    afresh.
    """
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        if any(node in plan for node in _NON_SCAN_PLAN_NODES):
            return None
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — estimation is best-effort
        return None
    if not files or not all(f.startswith("file:") for f in files):
        return None
    total = 0
    for f in files:
        try:
            total += os.path.getsize(f.removeprefix("file:"))
        except OSError:
            return None
    spark = df.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    max_part = conf.filesMaxPartitionBytes()
    cores = max(1, spark.sparkContext.defaultParallelism)
    padded = total + len(files) * open_cost
    max_split = min(max_part, max(open_cost, padded // cores))
    return max(1, -(-padded // max(1, max_split)))


def ensure_parallelism(df: DataFrame, factor: int = 1) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism.

    A small parquet file arrives as ONE split -> one task -> every other
    core idle, which turns expression-heavy per-row work (shingling,
    hashing, pandas UDFs) into a serial bottleneck. Round-robin
    repartition up to default parallelism when — and only when — the
    scan produced fewer splits; otherwise this is a no-op (no shuffle
    added).

    The split count comes from a file-size estimate
    (:func:`_estimate_scan_partitions`) whenever the frame is
    scan-rooted: driver-side metadata math instead of the former
    ``df.rdd.getNumPartitions()`` probe, which forced a full physical
    planning pass per call — measured at 0.15-0.3 s each across the
    ~30 probes of a catalog pass (r18; guide §7.3's "planning time is
    driver time" cost, paid before every heavy dedup/multimodal/text
    query). Frames that are not scan-rooted (a shuffle or broadcast
    above the scan decides their partitioning) keep the exact probe.
    ``spark.movie_etl.ensureParallelism.enabled=false`` makes this a
    true no-op — a physical-plan perturbation under which every catalog
    result must stay the same.
    """
    spark = df.sparkSession
    if (
        spark.conf.get("spark.movie_etl.ensureParallelism.enabled", "true")
        == "false"
    ):
        return df
    target = spark.sparkContext.defaultParallelism * factor
    est = _estimate_scan_partitions(df)
    n_parts = est if est is not None else df.rdd.getNumPartitions()
    if n_parts < target:
        return df.repartition(target)
    return df
