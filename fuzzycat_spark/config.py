"""SparkSession factory with scale-appropriate defaults.

Tuned for the dedup workload: heavy shuffles on block keys, AQE for skewed
blocks (boilerplate/near-empty pages produce hot keys — the reference caps
these manually at /root/reference/fuzzycat/__main__.py:220-223; we let AQE
split skewed partitions AND cap pair explosion explicitly in operators).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
MAX_DRIVER_HEAP_MB = 32 << 10

# The session settings every entry point applies: `get_spark` and the
# session builders of jobs/dedup_job.py and jobs/stream_dedup_job.py, all
# through `with_session_conf`.
SESSION_CONF: dict[str, str] = {
    # Spark's compiled-class cache holds 100 classes by default and, being
    # split into segments, evicts before it is full. One process compiles
    # ~98 distinct classes for a batch dedup run and ~155 for a stream with
    # compaction (CodegenMetrics counts of the benchmark workloads on 4
    # vCPUs), so each run recompiled classes an earlier one had compiled:
    # 42-48 per `web_crawl` run and 103-105 per `stream_ingest` pass. 1000
    # holds that working set several times over; a repeated run compiles
    # none.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # PySpark wraps every `pyspark.sql.functions` call in an origin
    # capture: extra py4j round trips (`F.col("a") + F.lit(1)` makes 27
    # with it, 7 without), a stack walk and an `import ipykernel` attempt.
    # Off, a `web_crawl` run makes ~3,700 py4j round trips instead of
    # ~9,950. Python tracebacks still name the failing call; Spark's error
    # messages lose only the DataFrame origin context.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# scan-parallelism cache for fan_out_scan: (applicationId, key) -> n_parts.
# Physical-planning a frame to count its scan partitions costs ~100 ms; a
# given input path's layout is stable within an application, so pay it once.
_SCAN_PARTS: dict[tuple[str, str], int] = {}


def fan_out_scan(df, cache_key: str | None = None):
    """Scale-adaptive fan-out for small or unsplittable inputs.

    A parquet file with one row group (or a handful of small files) scans
    as a single task, so every expression chain composed over it — slug
    normalization, shingling, per-shingle hashing — runs on ONE core while
    the rest of the machine idles (the "one huge unsplittable file" input-
    skew case). When the scan's partition count cannot fill half the
    available slots, round-robin repartition to the default parallelism;
    otherwise return the frame untouched. At production scale the input is
    thousands of row groups, the condition never fires, and no shuffle is
    added — the decision derives from the actual input layout, not a
    constant tuned to either environment.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    n = None
    key = (sc.applicationId, cache_key) if cache_key else None
    if key is not None:
        n = _SCAN_PARTS.get(key)
    if n is None:
        try:
            n = df.rdd.getNumPartitions()
        except Exception:
            return df
        if key is not None:
            _SCAN_PARTS[key] = n
    if n * 2 <= target:
        return df.repartition(target)
    return df


def _free_bytes(path: str) -> int:
    try:
        st = os.statvfs(path)
    except OSError:
        return 0
    return st.f_bavail * st.f_frsize


def _scratch_dir() -> str:
    """Scratch dir for shuffle files/spills (spark.local.dir).

    Prefer tmpfs (/dev/shm) on this single-VM stand-in: the VM's virtio
    disk writeback gives 2-6x run-to-run swings on shuffle/checkpoint
    writes, pure measurement noise. On a real cluster this is the node's
    local SSD array (set SPARK_GRAFT_LOCAL_DIR or spark.local.dir in
    spark-submit); shuffle data is ephemeral either way.
    """
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    shm = "/dev/shm"
    # Shuffle spills happen precisely when memory is scarce, so tmpfs is
    # only safe with real headroom: require >=24 GiB free on /dev/shm
    # (and never on boxes where tmpfs is sized small), else spill to the
    # disk tempdir like stock Spark. SPARK_GRAFT_LOCAL_DIR overrides both
    # ways.
    _MIN_SHM_FREE = 24 << 30
    if (
        os.path.isdir(shm)
        and os.access(shm, os.W_OK)
        and _free_bytes(shm) >= _MIN_SHM_FREE
    ):
        d = os.path.join(shm, "fuzzycat_spark_local")
        os.makedirs(d, exist_ok=True)
        # killed JVMs leave their spark-<uuid> shuffle dirs behind (no
        # shutdown hook on SIGKILL); age-gated sweep keeps the tmpfs root
        # from accumulating RAM-resident garbage across runs
        from fuzzycat_spark.plans.checkpoint import _sweep_stale

        _sweep_stale(d, "spark-")
        return d
    import tempfile

    return tempfile.gettempdir()


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """`spark.driver.memory` when SPARK_GRAFT_DRIVER_MEM is unset: a quarter
    of physical memory (the JVM's own MaxRAMPercentage default), at least
    1g and at most 32g. In local mode the driver JVM also holds off-heap
    shuffle and network buffers, and the Python workers live outside it,
    so the other three quarters are their headroom: a fixed 32g heap on a
    16 GB host let the JVM grow until the kernel OOM-killed it."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1024, min(MAX_DRIVER_HEAP_MB, (phys_bytes // 4) >> 20))}m"


def launcher_conf() -> dict[str, str]:
    """The settings the launcher gave the driver: under spark-submit (which
    starts the JVM before Python and hands it its gateway) its `--conf`
    values and spark-defaults.conf; empty for a session Python launches."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()  # connects to the launcher's JVM
    return dict(SparkConf().getAll())


def with_session_conf(builder: SparkSession.Builder) -> SparkSession.Builder:
    """`builder` with SESSION_CONF, except the keys the launcher already
    set: a builder value would override them, and the launcher's win."""
    launched = launcher_conf()
    for k, v in SESSION_CONF.items():
        if k not in launched:
            builder = builder.config(k, v)
    return builder


def get_spark(
    app_name: str = "fuzzycat-spark",
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local SparkSession configured like production would be.

    On a real cluster the same confs apply (minus master); AQE handles
    runtime re-planning, skew-join splitting and partition coalescing so the
    plans survive a 100x scale-up without retuning shuffle_partitions.
    """
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        with_session_conf(SparkSession.builder)
        .master(f"local[{cores}]")
        .appName(app_name)
        # local-mode driver hosts all executor state; the 1g default heap
        # OOMs once localCheckpoint blocks accumulate across CC iterations
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's default 1m partition floor coalesces the mid-size
        # candidate/verify shuffles to ~22-30 partitions — not a multiple
        # of the slot count, so the last wave runs ragged (measured 71%
        # occupancy on candidates at 8 cores, SCALING.md). A lower floor
        # keeps the configured shuffle_partitions (sized as a slot
        # multiple) for mid-size stages while still merging the truly
        # tiny ones; on a cluster, size this to slots-per-stage.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "128k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # hot LSH bands are the skew risk; split aggressively
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64m")
        # local mode: shuffle blocks live on local disk behind the OS page
        # cache (no network leg), so compression trades CPU against page-
        # cache/writeback pressure. Default stays ON (measured steadier on
        # multi-GB pair shuffles); SPARK_GRAFT_SHUFFLE_COMPRESS=false flips
        # it for A/B runs. Cluster deployments keep compression for the
        # network-bound shuffle.
        .config(
            "spark.shuffle.compress",
            os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", "true"),
        )
        .config(
            "spark.shuffle.spill.compress",
            os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", "true"),
        )
        .config("spark.local.dir", _scratch_dir())
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
