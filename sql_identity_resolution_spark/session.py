"""SparkSession builder tuned for this engine.

Mirrors the reference's recommended engine settings
(``/root/reference/sql/databricks/optimize_tables.sql:94-106``: AQE on, shuffle
partitions sized to the data, optimized writes) translated to OSS Spark, plus the
settings this engine itself relies on (Arrow batches for pandas UDFs, UTC session
timezone so results hash-compare against DuckDB oracles).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# applications whose python-worker pool was already warmed (getOrCreate can
# hand the same SparkContext to many build_session callers — warm once);
# the lock makes the check-then-add atomic across concurrent callers
_WARMED_APPS: set[str] = set()
_WARMED_LOCK = threading.Lock()


def _passthrough_batches(it):
    for pdf in it:
        yield pdf


def _warm_python_workers(spark: SparkSession, n_workers: int) -> None:
    """Fork + import-warm the python worker pool with one tiny mapInPandas
    job (one 1-row task per core). The first pandas-UDF action otherwise pays
    daemon launch + n_cores worker forks + per-worker Arrow/serializer setup
    inside whatever query happens to run it (~2.5 s wall at local[32] quiet,
    up to ~10 s under CPU contention — measured round 6). Runs from a daemon
    thread at session build so it overlaps driver-side setup instead of a
    measured query; job-group tagging is thread-local, so pipeline stage
    attribution is unaffected."""
    try:
        spark.sparkContext.setJobDescription("python-worker warmup")
        df = spark.range(0, n_workers, 1, n_workers)
        df.mapInPandas(_passthrough_batches, "id long").write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:
        pass  # session stopped mid-warmup or noop source unavailable


def build_session(
    app_name: str = "sql_identity_resolution_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``) in the
    sandbox; on a real cluster pass ``None`` master via spark-submit and these
    settings become cluster-side defaults.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~cores, not the 200 default (right-sized for tests);
        # cluster mode: leave to AQE coalescing from a higher initial value.
        n = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(min(64, n * 2))))

    # make this package importable in executor python workers (pandas UDFs
    # pickle references to it). On clusters, ship via spark-submit --py-files;
    # locally/PYTHONPATH covers forked workers.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + existing if existing else "")

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's 1m minPartitionSize floor collapses any sub-1MB shuffle to ONE
        # task regardless of cores — which serializes small-byte CPU-HEAVY
        # stages (measured: the 4k-convs signature build ran its 2.8 s of
        # vectorized-minhash python in a single task; entity_extraction
        # 2.9 -> 0.9 s and edge_building 4.6 -> 3.3 s at 64k, paired A/B).
        # Scale-invariant: at corpus scale per-partition bytes dwarf this
        # floor, so large-shuffle plans are untouched.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # broadcast threshold: metadata tables (rules/exclusions/trust) are tiny and
        # must broadcast; 64MB keeps dimension joins shuffle-free.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # text-heavy shuffles (signatures, candidate-pair scoring) are disk-IO
        # bound on local shuffle storage; zstd roughly halves bytes vs lz4
        .config("spark.io.compression.codec", "zstd")
        .config("spark.io.compression.zstd.level", "1")
    )
    if master.startswith("local"):
        builder = (
            builder
            # fork python workers from a daemon that already imported
            # numpy/pandas/pyarrow (COW-shared) — the first pandas-UDF action
            # otherwise pays ~4.3 CPU-seconds of imports in EACH of the
            # n_cores workers it spawns (measured: first-action wall 4.3 ->
            # 2.5 s at local[32]). Scoped to local* masters because the daemon
            # module must be importable at executor-python startup (PYTHONPATH
            # above guarantees that here; on a cluster, ship the package and
            # opt in via spark.python.daemon.module).
            .config("spark.python.daemon.module", "sql_identity_resolution_spark.daemon_preload")
            # skip Hadoop's ChecksumFileSystem for file:// — it writes (and
            # verifies) a .crc sidecar per file, which doubles filesystem ops
            # on bucketed stores (one parquet file per bucket; measured 15-25%
            # off a 256-bucket commit). Matches object-store deployments,
            # where the warehouse scheme has no client-side checksum layer.
            .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
            # reading a bucketed store passes one path per bucket; above this
            # path count Spark runs a DISTRIBUTED file-listing job — one task
            # per path, ~0 compute, ~0.5 s of pure task scheduling per
            # 256-bucket read (measured; several reads per INCR run).
            # Driver-side listing of local paths is microseconds, so lift the
            # threshold. Cluster masters keep Spark's default: on object
            # stores a LIST call is a slow RPC and distributed listing pays.
            .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if master.startswith("local"):
        app_id = spark.sparkContext.applicationId
        with _WARMED_LOCK:
            first = app_id not in _WARMED_APPS
            _WARMED_APPS.add(app_id)
        if first:
            n = spark.sparkContext.defaultParallelism or (os.cpu_count() or 8)
            threading.Thread(
                target=_warm_python_workers, args=(spark, n), daemon=True
            ).start()
    return spark
