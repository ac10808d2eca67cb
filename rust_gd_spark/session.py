"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the configs below are the ones that
also matter on a real multi-executor cluster (AQE, Arrow, sensible shuffle
partition counts). On a 1000-executor cluster the same code runs unchanged —
only ``master`` and the partition counts change (scaled to total cores).

Python workers fork from ``rust_gd_spark._pydaemon``, not from
``pyspark.daemon``. Every Python task calls ``importlib.invalidate_caches()``,
and before Python 3.13 that re-reads the central directory of
``pyspark.zip`` once per imported pyspark subpackage: about 0.1 s per task,
reused worker or not, which made each pandas-UDF stage cost about 5x a
JVM-only job over the same rows. The daemon re-reads an archive only when
its stat changed. It is the one module besides the UDF kernels that the
workers import, so the package's parent directory goes on their
``PYTHONPATH``. ``spark.python.use.daemon=false`` launches workers without
any daemon and so bypasses it (and pays the re-read again).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@contextlib.contextmanager
def job_description(sc, desc: str):
    """Scoped ``setJobDescription`` that RESTORES the enclosing label.

    ``setJobDescription(None)`` in a ``finally`` clobbers whatever label
    an outer scope had set (a nested ``cc:canon`` reset used to strip
    the surrounding ``stage:clusters`` from every later job in the
    stage). Saving ``spark.job.description`` and writing it back keeps
    the job-audit labels truthful under nesting.
    """
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def get_spark(
    app_name: str = "rust_gd_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS (driver contract) else 32.
    shuffle partitions default to 2x cores — small enough to avoid tiny-task
    overhead locally, and AQE coalesces further at runtime; on a real cluster
    this would be ~2-3x total executor cores.
    """
    # Large numpy temporaries otherwise mmap/munmap per kernel invocation;
    # sandboxed VMs (Firecracker on-demand paging) first-touch fresh mmaps
    # ~50x slower than steady-state writes. Keeping big allocations on the
    # reused heap makes the Arrow-UDF kernels run warm. Must be in the env
    # BEFORE the JVM launches (python workers inherit it through the JVM).
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "268435456")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §2.2: let AQE size partitions by bytes (advisory size)
        # instead of splitting down to defaultParallelism — measured ~4%
        # across join/pipeline queries here, and the documented setting
        # for right-sizing reducers on clusters too. Env-overridable.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("GD_AQE_PARALLELISM_FIRST", "false"),
        )
        # guide §3.1: allow shuffled-hash join where its size conditions
        # hold (sort-merge stays available; AQE still rewrites at runtime).
        # Measured ~5% on the join-heavy families. Env-overridable.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("GD_PREFER_SMJ", "false"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # workers fork from the engine's daemon (module docstring)
        .config("spark.python.daemon.module", "rust_gd_spark._pydaemon")
    )
    conf = dict(extra_conf or {})
    # the daemon module (and every UDF kernel) must import in the workers
    # whatever directory the application starts in; a caller's own worker
    # path is kept
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (conf.get("spark.executorEnv.PYTHONPATH"), _PKG_PARENT) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_min_partitions(
    df,
    min_parts: int | None = None,
    target_bytes: int | None = None,
    cap_factor: int = 1,
):
    """Round-robin repartition iff the plan is under-partitioned.

    Small local parquet files arrive as ONE split (a single row group is
    unsplittable), serializing every downstream stage; on a real cluster
    the scan has thousands of splits and this is a no-op. Call at load
    boundaries, not per-operator.

    The default target is SIZE-DERIVED, not the fixed 2×cores it used to
    be (guide §2: make partitioning scale-adaptive — derive from input
    size — rather than a constant tuned for either local mode or the
    cluster): one partition per ``GD_SCAN_TARGET_BYTES`` of input file
    (default 128 KiB of parquet ≈ 1 MB of text), capped at
    defaultParallelism. Measured on the bench corpus: the old blanket
    2×cores spread a sub-MB table over 64 partitions and every downstream
    stage paid 64 task launches for micro-batches — kernel-heavy queries
    ran 2-2.5× slower than at the size-derived width, while at 10×
    the data the derived width grows right back to the core count.

    ``target_bytes`` overrides the per-partition target for callers whose
    per-row work is unusually dense (e.g. the CDC chunker's interpreted
    higher-order array expressions: measured ~3× faster at a 4× finer
    width on the same corpus) — the knob stays size-derived, never a
    fixed partition count.

    ``cap_factor`` lets those same dense callers oversubscribe the core
    cap (cap = cap_factor × defaultParallelism). Per-row compute that
    dominates the stage suffers doc-length skew at exactly one slice per
    core — 2-4 slices/core lets the scheduler smooth stragglers (guide
    §2.4). Still size-derived: a corpus below cap_factor × cap ×
    target_bytes of parquet never reaches the cap, and on a real cluster
    the scan has real splits and this path is a no-op.
    """
    if min_parts is None:
        sc = df.sparkSession.sparkContext
        cap = sc.defaultParallelism * max(1, cap_factor)
        target = target_bytes if target_bytes is not None else int(
            os.environ.get("GD_SCAN_TARGET_BYTES", str(128 << 10))
        )
        # Fallback when input sizes are unreadable (non-POSIX paths,
        # object stores): plain defaultParallelism, never the
        # oversubscribed cap — cap_factor is only ever earned by a
        # measured byte count, otherwise a corpus on hdfs:// would eat a
        # blanket 4x-cores round-robin shuffle here.
        min_parts = sc.defaultParallelism
        try:
            files = df.inputFiles()
            if files:
                # past cap × target the width is `cap` whatever the other
                # files add, so a many-file input stops stat-ing there
                nbytes = 0
                for f in files:
                    if nbytes >= cap * target:
                        break
                    if f.startswith("file:"):
                        f = f[len("file:"):]
                        while f.startswith("//"):
                            f = f[1:]
                    nbytes += os.path.getsize(f)
                min_parts = max(1, min(cap, -(-nbytes // target)))
        except OSError:
            pass
    if df.rdd.getNumPartitions() < min_parts:
        return df.repartition(min_parts)
    return df
