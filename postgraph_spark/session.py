"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings are
what we would ship as cluster defaults (AQE on, adaptive coalescing, skew
join handling, Arrow for the Python boundary). Shuffle partition count is
sized to the local core count — on a real cluster it should be set to
2-3x total executor cores or left to AQE's initial-partition heuristic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: largest default driver heap; SPARK_GRAFT_DRIVER_MEM overrides it
_HEAP_CAP_MB = 4096


def _default_driver_mem() -> str:
    """A quarter of physical memory, at most _HEAP_CAP_MB: the JVM's
    heap plus its off-heap and the Python workers then fit on a
    machine other processes share."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return f"{_HEAP_CAP_MB}m"
    return f"{min(_HEAP_CAP_MB, total_kb // 1024 // 4)}m"


def get_spark(app_name: str = "postgraph_spark", *, cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    AQE handles runtime re-planning (partition coalescing, skew joins,
    broadcast conversion) — essential at 100 TB where static planning
    guesses wrong. ``spark.sql.shuffle.partitions`` is only the pre-AQE
    ceiling locally.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # local-mode Python workers inherit PYTHONPATH, not the driver's
    # sys.path — make this package importable on workers regardless of
    # the driver's cwd (module-level UDFs pickle by reference)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert at load (sources.relational)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # durable graph tables store the properties VARIANT (pv) as its
        # plain (metadata, value) parquet group: Spark reads it back as a
        # VARIANT through the table schema, and parquet readers that
        # predate the VARIANT logical type can still open the files
        .config("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
        # for the same readers: every file of a label stores pv as that
        # one unshredded group. Shredding inferred per file from its own
        # rows gives two appends with different documents two physical
        # schemas in one label directory, which pyarrow refuses to read
        .config("spark.sql.variant.inferShreddingSchema", "false")
        # per-Column-op call-site capture (error-message sugar) walks the
        # Python stack on EVERY F.* call — measurable driver overhead for
        # this engine's large generated expression trees
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
