"""SparkSession factory with scale-appropriate defaults.

Local mode is the test harness; the conf is written for a real multi-
executor cluster (AQE on, skew-join on, Arrow batching tuned for span
payloads) so the same job scales by changing only master/executor flags.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

_DRIVER_MEM_CAP_GB = 24


def driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for a session this factory launches:
    ``SPARK_DRIVER_MEM`` when set, else ~40% of physical memory in whole
    GiB (at least 1g, at most 24g). A fixed 24g heap outgrows a 15 GB
    host, where the JVM grows until the kernel OOM-kills it."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, ValueError, OSError):
            return f"{_DRIVER_MEM_CAP_GB}g"
    gb = int(phys_bytes * 0.4) >> 30
    return f"{min(max(gb, 1), _DRIVER_MEM_CAP_GB)}g"


def get_spark(
    app_name: str = "ocr_search_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` → ``local[*]``.  ``shuffle_partitions`` defaults to the
    core count: at 100 TB on a real cluster this should instead be
    ~2-3× total executor cores (or left to AQE coalescing from a high
    initial value) — the point is it is never the Spark default 200 for
    tiny local data nor 200 for a 1000-executor cluster.
    """
    # Master resolution: an explicit ``cores`` arg or SPARK_GRAFT_CPUS
    # pins local[N] (the test/bench harness). Under spark-submit the
    # JVM gateway already runs (PYSPARK_GATEWAY_PORT is exported by
    # PythonRunner) and carries --master in its conf — setting
    # .master() here would silently override the cluster deployment
    # the north rule requires, so in that case we set nothing and let
    # the submitted conf win. Standalone library use keeps local[N].
    explicit = cores is not None or bool(os.environ.get("SPARK_GRAFT_CPUS"))
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    master: str | None = f"local[{cores}]"
    if submitted and not explicit:
        master = None
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # Executor Python workers are separate processes that do NOT inherit the
    # driver's sys.path — make this package importable on them. On a real
    # cluster this is `spark-submit --py-files` (BASELINE.json north_rule);
    # for local/driver-API use, prepending the package root to PYTHONPATH
    # before the JVM starts is the equivalent.
    pkg_root = str(Path(__file__).resolve().parents[1])
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else "")
        )

    builder = (
        (SparkSession.builder.master(master) if master else SparkSession.builder)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Span payloads are fat rows; keep Arrow batches bounded so one
        # batch of mega-docs cannot blow executor memory (SURVEY §4.2.1).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def literal_df(spark: SparkSession, values, colname: str, dtype: str = "string"):
    """A DataFrame of program-literal values whose physical plan is
    PROVABLY input-size-independent (Range(1) + explode of a literal
    array), so it is always safe on the build side of a broadcast join.

    ``spark.createDataFrame(list)`` parallelizes an RDD: the plan shows
    ``Scan ExistingRDD`` — an opaque leaf that a plan audit (and a human
    reviewer) cannot distinguish from corpus data. Literal query terms,
    quantile probes and calibration grids should be visibly literal in
    the plan; tools/plan_lint.py accepts exactly this shape."""
    from pyspark.sql import functions as F

    if not values:
        return spark.createDataFrame([], f"{colname} {dtype}")
    arr = F.array(*[F.lit(v).cast(dtype) for v in values])
    return spark.range(1).select(F.explode(arr).alias(colname))
