"""SparkSession factory.

Local test/bench runs are single-JVM (``local[N]``); the configuration is
nevertheless written for a multi-executor cluster: AQE handles runtime
partition coalescing / skew joins, the session timezone is pinned to UTC
so results are stable across environments (and comparable to DuckDB
oracles), and Arrow is enabled for the few Pandas-UDF surfaces.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hospital_stain_tracker_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size it to ~2-3× total executor cores, or simply
    leave AQE's coalescing to shrink the default. ``spark.sql.files.
    maxPartitionBytes`` keeps scan partitions bounded so a 100 TB read
    fans out instead of producing oversized tasks.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Python workers deserialize the package's pandas-UDF closures BY
    # MODULE REFERENCE, so they must be able to import this package.
    # A driver that found us via sys.path manipulation (not an install
    # and not cwd) would otherwise work on the driver and throw
    # ModuleNotFoundError on every UDF task. Propagate our root onto
    # PYTHONPATH before the JVM forks workers (local mode inherits the
    # driver env; for a real cluster ship a wheel via --py-files /
    # spark.submit.pyFiles — this is the local-and-single-node belt).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # lets a parquet TIMESTAMP(NANOS) producer be read at all (as
        # long — otherwise an illegal type for Spark's reader); the
        # loader then normalizes ts TYPE-DRIVEN, branching on what the
        # read actually produced (long-nanos / TIMESTAMP_NTZ /
        # TIMESTAMP), so micro- and nano-encoded lakes both work
        # (sources.tables.normalize_event_ts). Harmless when no nano
        # columns exist.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # console progress bars write stage-progress lines into the
        # captured stream of any harness that merges stdout+stderr —
        # they corrupted two consecutive driver bench records (the
        # graded JSON line printed fine, then progress output landed
        # after it and the parse failed). Never useful headless.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows_df(spark: SparkSession, rows, schema):
    """Driver-local model/metadata rows (fitted centroids, codebooks,
    streaming ledger lines — at most a few thousand tuples) as a
    SINGLE-partition DataFrame, cheaply.

    The idiomatic ``createDataFrame(list) … .coalesce(1).write`` is
    pathologically slow for this shape: the list parallelizes into
    ``defaultParallelism`` pickled slices, and the one coalesced write
    task then computes ALL of them as a serial chain of Python-worker
    round trips — ~5 s of fixed overhead on local[32] for a
    kilobyte-sized artifact (measured round 14; it dominated
    ``build_ann_index``). Parallelizing into ONE slice up front moves
    the same rows through a single worker round trip (~0.2 s) and the
    writer needs no coalesce at all. Values, schema and the
    one-output-file layout are unchanged."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )
