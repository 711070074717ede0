"""SparkSession factory with scale-oriented defaults.

Tuned for correctness-vs-DuckDB parity (UTC session timezone, ANSI off so
Spark matches DuckDB's permissive casts) and for 100 TB-scale habits that
also hold on local[32]: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow for every pandas interchange, bounded shuffle
partitions. Also the two frame helpers whose choice depends on the
session: ``local_frame`` (small driver data as a LocalRelation) and
``truncate_lineage`` (materialize a frame the way the deployment allows).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "vectrekker-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real cluster the
    master/resource settings come from spark-submit; everything set here is
    master-agnostic.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # Local-mode default: cpus/2 post-shuffle partitions (AQE coalesces up,
    # never splits — fewer initial partitions cut tiny-query task overhead).
    # On a real cluster this is overridden to O(cluster cores × 2-3) via
    # extra_conf; at 100 TB you size by target partition bytes, not cores.
    shuffle_partitions = shuffle_partitions or max(16, cpus // 2)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- correctness / parity ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        # --- adaptive execution: runtime re-plan, skew handling, coalesce ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom-filter join pruning and dynamic partition pruning
        # ride the Spark 4 defaults (bloomFilter.enabled=true, creation side
        # ≤10 MB, application side ≥10 GB scan): they fire exactly in the
        # big-scan regime this engine targets and stay out of the way on
        # test-sized data — deliberately NOT overridden here.
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # --- Python interchange is always Arrow-batched ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- broadcast: dims up to 64 MB go map-side (region/nation/queries) ---
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # --- driver-side Python API overhead (r15, guide §5: the driver
        # should do almost no work) ---
        # PySpark's DataFrame-debugging wrapper adds, to EVERY DataFrame /
        # functions API call, a getActiveSession + conf.get + origin
        # set/clear (3-4 py4j round trips) plus a Python stack walk, purely
        # to enrich error messages with the user-code call site. Profiled
        # at ~1,800 extra py4j round trips for one registered-query
        # construction (d24: 0.41 s → 0.15 s build with this off); across
        # the 50-query bench, construction was ~7 s of the ~21 s total.
        # Scale-independent driver-CPU cost — a real cluster's driver pays
        # the same tax. Error BEHAVIOR is unchanged (same exceptions, same
        # classes); only the optional call-site annotation is dropped.
        # Not a static conf, but PySpark reads it once per PROCESS and caches
        # it: the session active at the first DataFrame API call decides. If
        # that is another session (e.g. a plain getOrCreate() one, default true),
        # this setting has no effect for the rest of the process.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Every Python task (UDF, mapInPandas, a createDataFrame(list) scan)
        # starts with importlib.invalidate_caches(), which makes each
        # zipimporter re-read its archive's central directory — pyspark.zip's
        # 1,328 entries, 16 reads per task, CPU-bound: profiled at 35-190 ms
        # per task. The worker_daemon wrapper re-reads an archive only when
        # its (mtime, size, inode) changed: a one-row Python RDD job fell
        # 309 → 98 ms on a 4-core box (JVM one-row job: ~90 ms).
        # Imports resolve exactly as before. The daemon module must be
        # importable by the workers whatever the driver's cwd, hence the
        # package root on the executor PYTHONPATH (merged with Spark's own).
        .config("spark.python.daemon.module", "vectrekker_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # quieter logs for test runs
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list, schema: str | StructType) -> DataFrame:
    """Small driver-side rows as a DataFrame whose plan is a LocalRelation.

    ``spark.createDataFrame(list)`` plans a LogicalRDD over a Python RDD, so
    every action that reads it runs Python-worker tasks — four even for an
    empty list. An Arrow table goes to the JVM whole and, under
    ``spark.sql.execution.arrow.localRelationThreshold``, becomes a
    LocalRelation that no Python task reads (one-row 1536-dim query: 503 →
    44 ms to collect on a 4-core box). The Arrow-table path has no silent
    fallback to the Python RDD. ``schema`` fixes the column types exactly
    (DDL string or StructType)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def truncate_lineage(df: DataFrame) -> DataFrame | None:
    """Materialize ``df`` and return a frame that reads the result, not the
    plan, or None where the deployment offers no safe way to.

    - local master → ``localCheckpoint()``: driver and executors share the
      process, so no executor loss can lose the blocks; they are freed with
      their RDD once the returned frame is dropped and collected;
    - a configured checkpoint dir → reliable ``checkpoint()``: survives an
      executor loss, data in the checkpoint dir;
    - otherwise None. ``localCheckpoint`` truncates lineage, so on a
      cluster an executor loss would fail every later action where
      recomputing would have succeeded. Callers that can release what they
      hold fall back to ``cache()``; the others keep their plan as is — a
      ``cache()`` nobody unpersists leaks one cache entry per call."""
    sc = df.sparkSession.sparkContext
    if sc.master.startswith("local"):
        return df.localCheckpoint()
    if sc.getCheckpointDir() is not None:
        return df.checkpoint()
    return None
