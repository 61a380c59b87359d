"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions sized to cores (not the 200 default), AQE on for runtime
re-planning (skew-join splitting, partition coalescing), Arrow enabled for
the pandas interchange paths. On a real cluster the same settings hold,
with ``spark.sql.shuffle.partitions`` scaled to ~2-3x total cores and AQE
coalescing partitions after each shuffle.

The engine serves its workloads as many small queries in one session, so
the generated-class cache is sized to hold their working set: a plan
shape compiles once per session, and every later query of that shape
reuses the class (see ``CODEGEN_CACHE_ENTRIES``). Relations the driver
builds from Python values go through ``local_frame``, which keeps them on
the JVM as a ``LocalTableScan``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: ``spark.sql.codegen.cache.maxEntries`` (a static conf, so it is set
#: here, before the session starts). Spark's default of 100 is smaller
#: than every working set the engine runs, so the least-recently-used
#: cache cycled through them and every warm pass recompiled almost all
#: of its generated classes. Classes a warm pass compiles under the
#: default, measured with Spark's ``CodegenMetrics`` on 4 cores: ~228
#: for the benchmark's analytics pass and ~224 for a lakehouse ingest
#: cycle. The largest mix is a full registry pass at sf0.001 (every
#: ``__spark_entry__.queries()`` entry plus the matview fixture): a
#: cold session with an unbounded cache compiles ~3,240 distinct
#: classes, ~310 of which inline per-call literals and are never
#: looked up again. The cap is the next power of two; least-recently-
#: used eviction drops those one-off classes first.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(app_name: str = "cl_data_frame_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(min(int(cpus) if cpus.isdigit() else 32, 64)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # runtime bloom-filter injection on the probe side of shuffle
        # joins: the standard semi-join-reduction win at 100 TB.
        # (spark.sql.optimizer.runtimeFilter.semiJoinReduction was also
        # tried and DEADLOCKS this Spark build's local mode — leave it to
        # per-job opt-in on a real cluster.)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # skew-join splitting is part of the 100 TB posture
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # ParallelGC: measured ~5x lower wall-clock variance than G1 on
        # allocation-heavy array expressions (G1's concurrent cycles steal
        # cores from 32-wide stages); big code cache keeps every
        # whole-stage-codegen method JIT-compiled across many queries
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC -XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A relation built on the driver: *rows* (tuples in *schema*'s
    field order; *schema* a ``StructType`` or a DDL string) sent to the
    JVM as one Arrow table, which plans a ``LocalTableScan``.
    ``spark.createDataFrame(<list>, schema)`` instead plans a pickled
    Python RDD (``Scan ExistingRDD``) that runs one Python task per
    default-parallelism slice in every job that scans it.

    Arrow reads a naive ``datetime`` as UTC where the list path reads
    it in the OS zone, so arbitrary user values stay on the list
    path."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)
