"""SparkSession builder with the engine's standard configuration.

Spec: BASELINE.json:15 mandates the pyspark.sql DataFrame API with
vectorized pandas/Arrow UDFs; BASELINE.json:14 mandates explicit
partitioning/shuffle/skew handling. Everything below is public Spark
configuration — AQE on, Arrow on, UTC session time. ``local_frame`` is
the one way the engine turns driver-side rows into a DataFrame.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

# Tuned for the sandbox (local[N], 32 cores). On a real cluster these are
# overridden at spark-submit time; shuffle partitions should be sized
# ~ input_bytes / 128MB and AQE coalesces down from there.
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "64",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bigger Arrow batches amortize the JVM<->Python transfer per the
    # vectorized-UDF cost model (PAPERS.md:6); regex work is per-row cheap,
    # so fewer/larger batches win.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "32768",
    "spark.sql.parquet.compression.codec": "snappy",
    # INT64 micros, not Spark's legacy INT96: INT96 timestamps carry no
    # parquet min/max statistics, which silently disables row-group
    # predicate pushdown AND the warehouse's footer-bounds file skipping
    # (read_pruned) on every ts-ranged scan. Iceberg mandates INT64
    # timestamps too, so this also matches the real-backend layout.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Speculative execution stays OFF: duplicate task attempts plus
    # side-effecting sink writes would break exact per-sink counts
    # (BASELINE.json:2); idempotence comes from the commit log instead.
    "spark.speculation": "false",
    # committer v2: task commits move files directly, job commit is O(1)
    # instead of a serial driver-side rename pass. Safe here because data
    # visibility is governed by the warehouse commit log, not by the
    # presence of files (SURVEY.md §1.4).
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    "spark.driver.memory": os.environ.get("WATCHMAN_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "watchman_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). On a cluster, pass ``master=None`` and let spark-submit decide.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """A table built on the driver (dimensions, metadata listings, empty
    reads) as an Arrow-backed ``LocalRelation``.

    ``rows`` are tuples in ``schema`` order; a DDL string schema is parsed
    exactly as ``createDataFrame`` parses it. A list passed straight to
    ``createDataFrame`` becomes a Python RDD, so every job that reads it —
    each broadcast of a 5-row dimension included — starts Python-worker
    tasks. A ``LocalRelation`` is read by JVM-only tasks: broadcasting a
    5-row dimension on ``local[4]`` took 250-520 ms from a Python RDD and
    10-18 ms from a ``LocalRelation``. The Arrow table is typed by the
    Spark schema, so column order, types and nullability are the schema's.
    """
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    names = arrow_schema.names
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema=schema)
