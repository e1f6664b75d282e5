"""SparkSession builder with scale-oriented defaults.

Single place for conf so bench runs at two parallelism levels are
identical apart from master (local[8] vs local[32] — the sandbox
stand-in for N vs 4N executors).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fhir-owl-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing + skew-join splitting. The north rule also
        # demands explicit skew handling (operators/skew.py) — both are on.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cpus))
        # Arrow for all pandas-UDF stages (input_hint: vectorized, no per-row Python)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep timestamps deterministic across JVM/Python/DuckDB
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when the planner's size
        # conditions hold, and let AQE rewrite SMJ→SHJ when every
        # post-shuffle partition is under the threshold (guide §3.1):
        # skips the per-partition sorts on the graph/setsim join chains
        # (triangles on the 5M-edge anchor measured −27%). Threshold is
        # deliberately conservative — concurrent tasks each hold one
        # build map, so cap ≈ cores × threshold must fit executor
        # memory; parameterized for cluster-side tuning.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "128m"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema):
    """Arrow-backed local relation from driver rows.

    createDataFrame over a plain Python list parallelizes PICKLED rows:
    every later action re-reads them through a Python worker round trip
    (~0.3s/job on 32 cores even for 25 rows). Routing through pandas
    lets the session's Arrow path ship JVM-readable batches instead —
    measured ~3x cheaper per action, identical schema (the explicit
    StructType is passed through) and values (dtype=object keeps None
    as null). The result is a LocalRelation: a collect, or a bounded
    ``limit(n).collect()``, of it runs no Spark job."""
    import pandas as pd

    if not rows:
        # an empty pandas frame takes the parallelized-RDD path; the
        # optimizer turns LIMIT 0 into an empty LocalRelation
        return spark.createDataFrame([], schema).limit(0)
    pdf = pd.DataFrame(rows, columns=[f.name for f in schema.fields], dtype=object)
    return spark.createDataFrame(pdf, schema)
