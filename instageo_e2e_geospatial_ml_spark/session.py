"""SparkSession factory with scale-oriented defaults.

Local-mode knobs for the 32-core sandbox; on a real cluster the same conf
names apply (shuffle partitions sized to cores × 2-3, AQE on for runtime
coalesce + skew-join splitting, Arrow on for every pandas-UDF boundary).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app: str = "instageo_e2e_geospatial_ml_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if master.startswith("local[") and master != "local[*]":
        try:
            cores = int(master[len("local[") : -1])
        except ValueError:
            pass
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_input(df: DataFrame) -> DataFrame:
    """Spread rows across the cluster before a compute- or explode-heavy
    stage (guide §2.5 'input skew'): a small one-file parquet table scans
    as ONE task, and tokenize + explode or a per-row kernel then makes
    that task the whole job's critical path.

    The decision counts input FILES, not planned splits:
    repartition(defaultParallelism) when the frame reads from fewer files
    than that, else return it unchanged. So one large multi-split file is
    still repartitioned, while many small files are left alone. A frame
    with no input files (createDataFrame, a post-join intermediate) is
    sized by its RDD partition count instead; the RDD conversion cost
    only hits that in-memory path."""
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    current = len(files) if files else df.rdd.getNumPartitions()
    if current < target:
        return df.repartition(target)
    return df


TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str, tables=TESTDATA_TABLES) -> list[str]:
    """Register the standard parquet tables under `sf_dir` as temp views so
    users can drive the engine with plain spark.sql(...). Missing files are
    skipped; returns the views actually registered."""
    done = []
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).createOrReplaceTempView(t)
            done.append(t)
    return done
