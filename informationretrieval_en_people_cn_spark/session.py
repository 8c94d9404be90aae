"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def scaled(df, factor: int = 1):
    """Ensure a DataFrame has at least cores×factor partitions.

    Small-SF test files arrive as ONE parquet row-group → one task →
    the expensive tokenize stage would run on one core regardless of
    cluster size.  At real scale inputs already carry enough splits and
    this is a no-op (no shuffle added).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_rows_df(spark: SparkSession, rows, schema: str):
    """Tiny driver-side relation (plans, stats rows, fast-path results).

    Rows are positional: each row is a tuple whose i-th value fills the
    schema's i-th column, so every row must have exactly as many values
    as the schema has columns (checked; a short or long row raises
    ``ValueError`` instead of shifting or dropping values).

    ``spark.createDataFrame(list_of_rows)`` parallelizes into
    ``defaultParallelism`` slices — a 32-task job to ship a handful of
    rows (measured ~0.3 s per occurrence on local[32]; optimization
    guide §1.1: scheduler overhead, not compute).  Routing the rows
    through one Arrow table keeps the relation a driver-local
    ``LocalRelation``, so collecting it starts no Spark job — also when
    it is empty, where a pandas frame would fall back to an RDD.
    int64/float64/str/bool round-trip bit-identically through Arrow."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T._parse_datatype_string(schema)
    width = len(struct.fields)
    for row in rows:
        if len(row) != width:
            raise ValueError(
                f"row {row!r} has {len(row)} values; schema {schema!r} "
                f"has {width} columns"
            )
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [[] for _ in range(width)]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema=struct)


def get_spark(
    app_name: str = "ir-engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local session for tests/bench; on a real cluster use spark-submit
    --py-files with the same configs (nothing here is local-only)."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 32)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.adaptive.enabled",
            os.environ.get("SPARK_ADAPTIVE", "true"),
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", os.environ.get("ARROW_BATCH", "1024"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PARTITION_BYTES", "134217728"),
        )
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_FILES_OPEN_COST", "4194304"),
        )
        .getOrCreate()
    )
