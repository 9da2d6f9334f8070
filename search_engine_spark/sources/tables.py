"""Table IO abstraction: Iceberg when a catalog is configured, Parquet otherwise.

The north rule targets partitioned **Iceberg** posting tables (snapshot
commits give us the resumable checkpoints in plans/checkpoint.py). The
sandbox has no Iceberg runtime jars, so we detect catalog availability at
runtime and fall back to Parquet directories with identical layout and
overwrite semantics. All call sites go through this module, so pointing the
engine at a real lakehouse is a config change, not a code change.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return any(
            k.startswith("spark.sql.catalog.") for k, _ in spark.sparkContext.getConf().getAll()
        )
    except Exception:
        return False


def write_table(
    df: DataFrame,
    target: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write to an Iceberg table name or a Parquet path (auto-detected)."""
    spark = df.sparkSession
    if iceberg_available(spark) and "/" not in target:
        writer = df.writeTo(target)
        if partition_cols:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_cols])
        (writer.createOrReplace() if mode == "overwrite" else writer.append())
        return
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(target)


def read_table(spark: SparkSession, target: str) -> DataFrame:
    if iceberg_available(spark) and "/" not in target:
        return spark.read.table(target)
    return spark.read.parquet(target)


def read_table_if_exists(spark: SparkSession, target: str) -> DataFrame | None:
    """``read_table``, or None when no table is at ``target`` (asked through
    Spark, not ``os.path``: it holds on every filesystem Spark reads)."""
    try:
        return read_table(spark, target)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        return None


def literal_row(spark: SparkSession, schema: str, *values) -> DataFrame:
    """One row of ``values`` typed by the DDL ``schema``, planned in the JVM
    (``spark.createDataFrame`` of local rows runs a Python worker task)."""
    fields = StructType.fromDDL(schema).fields
    return spark.range(1, numPartitions=1).select(
        *[F.lit(v).cast(f.dataType).alias(f.name) for f, v in zip(fields, values)]
    )
