"""Transcripts table IO + skew-aware partitioning.

Production input is an Iceberg table (north rule); this sandbox image
has no Iceberg jars, so the reader degrades to parquet with the same
schema and the Iceberg path is import-gated. Partition pruning /
predicate pushdown work identically through either DSv2 source —
filters on conv_id/ts stay in the scan (verified in PLANS.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yomitoku_spark.datagen import TRANSCRIPTS_SCHEMA


def read_transcripts(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Read the transcripts table. fmt='iceberg' requires the Iceberg
    runtime jars on the classpath (production clusters); parquet is the
    sandbox-equivalent with identical schema and pushdown behavior."""
    if fmt == "iceberg":
        try:
            return spark.read.format("iceberg").load(path)
        except Exception as e:  # jars absent in this image
            raise RuntimeError(
                "iceberg runtime not on classpath; add "
                "org.apache.iceberg:iceberg-spark-runtime or use fmt='parquet'"
            ) from e
    return spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(path)


def salt_repartition(df: DataFrame, n_partitions: int) -> DataFrame:
    """Skew defusal (north rule / SURVEY §4.1): the unit of work is the
    TURN, so partition by hash(conv_id, turn_idx) — a conversation with
    10^6 turns spreads over every partition instead of pinning one
    executor. Only the final ordered write groups by conv_id."""
    return df.repartition(n_partitions, F.xxhash64("conv_id", "turn_idx"))


def write_result(result: DataFrame, path: str) -> None:
    """Stable (conv_id, turn_idx) ordered output (north rule): range
    partition on the key so files are globally ordered, sort within."""
    result.repartitionByRange("conv_id", "turn_idx").sortWithinPartitions(
        "conv_id", "turn_idx"
    ).write.mode("overwrite").parquet(path)


def write_bucketed(
    df: DataFrame, table: str, keys: list[str], n_buckets: int = 16
) -> None:
    """Persist a table bucketed (and sorted) by ``keys`` so later
    equi-joins and aggregations on those keys are CO-LOCATED — the scan
    reports the bucketing to Catalyst and the join plans with no
    Exchange on either bucketed side (SURVEY §4: pre-shuffled layout is
    the 100 TB lever for repeated joins; the cluster analog is an
    Iceberg/Hive bucketed table). Spark bucketing requires the table
    catalog (saveAsTable), not a bare path."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )


def bucketed_join(spark: SparkSession, left: str, right: str, keys: list[str]) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket keys —
    shuffle-free by construction (tests assert the plan has zero
    Exchange nodes)."""
    return spark.table(left).join(spark.table(right), keys)
