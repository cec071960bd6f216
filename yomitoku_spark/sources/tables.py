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
