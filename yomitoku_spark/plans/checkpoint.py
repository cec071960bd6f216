"""Resumable extraction: per-bucket checkpoint + lineage + metrics.

North-rule requirement (BASELINE.json): the 10^12-turn job must be
resumable from checkpoint with per-partition lineage and extraction-
metric rows. Design:

* work is bucketed by ``pmod(xxhash64(conv_id, turn_idx), n_buckets)``
  — TURN-grain, so a single hot conversation spreads across all
  buckets (long-conversation skew defusal; SURVEY.md §4.1);
* results land in a parquet table partitioned by ``wave`` (its first
  bucket; the bucket is the unit of state), each wave overwriting its
  own ``wave=`` directory — each write task writes one file per wave,
  and re-running a wave is an idempotent replace, never a double-count;
* the state table gains one row per committed bucket with the bucket
  count, row count, metric sums (blocks kept/dropped, chars emitted —
  observed on the write's own pass, exactly-once per committed
  partition), an attempt timestamp, and a lineage string (code
  version + a digest of the sorted input file list);
* on restart, done buckets are skipped and only the remainder runs; a
  restart with another bucket count is refused.

On a real cluster the state table would be Iceberg (atomic appends);
the parquet append used here has the same layout and the same
resume semantics for a single writer.

(The reference has no analog — it reprocesses files from scratch,
cli/main.py:538-549; resumability is what 10^12 turns forces.)
"""

from __future__ import annotations

import hashlib
import os
import time

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from yomitoku_spark import __version__
from yomitoku_spark.plans.pipeline import RESULT_SCHEMA, extract

STATE_SCHEMA = (
    "bucket int, n_buckets int, status string, n_turns bigint, blocks_kept bigint, "
    "blocks_dropped bigint, chars_emitted bigint, attempt_ts double, lineage string"
)


def _state_dir(output_dir: str) -> str:
    return os.path.join(output_dir, "_checkpoint")


def _result_dir(output_dir: str) -> str:
    return os.path.join(output_dir, "result")


def _fs_path(spark: SparkSession, path: str):  # the path's own FS, so any URI works
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def _done_rows(spark: SparkSession, output_dir: str) -> set:
    """Distinct ``(bucket, n_buckets)`` of the done rows, deduplicated on the
    driver: one state row per bucket needs no shuffle. A missing state dir
    means nothing is done; any other read error propagates, since treating an
    unreadable state as empty would redo committed buckets and their state rows."""
    fs, path = _fs_path(spark, _state_dir(output_dir))
    if not fs.exists(path):
        return set()
    # with the schema: a state dir holding no committed file reads as empty
    state = spark.read.schema(STATE_SCHEMA).parquet(_state_dir(output_dir))
    return set(state.filter(F.col("status") == "done").select("bucket", "n_buckets").collect())


def done_buckets(spark: SparkSession, output_dir: str) -> set[int]:
    """Buckets with a done row."""
    return {r.bucket for r in _done_rows(spark, output_dir)}


def run_resumable(
    transcripts: DataFrame,
    output_dir: str,
    n_buckets: int = 32,
    wave_size: int = 8,
    max_waves: int | None = None,
) -> int:
    """Run extraction bucket-wave by bucket-wave, checkpointing after
    each wave. Returns the number of buckets processed this invocation.
    Raises ``ValueError`` if the output was started with another
    ``n_buckets``: its rows hash to other buckets, so resuming would
    write them twice; also for a result still partitioned by ``bucket``,
    which could not be read back beside ``wave=`` partitions.

    ``max_waves`` exists for fault-injection tests (stop early, then
    call again to resume)."""
    spark = transcripts.sparkSession
    done = _done_rows(spark, output_dir)
    started = {r.n_buckets for r in done} - {n_buckets}
    if started:
        raise ValueError(f"cannot resume {output_dir} with n_buckets={n_buckets}: its done "
                         f"rows have n_buckets={'/'.join(map(str, started))}")
    fs, result = _fs_path(spark, _result_dir(output_dir))
    if fs.globStatus(result.suffix("/bucket=*")):
        raise ValueError(f"cannot resume {output_dir}: its result is partitioned by bucket; "
                         "restart into a fresh output directory")
    todo = sorted(set(range(n_buckets)) - {r.bucket for r in done})
    files = "\n".join(sorted(transcripts.inputFiles())).encode()
    lineage = f"yomitoku_spark-{__version__} input:{hashlib.sha256(files).hexdigest()[:16]}"

    bucketed = transcripts.withColumn("bucket", _bucket_expr(n_buckets))
    # n_turns and the metric sums, in STATE_SCHEMA order
    vals = ["1", "blocks_kept", "blocks_dropped", "chars_emitted"]

    processed = 0
    waves = [todo[i : i + wave_size] for i in range(0, len(todo), wave_size)]
    for wi, wave in enumerate(waves):
        if max_waves is not None and wi >= max_waves:
            break
        part = bucketed.filter(F.col("bucket").isin(wave))
        res = extract(part.drop("bucket")).withColumn("bucket", _bucket_expr(n_buckets))
        # Exactly-once: Spark applies a result task's accumulator updates once per
        # partition and drops a failed attempt's. That needs no Exchange between observe
        # and the write: extract has none, and a caller's repartition sits below it.
        # One SQL string per aggregate: half the build cost of a Column tree via py4j.
        obs = Observation()
        res = res.observe(obs, *(F.expr(f"sum(CASE WHEN bucket = {b} THEN {v} END) AS `{b}_{i}`")
                                 for b in wave for i, v in enumerate(vals)))
        # Per-wave idempotent replace. Waves run in sorted order and each appends its
        # state in one file, so the done set is a prefix of range(n_buckets): the first
        # wave not done starts at the same bucket on every resume, whatever its
        # wave_size, and its overwrite of the whole wave=<that bucket> directory
        # replaces any rows a crash left between the result commit and the state
        # append, even when this wave's own buckets are empty.
        res.drop("bucket").write.mode("overwrite").parquet(
            f"{_result_dir(output_dir)}/wave={wave[0]}")
        got, now = obs.get, time.time()
        # an empty bucket's sums are null; it still needs a done marker
        rows = [(b, n_buckets, "done", *(got[f"{b}_{i}"] or 0 for i in range(len(vals))),
                 now, lineage) for b in wave]
        # via pandas: Arrow needs no Python worker (a list of tuples does);
        # one state file per wave
        state = spark.createDataFrame(pd.DataFrame(rows), STATE_SCHEMA).coalesce(1)
        state.write.mode("append").parquet(_state_dir(output_dir))
        processed += len(wave)
    return processed


def _bucket_expr(n_buckets: int) -> F.Column:
    # xxhash64 is TYPE-sensitive (int vs bigint hash differently), and
    # extract() emits turn_idx as int — so the input-side filter and the
    # output-side observe MUST hash the same types, or a row selected by
    # one bucket has its metrics counted in another bucket's state row.
    return F.pmod(
        F.xxhash64(F.col("conv_id").cast("string"), F.col("turn_idx").cast("int")),
        F.lit(n_buckets),
    ).cast("int")


# with the declared schemas: a run whose input has no rows commits no
# result file, and schema inference over an empty directory fails
def read_result(spark: SparkSession, output_dir: str) -> DataFrame:
    return (
        spark.read.schema(RESULT_SCHEMA + ", wave int")
        .parquet(_result_dir(output_dir))
        .drop("wave")
    )


def read_state(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.schema(STATE_SCHEMA).parquet(_state_dir(output_dir))
