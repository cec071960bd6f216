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

Each wave is one Spark job: the result write, with the metrics observed
on it and no ``_SUCCESS`` marker (the state row is the commit marker,
and no reader looks for one). The driver then commits the wave's state
rows itself: it writes them as one parquet file, through the state
path's own FileSystem, under a ``_``-prefixed name that Spark's reader
skips, and renames it to ``part-<first bucket>-<uuid>.parquet``. A crash
before the rename leaves only an ignored temp file, so the resume
redoes the wave. On a real cluster the state table would be Iceberg
(atomic appends); the rename used here has the same layout and the
same resume semantics for a single writer.

(The reference has no analog — it reprocesses files from scratch,
cli/main.py:538-549; resumability is what 10^12 turns forces.)
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

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

    bucket = _bucket_sql(n_buckets)
    # n_turns and the metric sums, in STATE_SCHEMA order
    vals = ["1", "blocks_kept", "blocks_dropped", "chars_emitted"]
    state_schema = to_arrow_schema(StructType.fromDDL(STATE_SCHEMA))
    state_fs, state_dir = _fs_path(spark, _state_dir(output_dir))

    processed = 0
    waves = [todo[i : i + wave_size] for i in range(0, len(todo), wave_size)]
    for wi, wave in enumerate(waves):
        if max_waves is not None and wi >= max_waves:
            break
        res = extract(transcripts.filter(_bucket_expr(n_buckets).isin(wave)))
        # Exactly-once: Spark applies a result task's accumulator updates once per
        # partition and drops a failed attempt's. That needs no Exchange between observe
        # and the write: extract has none, and a caller's repartition sits below it.
        # One SQL string per aggregate: half the build cost of a Column tree via py4j.
        # Each hashes the output's keys with the filter's bucket text.
        obs = Observation()
        res = res.observe(obs, *(F.expr(f"sum(CASE WHEN {bucket} = {b} THEN {v} END) AS `{b}_{i}`")
                                 for b in wave for i, v in enumerate(vals)))
        # Per-wave idempotent replace. Waves run in sorted order and each commits its
        # state in one file, so the done set is a prefix of range(n_buckets): the first
        # wave not done starts at the same bucket on every resume, whatever its
        # wave_size, and its overwrite of the whole wave=<that bucket> directory
        # replaces any rows a crash left between the result commit and the state
        # commit, even when this wave's own buckets are empty. The state row, not a
        # _SUCCESS file, marks the wave committed.
        res.write.mode("overwrite").option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
        ).parquet(f"{_result_dir(output_dir)}/wave={wave[0]}")
        got, now = obs.get, time.time()
        # an empty bucket's sums are null; it still needs a done marker
        rows = [(b, n_buckets, "done", *(got[f"{b}_{i}"] or 0 for i in range(len(vals))),
                 now, lineage) for b in wave]
        _commit_state(state_fs, state_dir, rows, state_schema, wave[0])
        processed += len(wave)
    return processed


def _commit_state(fs, state_dir, rows: list[tuple], schema: pa.Schema, first: int) -> None:
    """Write one wave's state rows as one parquet file: to a ``_``-prefixed
    temp name, which Spark's reader skips, then renamed into place."""
    buf = pa.BufferOutputStream()
    pq.write_table(pa.table(list(zip(*rows)), schema=schema), buf)
    name = f"{first:05d}-{uuid.uuid4().hex}.parquet"
    tmp, final = state_dir.suffix(f"/_tmp-{name}"), state_dir.suffix(f"/part-{name}")
    out = fs.create(tmp)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise OSError(f"could not rename {tmp} to {final}")


def _bucket_sql(n_buckets: int) -> str:
    # xxhash64 is TYPE-sensitive (int vs bigint hash differently), and
    # extract() emits turn_idx as int — so the input-side filter and the
    # output-side observe MUST hash the same types, or a row selected by
    # one bucket has its metrics counted in another bucket's state row.
    # Both sides use this one text, whose casts fix the types.
    return (f"CAST(pmod(xxhash64(CAST(conv_id AS STRING), CAST(turn_idx AS INT)), "
            f"{n_buckets}) AS INT)")


def _bucket_expr(n_buckets: int) -> F.Column:
    return F.expr(_bucket_sql(n_buckets))


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
