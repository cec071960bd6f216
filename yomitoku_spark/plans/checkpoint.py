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
  count, row count, metric sums (blocks kept/dropped, chars emitted),
  an attempt timestamp, and a lineage string (code version + a digest
  of the sorted input file list);
* on restart, done buckets are skipped and only the remainder runs; a
  restart with another bucket count is refused.

Each wave is one Spark job, the result write, whose Arrow kernel also
counts each bucket's turns and metric sums into one accumulator (the
bucket is hashed once, on the input side). Spark merges a result task's
accumulator updates on the driver once per partition and drops a failed
attempt's, so the counts are exactly-once. The driver then commits the
state rows as one parquet file through the state path's own FileSystem:
a ``_`` temp file, which Spark's reader skips, renamed to ``part-<first
bucket>-<uuid>.parquet``, the commit marker (no ``_SUCCESS`` is written).
A crash before the rename leaves the wave to be redone. The done set is
read back on the driver with pyarrow. On a cluster the state table would
be Iceberg (atomic appends), with the same resume semantics.

(The reference has no analog — it reprocesses files from scratch,
cli/main.py:538-549; resumability is what 10^12 turns forces.)
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from yomitoku_spark import __version__
from yomitoku_spark.plans.pipeline import RESULT_SCHEMA, _arrow_stage, _turns, extract_batch

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


def _done_rows(spark: SparkSession, output_dir: str) -> set[tuple[int, int]]:
    """Distinct ``(bucket, n_buckets)`` of the done rows, read on the driver
    from every state file not named ``_*`` or ``.*`` (Spark's reader skips
    those). A missing state dir means nothing is done; any other read error
    propagates, since treating an unreadable state as empty would redo
    committed buckets."""
    fs, path = _fs_path(spark, _state_dir(output_dir))
    done = set()
    for st in fs.globStatus(path.suffix("/[!_.]*")) or []:
        stream = fs.open(st.getPath())
        try:
            data = pa.BufferReader(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
            rows = pq.read_table(data).to_pylist()
        except pa.ArrowInvalid as e:
            raise ValueError(f"unreadable state file {st.getPath()}: {e}") from e
        finally:
            stream.close()
        done.update((r["bucket"], r["n_buckets"]) for r in rows if r["status"] == "done")
    return done


def done_buckets(spark: SparkSession, output_dir: str) -> set[int]:
    """Buckets with a done row."""
    return {b for b, _ in _done_rows(spark, output_dir)}


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
    started = {n for _, n in done} - {n_buckets}
    if started:
        raise ValueError(f"cannot resume {output_dir} with n_buckets={n_buckets}: its done "
                         f"rows have n_buckets={'/'.join(map(str, started))}")
    fs, result = _fs_path(spark, _result_dir(output_dir))
    if fs.globStatus(result.suffix("/bucket=*")):
        raise ValueError(f"cannot resume {output_dir}: its result is partitioned by bucket; "
                         "restart into a fresh output directory")
    todo = sorted(set(range(n_buckets)) - {b for b, _ in done})
    files = "\n".join(sorted(transcripts.inputFiles())).encode()
    lineage = f"yomitoku_spark-{__version__} input:{hashlib.sha256(files).hexdigest()[:16]}"

    turns = _turns(transcripts, F.col("ts").cast("timestamp"),
                   _bucket_expr(n_buckets).alias(_BUCKET))
    state_schema = to_arrow_schema(StructType.fromDDL(STATE_SCHEMA))
    state_fs, state_dir = _fs_path(spark, _state_dir(output_dir))

    waves = [todo[i : i + wave_size] for i in range(0, len(todo), wave_size)][:max_waves]
    for wave in waves:
        # no Exchange between the kernel and the write (a caller's repartition sits
        # below it), so the kernel's accumulator updates come from result tasks
        kernel, acc = _wave_kernel(spark, wave)
        res = turns.filter(F.col(_BUCKET).isin(wave)).mapInArrow(
            _arrow_stage(kernel), schema=RESULT_SCHEMA)
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
        now = time.time()
        rows = [(b, n_buckets, "done", *m, now, lineage) for b, m in zip(wave, acc.value.tolist())]
        _commit_state(state_fs, state_dir, rows, state_schema, wave[0])
    return sum(map(len, waves))


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


_BUCKET = "_yomitoku_bucket"  # each turn's bucket, hashed once on the input side
_METRICS = ("blocks_kept", "blocks_dropped", "chars_emitted")


class _Sums(AccumulatorParam):  # element-wise sum of int64 arrays
    def zero(self, value):
        return np.zeros_like(value)

    def addInPlace(self, a, b):
        return np.add(a, b, out=a)


def _wave_kernel(spark: SparkSession, wave: list[int]):
    """``extract_batch``, and the accumulator it adds each batch's ``n_turns``
    and ``_METRICS`` sums to (``STATE_SCHEMA`` order), one row per bucket of ``wave``."""
    acc = spark.sparkContext.accumulator(np.zeros((len(wave), 4), np.int64), _Sums())

    def kernel(rb: pa.RecordBatch) -> pa.RecordBatch:
        out = extract_batch(rb)
        sums = np.zeros((len(wave), 4), np.int64)
        np.add.at(sums, np.searchsorted(wave, rb.column(_BUCKET).to_numpy()), np.column_stack(
            [np.ones(out.num_rows, np.int64), *(out.column(c).to_numpy() for c in _METRICS)]))
        acc.add(sums)
        return out

    return kernel, acc


def _bucket_expr(n_buckets: int) -> F.Column:
    # xxhash64 is TYPE-sensitive (int vs bigint hash differently): the casts
    # fix the types, so a turn's bucket depends on its key values alone,
    # whatever types the caller's columns have.
    return F.expr(f"CAST(pmod(xxhash64(CAST(conv_id AS STRING), CAST(turn_idx AS INT)), "
                  f"{n_buckets}) AS INT)")


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
