"""Resumable extraction: per-bucket checkpoint + lineage + metrics.

North-rule requirement (BASELINE.json): the 10^12-turn job must be
resumable from checkpoint with per-partition lineage and extraction-
metric rows. Design:

* work is bucketed by ``pmod(xxhash64(conv_id, turn_idx), n_buckets)``
  — TURN-grain, so a single hot conversation spreads across all
  buckets (long-conversation skew defusal; SURVEY.md §4.1);
* results land in a parquet table partitioned by ``wave`` (its first
  bucket; the bucket is the unit of state): one ``wave=`` directory per
  wave, one ``part-<partition>.parquet`` file per task that had rows;
* the state table gains one row per committed bucket with the bucket
  count, row count, metric sums (blocks kept/dropped, chars emitted),
  an attempt timestamp, and a lineage string (code version + a digest
  of the sorted input file list);
* on restart, done buckets are skipped and only the remainder runs; a
  restart with another bucket count is refused.

Each wave is one Spark job into a ``noop`` sink. Its Arrow kernel (the
bucket is hashed once, on the input side) extracts the turns, counts each
bucket's turns and metric sums into one accumulator, and streams its
output batches with pyarrow into a ``_tmp-*`` file, which Spark's reader
skips; when the task's input ends, the file is renamed to its
partition's ``part-`` name. Spark merges a result task's accumulator
updates on the driver once per partition and drops a failed attempt's,
so the counts are exactly-once; a retried or speculative attempt writes
the same rows under the same name, so the files are too. The driver
then commits the state rows as one parquet file: a ``_`` temp file
renamed to ``part-<first bucket>-<uuid>.parquet``, the commit marker (no
``_SUCCESS`` is written). A crash before that rename leaves the wave to
be redone: on entry, every ``wave=`` directory from the first bucket not
done on is deleted, so a redo never sits beside an orphan's files. Result
files, state files and the done-set read all go through the output's
pyarrow FileSystem, the one the executors can reach too. On a cluster the
state table would be Iceberg (atomic appends), with the same resume
semantics.

(The reference has no analog — it reprocesses files from scratch,
cli/main.py:538-549; resumability is what 10^12 turns forces.)
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark import TaskContext
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


def _uri(output_dir: str) -> str:
    """``output_dir`` as pyarrow opens it: a path with no scheme is local."""
    return output_dir if ":" in output_dir.split("/")[0] else os.path.abspath(output_dir)


def _fs(output_dir: str) -> tuple[pafs.FileSystem, str]:
    """The output's pyarrow FileSystem and the output's path on it."""
    try:
        return pafs.FileSystem.from_uri(_uri(output_dir))
    except (pa.ArrowException, OSError) as e:
        raise ValueError(f"cannot open {output_dir} with pyarrow: {e}") from e


def _state_schema() -> pa.Schema:
    return to_arrow_schema(StructType.fromDDL(STATE_SCHEMA))


def _state_table(fs: pafs.FileSystem, base: str) -> pa.Table:
    """Every state file not named ``_*`` or ``.*`` (Spark's reader skips
    those), as one table. A missing state dir holds no rows; any other read
    error propagates, since treating an unreadable state as empty would redo
    committed buckets."""
    schema = _state_schema()
    tables = [schema.empty_table()]
    for info in fs.get_file_info(pafs.FileSelector(f"{base}/_checkpoint", allow_not_found=True)):
        if info.is_file and not info.base_name.startswith(("_", ".")):
            try:
                with fs.open_input_file(info.path) as f:
                    tables.append(pq.read_table(f).cast(schema))
            except pa.ArrowInvalid as e:
                raise ValueError(f"unreadable state file {info.path}: {e}") from e
    return pa.concat_tables(tables)


def _done_rows(fs: pafs.FileSystem, base: str) -> set[tuple[int, int]]:
    """Distinct ``(bucket, n_buckets)`` of the done rows, read on the driver."""
    t = _state_table(fs, base)
    rows = zip(t["bucket"].to_pylist(), t["n_buckets"].to_pylist(), t["status"].to_pylist())
    return {(b, n) for b, n, status in rows if status == "done"}


def done_buckets(spark: SparkSession, output_dir: str) -> set[int]:
    """Buckets with a done row."""
    return {b for b, _ in _done_rows(*_fs(output_dir))}


def run_resumable(
    transcripts: DataFrame,
    output_dir: str,
    n_buckets: int = 32,
    wave_size: int = 8,
    max_waves: int | None = None,
) -> int:
    """Run extraction bucket-wave by bucket-wave, checkpointing after
    each wave. Returns the number of buckets processed this invocation.
    Raises ``ValueError`` if pyarrow cannot open ``output_dir``, or if
    the output was started with another ``n_buckets``: its rows hash to
    other buckets, so resuming would write them twice; also for a result
    still partitioned by ``bucket``, which could not be read back beside
    ``wave=`` partitions.

    ``max_waves`` exists for fault-injection tests (stop early, then
    call again to resume)."""
    spark = transcripts.sparkSession
    fs, base = _fs(output_dir)
    done = _done_rows(fs, base)
    started = {n for _, n in done} - {n_buckets}
    if started:
        raise ValueError(f"cannot resume {output_dir} with n_buckets={n_buckets}: its done "
                         f"rows have n_buckets={'/'.join(map(str, started))}")
    result = fs.get_file_info(pafs.FileSelector(f"{base}/result", allow_not_found=True))
    if any(i.base_name.startswith("bucket=") for i in result):
        raise ValueError(f"cannot resume {output_dir}: its result is partitioned by bucket; "
                         "restart into a fresh output directory")
    todo = sorted(set(range(n_buckets)) - {b for b, _ in done})
    # Waves run in sorted order and each commits its state in one file, so the
    # done set is a prefix of range(n_buckets) and every wave= directory from the
    # first bucket not done on holds rows no state row counts: a crash's orphans.
    # Deleting them all clears the directory of every wave this call writes,
    # whatever wave_size the crashed run had.
    for i in result:
        if todo and i.base_name.startswith("wave=") and int(i.base_name[5:]) >= todo[0]:
            fs.delete_dir(i.path)
    files = "\n".join(sorted(transcripts.inputFiles())).encode()
    lineage = f"yomitoku_spark-{__version__} input:{hashlib.sha256(files).hexdigest()[:16]}"

    turns = _turns(transcripts, F.col("ts").cast("timestamp"),
                   _bucket_expr(n_buckets).alias(_BUCKET))

    waves = [todo[i : i + wave_size] for i in range(0, len(todo), wave_size)][:max_waves]
    for wave in waves:
        wave_dir = f"result/wave={wave[0]}"
        fs.create_dir(f"{base}/{wave_dir}")  # read_result finds it even when no task has rows
        # no Exchange between the kernel and the sink (a caller's repartition sits
        # below it), so the kernel's accumulator updates come from result tasks
        write, acc = _wave_kernel(spark, wave, f"{_uri(output_dir)}/{wave_dir}")
        turns.filter(F.col(_BUCKET).isin(wave)).mapInArrow(write, schema=RESULT_SCHEMA) \
            .write.mode("overwrite").format("noop").save()
        now = time.time()
        rows = [(b, n_buckets, "done", *m, now, lineage) for b, m in zip(wave, acc.value.tolist())]
        _commit_state(fs, f"{base}/_checkpoint", rows, wave[0])
    return sum(map(len, waves))


def _commit_state(fs: pafs.FileSystem, state_dir: str, rows: list[tuple], first: int) -> None:
    """Write one wave's state rows as one parquet file: to a ``_``-prefixed
    temp name, which Spark's reader skips, then renamed into place."""
    name = f"{first:05d}-{uuid.uuid4().hex}.parquet"
    tmp = f"{state_dir}/_tmp-{name}"
    fs.create_dir(state_dir)
    with fs.open_output_stream(tmp) as out:
        pq.write_table(pa.table(list(zip(*rows)), schema=_state_schema()), out)
    fs.move(tmp, f"{state_dir}/part-{name}")


_BUCKET = "_yomitoku_bucket"  # each turn's bucket, hashed once on the input side
_METRICS = ("blocks_kept", "blocks_dropped", "chars_emitted")


class _Sums(AccumulatorParam):  # element-wise sum of int64 arrays
    def zero(self, value):
        return np.zeros_like(value)

    def addInPlace(self, a, b):
        return np.add(a, b, out=a)


def _wave_kernel(spark: SparkSession, wave: list[int], wave_uri: str):
    """The wave's ``mapInArrow`` function, and the accumulator it adds each
    batch's ``n_turns`` and ``_METRICS`` sums to (``STATE_SCHEMA`` order),
    one row per bucket of ``wave``. The function yields no rows: it writes
    its task's ``extract_batch`` output to ``wave_uri``."""
    acc = spark.sparkContext.accumulator(np.zeros((len(wave), 4), np.int64), _Sums())

    def count(rb: pa.RecordBatch) -> pa.RecordBatch:
        out = extract_batch(rb)
        sums = np.zeros((len(wave), 4), np.int64)
        np.add.at(sums, np.searchsorted(wave, rb.column(_BUCKET).to_numpy()), np.column_stack(
            [np.ones(out.num_rows, np.int64), *(out.column(c).to_numpy() for c in _METRICS)]))
        acc.add(sums)
        return out

    def write(batches):
        # One file per task, opened on its first row and streamed batch by
        # batch; the rename on a clean end of input is the task's commit. A
        # failed attempt leaves a _tmp- file, which the reader skips.
        fs, wave_dir = pafs.FileSystem.from_uri(wave_uri)
        ctx = TaskContext.get()
        part = ctx.partitionId()
        tmp = f"{wave_dir}/_tmp-{part}-{ctx.attemptNumber()}-{uuid.uuid4().hex}.parquet"
        writer = None
        with contextlib.ExitStack() as stack:
            for out in _arrow_stage(count)(batches):
                if out.num_rows:
                    if writer is None:
                        writer = stack.enter_context(
                            pq.ParquetWriter(tmp, out.schema, filesystem=fs))
                    writer.write_batch(out)
        if writer is not None:
            fs.move(tmp, f"{wave_dir}/part-{part:05d}.parquet")
        yield from ()

    return write, acc


def _bucket_expr(n_buckets: int) -> F.Column:
    # xxhash64 is TYPE-sensitive (int vs bigint hash differently): the casts
    # fix the types, so a turn's bucket depends on its key values alone,
    # whatever types the caller's columns have.
    return F.expr(f"CAST(pmod(xxhash64(CAST(conv_id AS STRING), CAST(turn_idx AS INT)), "
                  f"{n_buckets}) AS INT)")


# with the declared schema: a wave whose tasks had no rows writes no file,
# and schema inference over a directory with no file fails
def read_result(spark: SparkSession, output_dir: str) -> DataFrame:
    return (
        spark.read.schema(RESULT_SCHEMA + ", wave int")
        .parquet(f"{output_dir}/result")
        .drop("wave")
    )


def read_state(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.createDataFrame(_state_table(*_fs(output_dir)), STATE_SCHEMA)
