"""Resume/checkpoint semantics: kill-after-partial → re-run → identical
final table; idempotent replays; exactly-once metrics."""

import os
import re
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

import yomitoku_spark
from yomitoku_spark import datagen
from yomitoku_spark.plans import checkpoint as CP
from yomitoku_spark.plans.pipeline import extract


@pytest.fixture(scope="module")
def tdf(spark):
    return datagen.transcripts_df(spark, n_convs=15, seed=42)


def _sorted(pdf):
    cols = ["conv_id", "turn_idx", "extracted_text", "blocks_kept",
            "blocks_dropped", "chars_emitted"]
    return pdf[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def test_resume_after_partial_run(spark, tdf, tmp_path):
    out = str(tmp_path / "out")
    # simulated failure: only 2 waves of 4 buckets commit
    n1 = CP.run_resumable(tdf, out, n_buckets=16, wave_size=4, max_waves=2)
    assert n1 == 8
    assert len(CP.done_buckets(spark, out)) == 8
    partial = CP.read_result(spark, out)
    assert 0 < partial.count() < tdf.count()

    # resume: completes only the remainder
    n2 = CP.run_resumable(tdf, out, n_buckets=16, wave_size=4)
    assert n2 == 8
    final = CP.read_result(spark, out)
    assert final.count() == tdf.count()

    want = _sorted(extract(tdf).toPandas())
    got = _sorted(final.toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # third run: nothing to do (idempotent)
    assert CP.run_resumable(tdf, out, n_buckets=16, wave_size=4) == 0


def test_metrics_exactly_once(spark, tdf, tmp_path):
    out = str(tmp_path / "out2")
    CP.run_resumable(tdf, out, n_buckets=8, wave_size=8)
    state = CP.read_state(spark, out)
    assert state.count() == 8  # one row per bucket, no duplicates
    totals = state.agg(
        F.sum("n_turns").alias("nt"), F.sum("chars_emitted").alias("ce")
    ).collect()[0]
    res = extract(tdf).agg(
        F.count(F.lit(1)).alias("nt"), F.sum("chars_emitted").alias("ce")
    ).collect()[0]
    assert totals.nt == res.nt and totals.ce == res.ce
    assert all(r.lineage for r in state.collect())


def test_lineage_names_version_and_input_files(spark, tdf, tmp_path):
    """Every state row's lineage is the code version plus a digest of
    the sorted input file list: one value across a first call and its
    resume, another value for another file set."""
    src = str(tmp_path / "src")
    tdf.repartition(4).write.parquet(src)
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    out = str(tmp_path / "out_lineage")
    CP.run_resumable(spark.read.parquet(src), out, n_buckets=8, wave_size=4, max_waves=1)
    CP.run_resumable(spark.read.parquet(src), out, n_buckets=8, wave_size=4)
    lineages = {r.lineage for r in CP.read_state(spark, out).collect()}
    assert len(lineages) == 1
    (lineage,) = lineages
    assert lineage.startswith(f"yomitoku_spark-{yomitoku_spark.__version__} ")

    other = str(tmp_path / "out_other")
    CP.run_resumable(spark.read.parquet(*(os.path.join(src, f) for f in files[:2])),
                     other, n_buckets=8, wave_size=8)
    others = {r.lineage for r in CP.read_state(spark, other).collect()}
    assert len(others) == 1 and others != lineages


def test_empty_buckets_get_zero_rows(spark, tdf, tmp_path):
    """More buckets than turns: every bucket still gets exactly one done
    row, the empty ones with zero metrics, and the totals match."""
    small = tdf.limit(5)
    out = str(tmp_path / "out_sparse")
    assert CP.run_resumable(small, out, n_buckets=64, wave_size=16) == 64
    state = CP.read_state(spark, out).collect()
    assert sorted(r.bucket for r in state) == list(range(64))
    assert all(r.status == "done" for r in state)
    empty = [r for r in state if r.n_turns == 0]
    assert len(empty) >= 64 - 5
    assert all((r.blocks_kept, r.blocks_dropped, r.chars_emitted) == (0, 0, 0) for r in empty)
    assert sum(r.n_turns for r in state) == 5
    assert CP.read_result(spark, out).count() == 5


def test_empty_input_reads_back_empty(spark, tdf, tmp_path):
    """An input with no rows commits no result file: every bucket still
    gets one done row, and the result reads back as 0 rows."""
    out = str(tmp_path / "out_empty")
    assert CP.run_resumable(tdf.limit(0), out, n_buckets=4, wave_size=4) == 4
    state = CP.read_state(spark, out).collect()
    assert sorted(r.bucket for r in state) == [0, 1, 2, 3]
    assert all(r.status == "done" and r.n_turns == 0 for r in state)
    assert CP.read_result(spark, out).count() == 0


def test_bigint_turn_idx_buckets_consistently(spark, tdf, tmp_path):
    """xxhash64 is type-sensitive: a caller passing bigint turn_idx must
    still have each row's metrics counted in the bucket its key values
    hash to (the input-side bucket hashes explicitly typed keys), or a
    bucket's state row counts another bucket's rows."""
    out = str(tmp_path / "out_bigint")
    wide = tdf.withColumn("turn_idx", F.col("turn_idx").cast("bigint"))
    CP.run_resumable(wide, out, n_buckets=8, wave_size=2)
    got = CP.read_result(spark, out)
    assert got.count() == tdf.count()
    want = extract(tdf).toPandas()
    assert _sorted(got.toPandas()).equals(_sorted(want))
    per_bucket = dict(got.groupBy(CP._bucket_expr(8)).count().collect())
    state = {r.bucket: r.n_turns for r in CP.read_state(spark, out).collect()}
    assert state == {b: per_bucket.get(b, 0) for b in range(8)}


def _result_layout(out):
    """The result table's partition directories."""
    return sorted(d for d in os.listdir(os.path.join(out, "result")) if "=" in d)


def test_crash_between_result_commit_and_state_append(spark, tdf, tmp_path):
    """A wave whose result committed but whose state append did not is
    redone by the resume, even with another wave_size: the done set is a
    prefix of the buckets, so the redo starts at the orphan's first
    bucket and its overwrite of that wave partition replaces the
    orphan's rows. The result holds one ``wave=`` partition per wave."""
    out = str(tmp_path / "out_crash")
    CP.run_resumable(tdf, out, n_buckets=16, wave_size=4, max_waves=2)
    assert _result_layout(out) == ["wave=0", "wave=4"]
    _forget_wave(out, 4)
    assert CP.done_buckets(spark, out) == set(range(4))

    assert CP.run_resumable(tdf, out, n_buckets=16, wave_size=8) == 12
    assert _result_layout(out) == ["wave=0", "wave=12", "wave=4"]
    _assert_exactly_once(spark, out, tdf, 16)


def test_crash_redone_by_a_wave_with_no_rows(spark, tdf, tmp_path):
    """The redo of a crashed wave replaces its orphaned rows even when
    the redo's own buckets hold no rows (empty buckets are ordinary: a
    small input over many buckets), so a smaller resume wave_size cannot
    leave them to be written again by the next waves."""
    out = str(tmp_path / "out_crash_empty")
    b = CP._bucket_expr(16)
    sparse = tdf.filter(b >= 4)  # buckets 0-3 empty, 4-7 not
    CP.run_resumable(sparse, out, n_buckets=16, wave_size=8, max_waves=1)
    _forget_wave(out, 0)
    assert CP.done_buckets(spark, out) == set()

    assert CP.run_resumable(sparse, out, n_buckets=16, wave_size=4) == 16
    assert _result_layout(out) == ["wave=0", "wave=12", "wave=4", "wave=8"]
    _assert_exactly_once(spark, out, sparse, 16)


def _forget_wave(out, first_bucket):
    """Delete the state file of the wave starting at ``first_bucket``, as
    a crash after its result commit and before its state append would."""
    state_dir = os.path.join(out, "_checkpoint")
    files = [f for f in os.listdir(state_dir) if f.endswith(".parquet")
             and pd.read_parquet(os.path.join(state_dir, f)).bucket.min() == first_bucket]
    assert len(files) == 1
    for f in os.listdir(state_dir):
        if files[0] in f:  # the file and its checksum
            os.remove(os.path.join(state_dir, f))


def _assert_exactly_once(spark, out, transcripts, n_buckets):
    got = _sorted(CP.read_result(spark, out).toPandas())
    assert not got.duplicated(["conv_id", "turn_idx"]).any()
    want = _sorted(extract(transcripts).toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    state = CP.read_state(spark, out).collect()
    assert sorted(r.bucket for r in state) == list(range(n_buckets))
    assert sum(r.n_turns for r in state) == len(got)


def test_bucket_partitioned_output_refused(spark, tdf, tmp_path):
    """An output started when results were partitioned by bucket cannot
    take wave partitions beside them (the read-back would fail on the
    two partition columns), so the resume is refused before any wave
    writes."""
    out = str(tmp_path / "out_old")
    old = extract(tdf.limit(5)).withColumn("bucket", F.lit(3))
    old.write.partitionBy("bucket").parquet(os.path.join(out, "result"))
    with pytest.raises(ValueError, match="partitioned by bucket; restart into a fresh"):
        CP.run_resumable(tdf, out, n_buckets=8, wave_size=4)
    assert _result_layout(out) == ["bucket=3"]
    assert not os.path.exists(os.path.join(out, "_checkpoint"))


def test_unreadable_state_raises(spark, tdf, tmp_path):
    """A corrupt ``_checkpoint`` must fail the run, not read as "nothing
    done": that would redo committed buckets and append duplicate state
    rows, breaking exactly-once. A fresh output still reads as empty."""
    out = tmp_path / "out_corrupt"
    assert CP.done_buckets(spark, str(out)) == set()
    (out / "_checkpoint").mkdir(parents=True)
    (out / "_checkpoint" / "part-00000.parquet").write_text("not parquet")
    # the reader's own diagnosis, not the path (which names .parquet)
    with pytest.raises(Exception, match="not a parquet file"):
        CP.run_resumable(tdf.limit(20), str(out), n_buckets=4, wave_size=4)


def test_overwrite_mode_conf_restored(spark, tdf, tmp_path):
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    CP.run_resumable(tdf.limit(50), str(tmp_path / "out_conf"), n_buckets=4, wave_size=4)
    after = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    assert after == prev


def test_resume_with_other_bucket_count_raises(spark, tdf, tmp_path):
    """Another ``n_buckets`` hashes the committed rows to other buckets:
    resuming would write them a second time and count them twice in
    the state, so the resume is refused before any wave runs."""
    out = str(tmp_path / "out_rebucket")
    CP.run_resumable(tdf, out, n_buckets=8, wave_size=4, max_waves=1)
    with pytest.raises(ValueError, match=r"n_buckets=16: its done rows have n_buckets=8"):
        CP.run_resumable(tdf, out, n_buckets=16, wave_size=4)
    state = CP.read_state(spark, out).collect()
    assert len(state) == 4 and {r.n_buckets for r in state} == {8}
    assert CP.read_result(spark, out).count() == sum(r.n_turns for r in state)


def test_wave_is_one_pass(spark, tdf, tmp_path):
    """Each wave is one SQL execution, into a noop sink: the wave's kernel
    counts the state metrics (no CollectMetrics) and writes the result
    files itself, no Exchange sits under the sink (a map stage's
    accumulator updates could be replayed), no plan reads the result
    directory back, and the resume reads its done set on the driver, with
    no SQL execution. The waves leave only their part files, no
    ``_SUCCESS``."""
    out = str(tmp_path / "out_pass")
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()

    def execs():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        ex = store.executionsList()
        return {ex.apply(i).executionId(): ex.apply(i).physicalPlanDescription()
                for i in range(ex.size())}

    before = max(execs(), default=-1)
    CP.run_resumable(tdf, out, n_buckets=8, wave_size=4, max_waves=1)
    CP.run_resumable(tdf, out, n_buckets=8, wave_size=4)
    plans = [d for i, d in execs().items() if i > before]
    assert CP.done_buckets(spark, out) == set(range(8))
    assert len(plans) == 2
    assert all("NoopWrite" in d and "MapInArrow" in d for d in plans)
    assert all("CollectMetrics" not in d and "Exchange" not in d for d in plans)
    assert not [d for d in plans if "Location:" in d and "out_pass" in d]
    assert _result_layout(out) == ["wave=0", "wave=4"]
    files = [f for w in _result_layout(out) for f in os.listdir(os.path.join(out, "result", w))]
    assert files and all(re.fullmatch(r"part-\d{5}\.parquet", f) for f in files)


def _assert_state_matches_result(spark, out, n_buckets):
    """Every bucket's state row holds the count and metric sums of its
    rows in the read-back result; an empty bucket's row holds zeros."""
    metrics = ["blocks_kept", "blocks_dropped", "chars_emitted"]
    got = CP.read_result(spark, out).groupBy(CP._bucket_expr(n_buckets).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_turns"), *(F.sum(c).alias(c) for c in metrics))
    per_bucket = {r.bucket: tuple(r)[1:] for r in got.collect()}
    state = CP.read_state(spark, out).collect()
    assert sorted(r.bucket for r in state) == list(range(n_buckets))
    assert {r.bucket: (r.n_turns, *(r[c] for c in metrics)) for r in state} == {
        b: per_bucket.get(b, (0, 0, 0, 0)) for b in range(n_buckets)}


def test_state_rows_match_result_per_bucket(spark, tdf, tmp_path):
    """A run stopped after 2 waves and resumed for 2 more, over an input
    with datagen's 12x hot conversation and with empty buckets: each
    bucket's state row equals its rows in the result."""
    sizes = sorted(r["count"] for r in tdf.groupBy("conv_id").count().collect())
    assert sizes[-1] >= 10 * sizes[len(sizes) // 2]  # the hot conversation
    sparse = tdf.filter(~CP._bucket_expr(16).isin(2, 5, 6, 13))
    out = str(tmp_path / "out_per_bucket")
    assert CP.run_resumable(sparse, out, n_buckets=16, wave_size=4, max_waves=2) == 8
    assert CP.run_resumable(sparse, out, n_buckets=16, wave_size=4) == 8
    _assert_exactly_once(spark, out, sparse, 16)
    _assert_state_matches_result(spark, out, 16)


def test_input_with_internal_bucket_column(spark, tdf, tmp_path):
    """An input that already has a column named like the runner's
    internal bucket column runs as any other input: that column is
    neither read nor written."""
    out = str(tmp_path / "out_clash")
    clash = tdf.withColumn(CP._BUCKET, F.lit("not a bucket"))
    assert CP.run_resumable(clash, out, n_buckets=8, wave_size=4) == 8
    assert CP.read_result(spark, out).columns == extract(tdf).columns
    _assert_exactly_once(spark, out, tdf, 8)
    _assert_state_matches_result(spark, out, 8)


class _Crash(Exception):
    pass


def test_crash_before_state_rename(spark, tdf, tmp_path, monkeypatch):
    """A crash after a wave's result files are in place, with its state
    file written but not yet moved into place, leaves a ``_``-prefixed
    temp file beside the result: the done set and the state table ignore
    it, and the resume redoes that wave exactly once."""
    moves = []

    class CrashOnSecondMove:  # the output's pyarrow FileSystem, up to the crash
        def __init__(self, fs):
            self.fs = fs

        def __getattr__(self, name):
            return getattr(self.fs, name)

        def move(self, src, dest):
            moves.append(os.path.basename(src))
            if len(moves) == 2:
                raise _Crash
            self.fs.move(src, dest)

    fs = CP._fs

    def crashing_fs(output_dir):
        pa_fs, base = fs(output_dir)
        return CrashOnSecondMove(pa_fs), base

    monkeypatch.setattr(CP, "_fs", crashing_fs)
    out = str(tmp_path / "out_tmp")
    with pytest.raises(_Crash):
        CP.run_resumable(tdf, out, n_buckets=16, wave_size=4)
    monkeypatch.undo()
    assert _result_layout(out) == ["wave=0", "wave=4"]
    state_dir = os.path.join(out, "_checkpoint")
    assert moves[1].startswith("_") and moves[1] in os.listdir(state_dir)
    assert CP.done_buckets(spark, out) == set(range(4))
    assert sorted(r.bucket for r in CP.read_state(spark, out).collect()) == list(range(4))

    assert CP.run_resumable(tdf, out, n_buckets=16, wave_size=4) == 12
    assert _result_layout(out) == ["wave=0", "wave=12", "wave=4", "wave=8"]
    _assert_exactly_once(spark, out, tdf, 16)


def test_stale_files_of_a_wave_not_done_are_swept(spark, tdf, tmp_path):
    """A wave directory that no done row covers may hold files that the
    redo would not replace: a ``part-`` file of a partition the redo does
    not have (the crashed run had more splits) and a failed attempt's
    ``_tmp-`` file. The resume deletes them, so the result stays
    exactly-once."""
    out = str(tmp_path / "out_stale")
    CP.run_resumable(tdf.coalesce(2), out, n_buckets=8, wave_size=4, max_waves=1)
    _forget_wave(out, 0)
    wave0 = os.path.join(out, "result", "wave=0")
    part0 = os.path.join(wave0, "part-00000.parquet")
    shutil.copy(part0, os.path.join(wave0, "part-00007.parquet"))
    shutil.copy(part0, os.path.join(wave0, "_tmp-7-0-stale.parquet"))
    assert CP.read_result(spark, out).count() > tdf.filter(CP._bucket_expr(8) < 4).count()

    assert CP.run_resumable(tdf.coalesce(2), out, n_buckets=8, wave_size=4) == 8
    assert not {"part-00007.parquet", "_tmp-7-0-stale.parquet"} & set(os.listdir(wave0))
    _assert_exactly_once(spark, out, tdf, 8)


def test_result_rows_equal_extract(spark, tdf, tmp_path):
    """The files the wave kernels write read back as ``extract``'s rows,
    every column included (``ts`` and ``spans`` too)."""
    out = str(tmp_path / "out_rows")
    CP.run_resumable(tdf, out, n_buckets=8, wave_size=4)
    got, want = CP.read_result(spark, out), extract(tdf)
    assert got.schema == want.schema
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_unsupported_uri_raises_before_any_wave(spark, tdf):
    """An output pyarrow cannot open fails the call before any wave runs."""
    with pytest.raises(ValueError, match="cannot open nosuchfs://bucket/out with pyarrow"):
        CP.run_resumable(tdf, "nosuchfs://bucket/out", n_buckets=4, wave_size=4)


def test_state_file_round_trips(spark, tdf, tmp_path):
    """The driver-written state file holds the types of ``STATE_SCHEMA``:
    Spark infers them from the file, reads it back under the declared
    schema, and pyarrow reads the same types and rows."""
    out = str(tmp_path / "out_schema")
    CP.run_resumable(tdf.limit(20), out, n_buckets=4, wave_size=4)
    state_dir = os.path.join(out, "_checkpoint")
    (name,) = [f for f in os.listdir(state_dir) if not f.startswith((".", "_"))]
    assert re.fullmatch(r"part-00000-[0-9a-f]{32}\.parquet", name)
    declared = StructType.fromDDL(CP.STATE_SCHEMA)
    assert spark.read.parquet(state_dir).schema == declared
    table = pq.read_table(os.path.join(state_dir, name))
    assert table.schema.equals(to_arrow_schema(declared))
    got = sorted(tuple(r) for r in CP.read_state(spark, out).collect())
    assert got == sorted(tuple(r.values()) for r in table.to_pylist())
    assert [r[0] for r in got] == [0, 1, 2, 3] and sum(r[3] for r in got) == 20


_RETRY_JOB = """
import sys
from pyspark import TaskContext
import yomitoku_spark
from yomitoku_spark import datagen
from yomitoku_spark.plans.checkpoint import run_resumable
from yomitoku_spark.session import get_spark

out, marker = sys.argv[1:]
spark = get_spark(master="local[2,2]")
tdf = datagen.transcripts_df(spark, n_convs=15, seed=42)


def flaky(batches):
    # partition 0's first attempt hands on all its rows, then fails
    yield from batches
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        with open(marker, "a") as f:
            f.write("failed\\n")
        raise RuntimeError("injected first-attempt failure")


run_resumable(tdf.mapInArrow(flaky, tdf.schema), out, n_buckets=8, wave_size=4)
spark.stop()
"""


@pytest.mark.slow
def test_metrics_exactly_once_under_task_retry(spark, tdf, tmp_path):
    """A write task that observed all its rows and then failed is
    retried (local[2,2] allows one retry); the failed attempt's
    metrics must not reach the state rows."""
    out, marker = str(tmp_path / "out_retry"), str(tmp_path / "failures")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root)
    p = subprocess.run([sys.executable, "-c", _RETRY_JOB, out, marker],
                       capture_output=True, text=True, env=env, timeout=420)
    assert p.returncode == 0, p.stderr[-3000:]
    with open(marker) as f:
        assert f.read().split() == ["failed"] * 2  # once per wave
    state = CP.read_state(spark, out)
    assert sorted(r.bucket for r in state.collect()) == list(range(8))
    sums = [F.sum(c).alias(c) for c in ("blocks_kept", "chars_emitted")]
    got = state.agg(F.sum("n_turns").alias("n"), *sums).collect()[0]
    want = extract(tdf).agg(F.count(F.lit(1)).alias("n"), *sums).collect()[0]
    assert got == want
    # and the retried partitions' result files hold each row once
    _assert_exactly_once(spark, out, tdf, 8)
