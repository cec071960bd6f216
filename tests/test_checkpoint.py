"""Resume/checkpoint semantics: kill-after-partial → re-run → identical
final table; idempotent replays; exactly-once metrics."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

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
    still land every row in the bucket that selected it (the input-side
    filter and output-side write hash explicitly typed keys), or a later
    wave's dynamic partition overwrite silently deletes rows."""
    out = str(tmp_path / "out_bigint")
    wide = tdf.withColumn("turn_idx", F.col("turn_idx").cast("bigint"))
    CP.run_resumable(wide, out, n_buckets=8, wave_size=2)
    got = CP.read_result(spark, out)
    assert got.count() == tdf.count()
    want = extract(tdf).toPandas()
    assert _sorted(got.toPandas()).equals(_sorted(want))


def test_unreadable_state_raises(spark, tdf, tmp_path):
    """A corrupt ``_checkpoint`` must fail the run, not read as "nothing
    done": that would redo committed buckets and append duplicate state
    rows, breaking exactly-once. A fresh output still reads as empty."""
    out = tmp_path / "out_corrupt"
    assert CP.done_buckets(spark, str(out)) == set()
    (out / "_checkpoint").mkdir(parents=True)
    (out / "_checkpoint" / "part-00000.parquet").write_text("not parquet")
    # the reader's own diagnosis, not the path (which names .parquet)
    with pytest.raises(Exception, match="is not a Parquet file"):
        CP.run_resumable(tdf.limit(20), str(out), n_buckets=4, wave_size=4)


def test_overwrite_mode_conf_restored(spark, tdf, tmp_path):
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    CP.run_resumable(tdf.limit(50), str(tmp_path / "out_conf"), n_buckets=4, wave_size=4)
    after = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    assert after == prev
