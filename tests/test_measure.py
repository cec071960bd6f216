"""The side tools' shared repetition rule (``tools/measure.py``): how
many passes it runs and records, which pinned blocks it releases, and
that its oracle checksum is the one the benchmark inputs store and the
engine's result reproduces."""

from __future__ import annotations

import pytest

from perfbench import inputs
from perfbench.workloads import checksum
from tools import measure
from yomitoku_spark.plans.pipeline import extract


@pytest.mark.parametrize(
    "cost,reps,n_records",
    [
        (0.01, 3, 11),  # two warm-ups; ~4.5 s of reps at the 0.4 s floor, cap 12
        (1.0, 3, 4),  # two warm-ups; 4.5 / 1.0 reps
        (5.0, 3, 3),  # one warm-up (first pass >= 3 s); reps is the floor
        (0.01, 20, 20),  # reps above the cap still wins
    ],
)
def test_warm_ups_unrecorded_and_rep_count(spark, monkeypatch, cost, reps, n_records):
    clock = [0.0]
    monkeypatch.setattr(measure, "perf_counter", lambda: clock[0])
    # the warm-up passes: a cold first one, then (when that took under
    # 3 s) the one the rep count is derived from
    walls = iter([2.9, cost] if cost < 3.0 else [cost])

    def fn():
        clock[0] += next(walls, cost)

    recs = list(measure.timed(spark, fn, reps))
    assert len(recs) == n_records
    assert next(walls, None) is None  # every warm-up ran
    assert [r["wall"] for r in recs] == pytest.approx([cost] * n_records)  # none recorded
    assert set(recs[0]) == {"wall", "steal_pct", "gc_ms", "loadavg"}


def test_release_only_blocks_pinned_inside_a_rep(spark, monkeypatch):
    jsc = spark.sparkContext._jsc
    clock = [0.0]
    monkeypatch.setattr(measure, "perf_counter", lambda: clock[0])

    def pinned():
        return set(jsc.getPersistentRDDs().keySet())

    before = pinned()
    shared = spark.range(20).localCheckpoint(eager=True)
    outside = pinned()
    assert outside - before
    at_start, pinned_by_pass = [], []

    def fn():
        at_start.append(pinned())
        spark.range(10).localCheckpoint(eager=True)
        pinned_by_pass.append(pinned() - at_start[-1])
        clock[0] += 5.0  # one warm-up, then the 2 reps asked for

    assert len(list(measure.timed(spark, fn, 2))) == 2
    assert len(pinned_by_pass) == 3 and all(pinned_by_pass)
    # no pass starts with a block an earlier pass pinned, and the one
    # pinned outside the measurement is still there after it
    assert all(s <= outside for s in at_start)
    assert outside - before <= pinned() <= outside
    assert shared.count() == 20


def test_oracle_checksum_matches_engine_and_input_meta(spark, tmp_path):
    path, meta = inputs.transcripts(str(tmp_path), seed=5, n_convs=6, n_files=2)
    assert checksum(extract(spark.read.parquet(path))) == (meta["oracle_checksum"], meta["n_turns"])
    assert measure.oracle_checksum(path) == (meta["oracle_checksum"], meta["n_turns"])


@pytest.mark.parametrize(
    "cores,want", [(1, (1, 4)), (4, (1, 4)), (7, (1, 4)), (8, (2, 8)), (32, (8, 32))]
)
def test_bench_scaling_levels_from_host_cores(cores, want):
    import bench_scaling

    assert bench_scaling.levels(cores) == want
