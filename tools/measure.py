"""The repetition rule behind every side tool's numbers, and the
pure-Python oracle's checksum those tools compare against.

The rule is ``bench.py``'s: one untimed warm-up pass, plus a second
when the first took under 3 s (a cold pass overestimates a short
query's steady state several-fold and starves it of reps); then
``max(reps, min(12, int(4.5 / max(warm, 0.4))))`` timed reps, so short
queries get about 4.5 s of reps. Each timed rep yields one record:
wall, host steal %, driver-JVM GC ms and the 1-min loadavg at its
start. After every pass the RDD blocks that pass pinned (the
operators' eager local checkpoints) are released, so later reps do not
run under block-manager pressure from earlier ones; blocks pinned
before the measurement, such as a shared replica table, stay resident.
The cap of 12 cannot bind under the 0.4 s floor (the derived count is at most
11); it is kept so the rule reads exactly as ``bench.py``'s does.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from time import perf_counter

import pyarrow.parquet as pq

from perfbench import host
from perfbench.inputs import turn_checksum


def _pinned(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _release_since(spark, before: set) -> None:
    for rid, jrdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        if rid not in before:
            jrdd.unpersist(False)


def _gc_ms(spark) -> int:
    """Cumulative driver-JVM GC milliseconds over all collectors:
    local mode runs every task in this one JVM, so a GC ramp stalls
    the whole job."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


def _pass(spark, fn: Callable[[], object]) -> float:
    before = _pinned(spark)
    t0 = perf_counter()
    fn()
    wall = perf_counter() - t0
    _release_since(spark, before)
    return wall


def timed(spark, fn: Callable[[], object], reps: int) -> Iterator[dict]:
    """Run ``fn`` under the rule above with at least ``reps`` timed
    reps, yielding each rep's record as soon as the rep is done (a
    caller can sample the host right after an outlier). ``fn`` must
    finish its work before it returns: write to the noop sink, count or
    collect."""
    warm = _pass(spark, fn)
    if warm < 3.0:
        warm = _pass(spark, fn)
    for _ in range(max(reps, min(12, int(4.5 / max(warm, 0.4))))):
        load, c0, g0 = host.loadavg(), host.cpu_jiffies(), _gc_ms(spark)
        wall = _pass(spark, fn)
        yield {
            "wall": wall,
            "steal_pct": round(host.steal_pct(c0, host.cpu_jiffies()), 1),
            "gc_ms": _gc_ms(spark) - g0,
            "loadavg": round(load, 2),
        }


def oracle_checksum(input_dir: str) -> tuple[str, int]:
    """(Σ per-turn checksum, turn count) of the pure-Python oracle's
    extraction of every turn in the parquet directory: the referee for
    ``perfbench.workloads.checksum`` of the engine's result."""
    from yomitoku_spark import oracle

    t = pq.read_table(input_dir, columns=["conv_id", "turn_idx", "text", "tool"])
    total = 0
    for conv_id, turn_idx, text, tool in zip(*(t[c].to_pylist() for c in t.column_names)):
        r = oracle.extract_payload(text, tool)
        total += turn_checksum(conv_id, turn_idx, r["extracted_text"], r["chars_emitted"])
    return str(total), t.num_rows
