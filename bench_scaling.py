"""Two-parallelism scaling benchmark (north-rule evidence).

The N → 4N executor criterion is evidenced by running the IDENTICAL
job on the IDENTICAL materialized input at local[N] and local[4N] (one
JVM; Spark's ``local-cluster[K,1,<mem>]`` master also runs offline from
the pip install, with one JVM and Python daemon per executor, but this
script does not use it yet), with
N = max(1, cores // 4) from the host's usable cores (the count Spark's
``local[*]`` sizes from), so 4N never oversubscribes the host
(BASELINE.md's sanctioned plan). Each level runs in its own process
(fresh JVM) pinned to the first N (resp. 4N) usable cores, so a level
is N cores of work and not N task slots with idle cores helping the
driver JVM's GC/JIT threads and the Python worker. Reports wall time,
turns/sec, scaling efficiency E = (T_N / T_4N) / 4 from each level's
median wall (the best-rep E beside it), and a content
checksum that must match across levels AND match the pure-Python
oracle (per-turn equality evidence at bench scale).

Usage:  python bench_scaling.py [--n-convs 12000] [--out BENCH/BASELINE.md]
Child:  python bench_scaling.py --child CPUS INPUT_DIR
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench import host  # noqa: E402
from tools import measure  # noqa: E402


def levels(cores: int) -> tuple[int, int]:
    """The two parallelism levels (N, 4N) on a host with ``cores`` cores."""
    n = max(1, cores // 4)
    return n, 4 * n


def _top_procs(n: int = 5) -> list[str]:
    """Top CPU consumers at sample time — catches an external periodic
    process red-handed when a rep's wall is an outlier."""
    try:
        out = subprocess.run(
            ["ps", "-eo", "pcpu,comm", "--sort=-pcpu"],
            capture_output=True, text=True, timeout=5,
        ).stdout.splitlines()[1 : 1 + n]
        return [ln.strip() for ln in out]
    except Exception:
        return []


def child(cpus: int, input_dir: str) -> None:
    from perfbench.workloads import checksum, noop
    from yomitoku_spark.plans.pipeline import extract
    from yomitoku_spark.session import engine_conf, get_spark

    # a level is `cpus` cores: pin before the JVM starts, so the JVM and
    # its Python workers inherit the mask
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:cpus])
    # Pin the collector: G1 with a bounded pause target and a fixed heap
    # (Xms == Xmx == the engine's heap), after the engine's own flags — the
    # local[32] wall-time outliers (30 s max in earlier runs) are full-heap
    # growth/GC events, not extraction variance; a pinned heap keeps max/min
    # wall ratio < 3 so best-of-N margins are trustworthy.
    conf = engine_conf()
    spark = get_spark(
        app=f"scale_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.extraJavaOptions": f"{conf['spark.driver.extraJavaOptions']}"
            f" -XX:+UseG1GC -XX:MaxGCPauseMillis=200 -Xms{conf['spark.driver.memory']}",
        },
    )
    tdf = spark.read.parquet(input_dir)
    n_turns = tdf.count()

    # timed region: extraction only (the metric is turns/sec extraction
    # throughput); the equality checksum is computed separately after.
    records, outlier_evidence = [], []
    for rec in measure.timed(
        spark, lambda: noop(extract(tdf)), int(os.environ.get("SCALE_REPS", "10"))
    ):
        records.append(rec)
        # an outlier rep (>2x the best so far) gets a concurrent-load
        # sample so external interference is evidenced, not asserted
        if rec["wall"] > 2 * min(r["wall"] for r in records):
            outlier_evidence.append(
                {
                    "rep": len(records) - 1,
                    "wall": round(rec["wall"], 3),
                    "steal_pct": rec["steal_pct"],
                    "gc_ms": rec["gc_ms"],
                    "loadavg_before": rec["loadavg"],
                    "loadavg_after": round(host.loadavg(), 2),
                    "top_procs": _top_procs(),
                }
            )
    walls = [r["wall"] for r in records]
    # the best rep, reported beside the median: one lucky rep moves the
    # best by ~10% on a shared host, so E's headline is the median
    wall = min(walls)
    sw = sorted(walls)

    def pct(p):
        return sw[min(len(sw) - 1, int(round(p * (len(sw) - 1))))]

    check, n_results = checksum(extract(tdf))
    print(
        json.dumps(
            {
                "cpus": cpus,
                "affinity": sorted(os.sched_getaffinity(0)),
                "heap": conf["spark.driver.memory"],
                "n_turns": int(n_turns),
                "wall_sec": round(wall, 3),
                "all_walls": [round(w, 3) for w in walls],
                "wall_p50": round(pct(0.5), 3),
                "wall_p90": round(pct(0.9), 3),
                "wall_spread": round(max(walls) / min(walls), 2),
                "turns_per_sec": round(n_turns / wall, 1),
                "loadavgs": [r["loadavg"] for r in records],
                "steal_pcts": [r["steal_pct"] for r in records],
                "gc_ms_per_rep": [r["gc_ms"] for r in records],
                "outlier_evidence": outlier_evidence,
                "checksum": check,
                "n_results": n_results,
            }
        )
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(int(sys.argv[2]), sys.argv[3])
        return
    # ~800k turns: large enough to amortize fixed task/scheduling overhead
    # (at ~50k turns the constant costs dominate a 32-core level and
    # understate E; a 100 TB table is in the amortized regime everywhere)
    n_convs = 48000
    out_md = "BENCH/BASELINE.md"
    args = sys.argv[1:]
    if "--n-convs" in args:
        n_convs = int(args[args.index("--n-convs") + 1])
    if "--out" in args:
        out_md = args[args.index("--out") + 1]

    input_dir = f"/tmp/yomitoku_scaling_input_{n_convs}"
    if not os.path.exists(os.path.join(input_dir, "_SUCCESS")):
        from yomitoku_spark.datagen import transcripts_df
        from yomitoku_spark.session import get_spark

        spark = get_spark(app="scale_gen")
        # 256 input splits so both parallelism levels have work for every
        # slot (a 100 TB table has orders of magnitude more splits)
        transcripts_df(spark, n_convs=n_convs, seed=42).repartition(256).write.mode(
            "overwrite"
        ).parquet(input_dir)
        spark.stop()

    n_cores = host.cores()
    lo, hi = levels(n_cores)
    results = {}
    for cpus in (lo, hi):
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", str(cpus), input_dir],
            capture_output=True,
            text=True,
            timeout=1800,
        )
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")][-1]
        results[cpus] = json.loads(line)
        print(line)

    r_lo, r_hi = results[lo], results[hi]
    eff_best = (r_lo["wall_sec"] / r_hi["wall_sec"]) / 4
    eff = (r_lo["wall_p50"] / r_hi["wall_p50"]) / 4
    checks_match = r_lo["checksum"] == r_hi["checksum"]
    o_sum, o_n = measure.oracle_checksum(input_dir)
    oracle_match = o_sum == r_lo["checksum"] and o_n == r_lo["n_results"]
    m_lo, m_hi = f"local[{lo}]", f"local[{hi}]"

    os.makedirs(os.path.dirname(out_md), exist_ok=True)
    with open(out_md, "w") as f:
        f.write(f"""# BENCH/BASELINE — scaling + equality evidence

Job: fused extraction (`yomitoku_spark.extract`) over the deterministic
synthetic transcripts table (seed=42, {n_convs} conversations,
{r_lo['n_turns']} turns, one 12× skewed conversation), materialized once
to parquet and read identically by both runs. Each parallelism level is
a fresh JVM pinned (`os.sched_setaffinity`) to one usable core per
task slot ({r_lo['affinity']} and {r_hi['affinity']}); timing is N full passes after one or two untimed
warm-up passes (`tools/measure.py`), summarized by their median. Host: {n_cores} usable cores, so
N = {lo} and 4N = {hi} (N = max(1, cores // 4)).

| parallelism | wall p50 (s) | best | p90 | max/min | turns/sec at p50 |
|---|---|---|---|---|---|
| {m_lo} (N) | {r_lo['wall_p50']} | {r_lo['wall_sec']} | {r_lo['wall_p90']} | {r_lo['wall_spread']} | {r_lo['n_turns'] / r_lo['wall_p50']:.1f} |
| {m_hi} (4N) | {r_hi['wall_p50']} | {r_hi['wall_sec']} | {r_hi['wall_p90']} | {r_hi['wall_spread']} | {r_hi['n_turns'] / r_hi['wall_p50']:.1f} |

GC pinned per child JVM (G1, 200 ms pause target, Xms=Xmx={r_hi['heap']}) — the
wall-time distribution above bounds the reps' spread (target:
max/min < 3 at {m_hi}).

**Scaling efficiency E = (T_{lo} / T_{hi}) / 4 = {eff:.3f}**, T the median wall
(pass threshold ≥ 0.8 per BASELINE.json north_rule: {"PASS" if eff >= 0.8 else "FAIL"};
best-rep E = {eff_best:.3f} — one rep per level, so a single lucky or
perturbed rep moves it; the median does not.)

## Interference evidence

Every timed rep records the two signals that explain wall outliers on
this box, so each outlier is ATTRIBUTED rather than asserted away:

1. **CPU steal time** (`perfbench.host.steal_pct`) — this host is a
   microVM guest, and host-level tenant contention is invisible to
   guest ps/loadavg; steal is the one observable trace of it.
2. **Driver-JVM GC time** (GarbageCollectorMXBeans delta) — local mode
   runs everything in ONE JVM, so a mixed-GC ramp mid-run stalls all
   {hi} cores at once (java CPU drops while wall stretches).

Per-rep 1-min loadavg and, on >2x outlier reps, the concurrent top CPU
consumers are also captured. The median is the headline;
the tables below let a reader match every slow rep to its cause.

- {m_lo} per-rep steal%: {r_lo.get('steal_pcts')}
- {m_hi} per-rep steal%: {r_hi.get('steal_pcts')}
- {m_lo} per-rep driver-JVM GC ms: {r_lo.get('gc_ms_per_rep')}
- {m_hi} per-rep driver-JVM GC ms: {r_hi.get('gc_ms_per_rep')}
- {m_lo} per-rep 1-min loadavg: {r_lo['loadavgs']}
- {m_hi} per-rep 1-min loadavg: {r_hi['loadavgs']}
- {m_lo} walls: {r_lo['all_walls']}
- {m_hi} walls: {r_hi['all_walls']}
- {m_lo} outlier reps: {json.dumps(r_lo.get('outlier_evidence') or 'none')}
- {m_hi} outlier reps: {json.dumps(r_hi.get('outlier_evidence') or 'none')}

## Per-turn equality

- checksum({m_lo}) == checksum({m_hi}): **{checks_match}**
- checksum matches pure-Python oracle over all {o_n} turns: **{oracle_match}**
  (checksum = Σ `perfbench.inputs.turn_checksum` over `conv_id|turn_idx|extracted_text|chars_emitted`
  → equality pass rate 100% at bench scale; the byte-level per-turn gate
  also runs in `tests/test_pipeline.py` via `python -m pytest -x -q`)

Raw: {m_lo} {json.dumps(r_lo)}
Raw: {m_hi} {json.dumps(r_hi)}

Round-specific findings (throughput attribution, operator mode
benchmarks) live in BENCH/NOTES.md — bench_scaling.py regenerates THIS
file only.
""")
    print(f"E = {eff:.3f} (median walls), {eff_best:.3f} (best reps); "
          f"checksums match={checks_match}; oracle match={oracle_match}")
    print(f"wrote {out_md}")


if __name__ == "__main__":
    main()
