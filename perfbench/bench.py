"""One benchmark run: set up, measure a closed loop, check, report.

A run sets the session up (``get_spark``, which launches the JVM, plus
one cold pass of the workload), warms the JIT up with a few untimed
iterations, then runs the workload's operation back to back for the
requested seconds with one client, then checks the output against its
referee. Untraced runs give the end-to-end metrics. A traced run
measures twice as long, alternating untraced iterations with iterations
that record spans and Spark counters; it gives the per-layer metrics,
and the tracing overhead as the difference between the two kinds of
iteration. extract_mix's traced run also prices the registry leaves.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
import traceback

import pyarrow
import pyspark

from perfbench import host
from perfbench.probes import JobGroups, Tracer, old_gen_peak_mb, reset_old_gen_peak
from perfbench.workloads import LEAVES, WORKLOADS, RegistryPriced

SIZES = {
    "full": {"n_convs": 800, "n_files": 16, "n_docs": 1000},
    "tiny": {"n_convs": 12, "n_files": 8, "n_docs": 60},
}
HEAP_FRACTION = 1 / 16  # of MemTotal, for the driver JVM
SAMPLE_TURNS = 1500
SAMPLE_REPS = 3
REGISTRY_PASSES = 2  # timed passes over the leaves, after one cold pass

END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "wall_p50_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "input.gen_s": "s",
    "oracle.turns_per_s": "turns/s",
    "segment.textual_us_per_turn": "us",
    "segment.html_us_per_turn": "us",
    "segment.layout_us_per_turn": "us",
    "segment.turns_sampled": "count",
    "reading_order.us_per_layout_turn": "us",
    "pipeline.task_s": "s",
    "pipeline.python_cpu_s": "s",
    "pipeline.jvm_cpu_s": "s",
    "pipeline.jvm_gc_s": "s",
    "pipeline.tasks": "count",
    "pipeline.task_skew": "ratio",
    "pipeline.shuffle_write_bytes": "bytes",
    "checkpoint.first_call_s": "s",
    "checkpoint.resume_call_s": "s",
    "checkpoint.done_buckets_s": "s",
    "checkpoint.waves": "count",
    "checkpoint.rows_scanned_per_turn": "ratio",
    "checkpoint.files_written": "count",
    "checkpoint.stages": "count",
    "checkpoint.python_cpu_s": "s",
    "checkpoint.bytes_written_per_input_byte": "ratio",
    "jvm.old_gen_peak_mb": "MB",
    **{
        f"registry.{leaf}{suffix}": unit
        for leaf in LEAVES
        for suffix, unit in (
            ("_s", "s"),
            (".stages", "count"),
            (".shuffle_write_mb", "MB"),
            (".pinned_rdds", "count"),
            (".roundrobin_exchanges", "count"),
        )
    },
    "trace.overhead_pct": "%",
}


_OFF = Tracer(False)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def git_commit(root: str) -> str:
    try:
        p = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return "unknown"
    return p.stdout.strip() if p.returncode == 0 else "unknown"


class Session:
    """The benchmark's SparkSession, sized to the host from outside the
    engine: cores from the affinity mask, driver heap a fixed fraction
    of MemTotal, plus the workload's own settings."""

    def __init__(self, conf: dict):
        self.master = f"local[{host.cores()}]"
        self.heap_mb = int(host.mem_total_mb() * HEAP_FRACTION)
        self.conf = {
            "spark.driver.memory": f"{self.heap_mb}m",
            # a fixed, pre-touched heap: peak RSS then follows off-heap and
            # Python-worker memory instead of G1's heap-expansion choices
            "spark.driver.defaultJavaOptions": f"-Xms{self.heap_mb}m -XX:+AlwaysPreTouch",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
            **conf,
        }
        self.spark = None

    def start(self):
        from yomitoku_spark.session import get_spark

        self.spark = get_spark(app="perfbench", master=self.master, extra_conf=self.conf)
        return self.spark

    def close(self) -> None:
        """Stop the context, then the JVM, and wait for every process
        this run started to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while host.descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)


class Counts:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def attempt(self, fn):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None


def timed_loop(
    wl, spark, seconds: float, counts: Counts, tr: Tracer, jg: JobGroups | None, rss: host.PeakRss
):
    """Closed loop, one client: the next operation starts when the last
    one ends, until ``seconds`` have passed and at least
    ``wl.min_iterations`` operations ran. With ``jg``, every second
    iteration is traced (spans and Spark counters), so traced and
    untraced iterations see the same warm-up; each kind runs at least
    once. Every iteration's facts hold its peak RSS. Returns {traced:
    (walls, per-iteration facts)}."""
    loops = {False: ([], []), True: ([], [])}
    modes = [False, True] if jg else [False]
    end = time.perf_counter() + seconds

    def ran() -> list[int]:
        return [len(loops[m][0]) for m in modes]

    i = 0
    while min(ran()) < 1 or sum(ran()) < wl.min_iterations or time.perf_counter() < end:
        if counts.failed > 2 * wl.min_iterations:
            break
        traced = modes[i % len(modes)]
        i += 1
        cpu0 = host.cpu_seconds() if traced else None

        def one():
            if not traced:
                return wl.iteration(spark, _OFF, None)
            with tr.span("iteration"):
                return wl.iteration(spark, tr, jg)

        rss.lap()
        r = counts.attempt(one)
        if r is None:
            continue
        wall, f = r
        f["peak_rss_mb"] = rss.lap()
        if traced:
            cpu1 = host.cpu_seconds()
            f["python_cpu_s"] = cpu1["python"] - cpu0["python"]
            f["jvm_cpu_s"] = cpu1["jvm"] - cpu0["jvm"]
            f["stats"] = {g: jg.stats(g) for g in f["groups"]}
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            wl.after_traced_iteration(spark, tr)
        loops[traced][0].append(wall)
        loops[traced][1].append(f)
    return loops


def segment_probe(turns: list[tuple[str, str]], tr: Tracer) -> dict[str, float]:
    """In-process per-turn cost of ``segment_turn`` by payload class
    and of ``reading_order_numpy`` per layout turn, over a fixed sample;
    medians over SAMPLE_REPS passes."""
    import numpy as np

    from yomitoku_spark.oracle import classify_payload
    from yomitoku_spark.operators.reading_order import reading_order_numpy
    from yomitoku_spark.plans.segment import BLOCK_FIELDS, segment_turn

    from perfbench.inputs import payload

    step = max(1, len(turns) // SAMPLE_TURNS)
    sample = turns[::step][:SAMPLE_TURNS]
    classes = [classify_payload(payload(tx, tl)) for tx, tl in sample]
    box_cols = [BLOCK_FIELDS.index(c) for c in ("x1", "y1", "x2", "y2")]
    boxes = [
        np.asarray([[b[c] for c in box_cols] for b in segment_turn(tx, tl)], dtype=np.int64)
        for (tx, tl), cls in zip(sample, classes)
        if cls == "layout"
    ]
    boxes = [b.reshape(-1, 4) for b in boxes if len(b)]
    per_class: dict[str, list[float]] = {"textual": [], "html": [], "layout": []}
    order_us: list[float] = []
    clock = time.perf_counter
    for _ in range(SAMPLE_REPS):
        spent = dict.fromkeys(per_class, 0.0)
        with tr.span("segment.sample_loop"):
            for (tx, tl), cls in zip(sample, classes):
                t0 = clock()
                segment_turn(tx, tl)
                spent[cls] += clock() - t0
        for cls, s in spent.items():
            n = classes.count(cls)
            if n:
                per_class[cls].append(1e6 * s / n)
        with tr.span("reading_order.sample_loop"):
            t0 = clock()
            for b in boxes:
                reading_order_numpy(b, "top2bottom")
            if boxes:
                order_us.append(1e6 * (clock() - t0) / len(boxes))
    return {
        "segment.textual_us_per_turn": _median(per_class["textual"]),
        "segment.html_us_per_turn": _median(per_class["html"]),
        "segment.layout_us_per_turn": _median(per_class["layout"]),
        "segment.turns_sampled": len(sample),
        "reading_order.us_per_layout_turn": _median(order_us),
    }


def oracle_turns_per_s(wl, turns: list[tuple[str, str]]) -> float:
    """Single-thread pure-Python referee throughput: over the whole
    input when it was timed at materialization, else over the turns."""
    if "oracle_s" in wl.meta:
        return wl.meta["n_turns"] / wl.meta["oracle_s"]
    from yomitoku_spark.oracle import extract_payload

    t0 = time.perf_counter()
    for tx, tl in turns:
        extract_payload(tx, tl)
    return len(turns) / (time.perf_counter() - t0)


def layer_metrics(wl, facts: list[dict], tr: Tracer) -> dict[str, float]:
    """Per-layer metrics from the traced loop: medians over iterations.
    A layer the workload does not enter reads 0."""
    m = dict.fromkeys(PER_LAYER, 0.0)

    def med(fn) -> float:
        return _median([fn(f) for f in facts])

    def total(f, key):
        return sum(s[key] for s in f["stats"].values())

    def skew(f):
        d = sorted(x for s in f["stats"].values() for x in s["task_durations"])
        return d[-1] / _median(d) if d and _median(d) > 0 else 0.0

    m["pipeline.task_s"] = med(lambda f: total(f, "task_s"))
    m["pipeline.python_cpu_s"] = med(lambda f: f["python_cpu_s"])
    m["pipeline.jvm_cpu_s"] = med(lambda f: f["jvm_cpu_s"])
    m["pipeline.jvm_gc_s"] = med(lambda f: total(f, "gc_s"))
    m["pipeline.tasks"] = med(lambda f: total(f, "tasks"))
    m["pipeline.task_skew"] = med(skew)
    m["pipeline.shuffle_write_bytes"] = med(lambda f: total(f, "shuffle_write_bytes"))
    if "checkpoint" in wl.layers:
        m["checkpoint.first_call_s"] = tr.median("checkpoint.first_call")
        m["checkpoint.resume_call_s"] = tr.median("checkpoint.resume_call")
        m["checkpoint.done_buckets_s"] = tr.median("checkpoint.done_buckets")
        m["checkpoint.waves"] = med(lambda f: f["waves"])
        m["checkpoint.rows_scanned_per_turn"] = med(
            lambda f: total(f, "input_records") / wl.n_items
        )
        m["checkpoint.files_written"] = med(lambda f: f["files_written"])
        m["checkpoint.stages"] = med(lambda f: total(f, "stages"))
        m["checkpoint.python_cpu_s"] = m["pipeline.python_cpu_s"]
        m["checkpoint.bytes_written_per_input_byte"] = med(
            lambda f: f["bytes_written"] / wl.meta["bytes"]
        )
    return m


def registry_probe(work: str, size: dict, spark, counts: Counts, tr: Tracer):
    """Price the registry leaves in the running session: one cold pass,
    then REGISTRY_PASSES traced ones, each leaf's Spark jobs in a job
    group of its own, then the DuckDB referee over the last pass.
    Returns (per-layer metrics, passes they cover, checks). The leaves
    run under the engine's default split policy, not extract_mix's."""
    reg = RegistryPriced(work, 0, size)
    jg = JobGroups(spark)
    split_conf = "spark.sql.files.minPartitionNum"
    kept = spark.conf.get(split_conf, None)
    spark.conf.unset(split_conf)
    try:
        counts.attempt(lambda: reg.iteration(spark, _OFF, None))
        facts = []
        for _ in range(REGISTRY_PASSES):
            r = counts.attempt(lambda: reg.iteration(spark, tr, jg))
            if r is not None:
                f = r[1]
                f["stats"] = {g: jg.stats(g) for g in f["groups"]}
                facts.append(f)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        checks = counts.attempt(lambda: reg.checks(spark)) if facts else None
    finally:
        if kept is not None:
            spark.conf.set(split_conf, kept)
        reg.release(spark)

    m = {}
    for leaf in LEAVES:
        def leaf_fact(fn):
            return _median([fn(f, f["leaves"][leaf]) for f in facts])

        m[f"registry.{leaf}_s"] = tr.median(f"registry.{leaf}")
        m[f"registry.{leaf}.stages"] = leaf_fact(lambda f, x: f["stats"][x["group"]]["stages"])
        m[f"registry.{leaf}.shuffle_write_mb"] = leaf_fact(
            lambda f, x: f["stats"][x["group"]]["shuffle_write_bytes"] / 1e6
        )
        m[f"registry.{leaf}.pinned_rdds"] = leaf_fact(lambda f, x: x["pinned_rdds"])
        m[f"registry.{leaf}.roundrobin_exchanges"] = leaf_fact(
            lambda f, x: x["roundrobin_exchanges"]
        )
    return m, len(facts), checks or [("registry", "the referee did not run")]


def run(root: str, workload: str, seed: int, seconds: float, trace: bool, size: str = "full"):
    """Run one workload; return (report lines, result object)."""
    work = os.path.join(root, "perfbench", ".work")
    wl = WORKLOADS[workload](work, seed, SIZES[size])
    sess = Session(wl.session_conf)
    counts = Counts()
    tr = Tracer(trace)
    lines = [
        f"input workload={workload} seed={seed} "
        + " ".join(f"{k}={v}" for k, v in wl.meta.items() if k not in ("seed", "oracle_checksum"))
    ]
    try:
        t0 = time.perf_counter()
        spark = sess.start()
        get_spark_s = time.perf_counter() - t0
        # the set-up pass is cold: its inner spans would skew the
        # per-layer medians, so only the set-up itself is recorded
        with tr.span("setup"):
            counts.attempt(lambda: wl.iteration(spark, _OFF, None))
        setup_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        for _ in range(wl.warmup_iterations):
            counts.attempt(lambda: wl.iteration(spark, _OFF, None))
        lines.append(
            f"setup total_s={setup_s:.3f} get_spark_s={get_spark_s:.3f} "
            f"warmup_s={time.perf_counter() - t1:.3f} warmup_iterations={wl.warmup_iterations}"
        )

        jiffies0 = host.cpu_jiffies()
        jg = JobGroups(spark) if trace else None
        reset_old_gen_peak(spark)
        with host.PeakRss() as rss:
            loops = timed_loop(wl, spark, seconds * (2 if trace else 1), counts, tr, jg, rss)
        old_gen_peak = old_gen_peak_mb(spark)
        steal = host.steal_pct(jiffies0, host.cpu_jiffies())
        load = host.loadavg()
        walls, loop_facts = loops[False]
        if not walls:
            raise RuntimeError(f"{workload}: every timed iteration failed")
        wall = _median(walls)
        metrics = {
            "setup_s": setup_s,
            "turns_per_s": wl.n_items / wall,
            "wall_p50_s": wall,
            "peak_rss_mb": _median([f["peak_rss_mb"] for f in loop_facts]),
        }
        samples = dict.fromkeys(metrics, len(walls))
        samples["setup_s"] = 1
        lines.append(f"memory heap_mb={sess.heap_mb} old_gen_peak_mb={old_gen_peak:.1f}")
        written = [f["bytes_written"] for f in loop_facts if "bytes_written" in f]

        if trace:
            twalls, facts = loops[True]
            turns = wl.sample_turns(spark)
            layers = layer_metrics(wl, facts, tr)
            layers.update(segment_probe(turns, tr))
            layers["session.get_spark_s"] = get_spark_s
            layers["jvm.old_gen_peak_mb"] = old_gen_peak
            layers["input.gen_s"] = wl.meta["gen_s"]
            layers["oracle.turns_per_s"] = oracle_turns_per_s(wl, turns)
            layers["trace.overhead_pct"] = 100 * (_median(twalls) / wall - 1) if twalls else 0.0
            layer_n = dict.fromkeys(layers, len(facts))

        checks = counts.attempt(lambda: wl.checks(spark)) or []
        if trace and "registry" in wl.layers:
            registry, registry_n, registry_checks = registry_probe(
                work, SIZES[size], spark, counts, tr
            )
            layers.update(registry)
            layer_n.update(dict.fromkeys(registry, registry_n))
            checks += [(f"registry.{name}", problem) for name, problem in registry_checks]
        for name, problem in checks:
            counts.attempted += 1
            counts.failed += problem is not None
            lines.append(f"check {name} {'ok' if problem is None else 'FAILED: ' + problem}")
    finally:
        sess.close()
        wl.cleanup()
        if trace:
            tr.write(os.path.join(work, f"trace-{workload}-s{seed}-{tr.run_id}.jsonl"))

    lines.insert(
        0,
        f"host nproc={host.cores()} mem_total_mb={host.mem_total_mb():.0f} "
        f"heap_mb={sess.heap_mb} master={sess.master} pyspark={pyspark.__version__} "
        f"pyarrow={pyarrow.__version__} python={sys.version.split()[0]} "
        f"commit={git_commit(root)} steal_pct={steal:.2f} loadavg={load:.2f}",
    )
    error_rate = counts.failed / counts.attempted
    shown = dict(metrics, error_rate=error_rate)
    units = dict(END_TO_END, error_rate="ratio", bytes_written_per_input_byte="ratio")
    samples["error_rate"] = counts.attempted
    if written:
        shown["bytes_written_per_input_byte"] = _median(written) / wl.meta["bytes"]
        samples["bytes_written_per_input_byte"] = len(written)
    lines.append(f"walls {workload} " + " ".join(f"{w:.3f}" for w in walls))
    for k, v in shown.items():
        lines.append(f"metric {workload} {k} {v:.6g} {units[k]} n={samples[k]}")
    if trace:
        for k, v in layers.items():
            lines.append(f"layer {workload} {k} {v:.6g} {PER_LAYER[k]} n={layer_n[k]}")
        chosen, chosen_units = layers, PER_LAYER
    else:
        chosen, chosen_units = metrics, END_TO_END
    correct = counts.failed == 0
    lines.append(
        f"verdict workload={workload} correct={str(correct).lower()} "
        f"attempted={counts.attempted} failed={counts.failed}"
    )
    result = {
        "correct": correct,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": {k: {"value": v, "unit": chosen_units[k]} for k, v in chosen.items()},
    }
    return lines, result
