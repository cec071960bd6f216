"""The two benchmark workloads, and the registry leaves their traced
runs price.

Each workload owns its input and offers one closed-loop operation
(``iteration``), the referee checks of its output (``checks``) and the
per-layer facts only it can see. Every call into the engine is wrapped
in a span; with tracing on, the Spark jobs of each call are tagged with
a job group so their stage counters can be read back. The registry
leaves are not a workload of their own: extract_mix's traced run passes
over them after its timed loop (``RegistryPriced``).
"""

from __future__ import annotations

import inspect
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.probes import JobGroups, Tracer
from yomitoku_spark.plans import checkpoint
from yomitoku_spark.plans.pipeline import extract
from yomitoku_spark.queries import ORACLE, QUERIES

LEAVES = [
    "kmv_sample_tokens",
    "bm25_retrieval_topk",
    "winnowing_near_pairs",
    "containment_near_pairs",
    "hll_distinct_tokens",
]


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def checksum(df) -> tuple[str, int]:
    """(Σ per-turn checksum, row count) of an extraction result."""
    r = (
        df.select(F.expr(inputs.CHECK_EXPR).cast("decimal(38,0)").alias("h"))
        .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    return str(r.s if r.s is not None else 0), int(r.n)


def checksum_check(name: str, df, meta: dict) -> tuple[str, str | None]:
    got, n = checksum(df)
    if n != meta["n_turns"]:
        return name, f"{n} result rows for {meta['n_turns']} input turns"
    if got != meta["oracle_checksum"]:
        return name, f"checksum {got} != oracle {meta['oracle_checksum']}"
    return name, None


def _group(jg: JobGroups | None, label: str) -> str | None:
    return jg.tag(label) if jg else None


class Workload:
    """Settings and hooks a workload may override, with their defaults."""

    # untimed iterations after the set-up pass: the JVM's JIT is still
    # compiling through the first few, which run up to 30 % slower
    warmup_iterations = 3
    # timed iterations a run takes at least, whatever --seconds says
    min_iterations = 5

    def after_traced_iteration(self, spark, tr: Tracer) -> None:
        """Time what only runs between traced iterations."""

    def cleanup(self) -> None:
        """Remove what the iterations wrote."""


class ExtractMix(Workload):
    """Fused ``extract`` over the seeded payload mix, noop sink."""

    name = "extract_mix"
    layers = ("pipeline", "registry")

    def __init__(self, work: str, seed: int, size: dict):
        self.path, self.meta = inputs.transcripts(work, seed, size["n_convs"], size["n_files"])
        self.n_items = self.meta["n_turns"]
        # one scan split per input file: Spark would otherwise pack the
        # small files into one split per core, and one straggler would
        # set the wall (a departure from production; BENCHMARK.md)
        self.session_conf = {"spark.sql.files.minPartitionNum": str(self.meta["files"])}

    def read(self, spark):
        return spark.read.parquet(self.path)

    def iteration(self, spark, tr: Tracer, jg: JobGroups | None) -> tuple[float, dict]:
        groups = [_group(jg, "extract")]
        t0 = time.perf_counter()
        with tr.span("pipeline.extract"):
            noop(extract(self.read(spark)))
        return time.perf_counter() - t0, {"groups": groups}

    def checks(self, spark) -> list[tuple[str, str | None]]:
        return [checksum_check("extract_checksum", extract(self.read(spark)), self.meta)]

    def sample_turns(self, spark) -> list[tuple[str, str]]:
        t = pq.read_table(self.path, columns=["text", "tool"])
        return list(zip(t.column("text").to_pylist(), t.column("tool").to_pylist()))


class ResumableMix(ExtractMix):
    """``run_resumable`` into a fresh directory, interrupted after half
    the waves and resumed to completion."""

    name = "resumable_mix"
    layers = ("pipeline", "checkpoint")
    # its iterations take three times as long as extract_mix's: fewer of
    # them keep a full comparison within its time budget (BENCHMARK.md)
    warmup_iterations = 2
    min_iterations = 4

    _defaults = inspect.signature(checkpoint.run_resumable).parameters
    N_BUCKETS = _defaults["n_buckets"].default
    WAVE_SIZE = _defaults["wave_size"].default

    def __init__(self, work: str, seed: int, size: dict):
        super().__init__(work, seed, size)
        # default split packing: the input conf would also split every
        # small result and state file the waves read back
        self.session_conf = {}
        self.n_waves = -(-self.N_BUCKETS // self.WAVE_SIZE)
        self.out_root = os.path.join(work, "resumable")
        self.last_out: str | None = None
        self._k = 0

    def _waves(self, buckets: int) -> int:
        return -(-buckets // self.WAVE_SIZE)

    def iteration(self, spark, tr: Tracer, jg: JobGroups | None) -> tuple[float, dict]:
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self._k += 1
        out = os.path.join(self.out_root, f"iter-{self._k}")
        shutil.rmtree(out, ignore_errors=True)
        groups = [_group(jg, "run_resumable")]
        t0 = time.perf_counter()
        with tr.span("checkpoint.first_call"):
            first = checkpoint.run_resumable(
                self.read(spark), out, max_waves=self.n_waves // 2
            )
        with tr.span("checkpoint.resume_call"):
            rest = checkpoint.run_resumable(self.read(spark), out)
        wall = time.perf_counter() - t0
        self.last_out = out
        on_disk = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs]
        return wall, {
            "groups": groups,
            "waves": self._waves(first) + self._waves(rest),
            "files_written": sum(f.endswith(".parquet") for f in on_disk),
            "bytes_written": sum(os.path.getsize(f) for f in on_disk),
        }

    def after_traced_iteration(self, spark, tr: Tracer) -> None:
        with tr.span("checkpoint.done_buckets"):
            checkpoint.done_buckets(spark, self.last_out)

    def cleanup(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)

    def checks(self, spark) -> list[tuple[str, str | None]]:
        out = self.last_out
        want = set(range(self.N_BUCKETS))
        done = checkpoint.done_buckets(spark, out)
        state = checkpoint.read_state(spark, out).agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("bucket").alias("buckets"),
            F.sum("n_turns").alias("turns"),
        ).collect()[0]
        once = None
        if done != want:
            once = f"{len(want - done)} buckets not done"
        elif state.rows != len(want) or state.buckets != len(want):
            once = f"{state.rows} state rows for {state.buckets}/{len(want)} buckets"
        elif state.turns != self.n_items:
            once = f"state counts {state.turns} turns of {self.n_items}"
        return [
            ("resumable_exactly_once", once),
            checksum_check("resumable_checksum", checkpoint.read_result(spark, out), self.meta),
        ]


class _Collected:
    """Stands in for a leaf's DataFrame in ``compare_query``, handing it
    the rows a timed pass already collected."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class RegistryPriced:
    """One pass of each of five registry leaves over a fixed documents
    table, results collected to the driver, pinned blocks released
    between leaves."""

    def __init__(self, work: str, seed: int, size: dict):
        # the registry reads fixed tables, as its reference ones are: the seed
        # does not apply
        self.path, self.meta = inputs.documents(work, size["n_docs"])
        self.n_items = self.meta["n_docs"]
        self.session_conf = {}
        self.last_rows: dict = {}

    @staticmethod
    def release(spark) -> None:
        spark.catalog.clearCache()
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)

    def iteration(self, spark, tr: Tracer, jg: JobGroups | None) -> tuple[float, dict]:
        wall, groups, leaves = 0.0, [], {}
        for leaf in LEAVES:
            g = _group(jg, leaf)
            since = jg.sql_execution_count() if jg else 0
            t0 = time.perf_counter()
            with tr.span(f"registry.{leaf}"):
                self.last_rows[leaf] = QUERIES[leaf](spark, self.path).toPandas()
            wall += time.perf_counter() - t0
            if jg:
                groups.append(g)
                leaves[leaf] = {
                    "group": g,
                    "pinned_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
                    "roundrobin_exchanges": jg.roundrobin_exchanges(since),
                }
            self.release(spark)
        return wall, {"groups": groups, "leaves": leaves}

    def checks(self, spark) -> list[tuple[str, str | None]]:
        import duckdb

        from yomitoku_spark.oracle_compare import compare_query

        con = duckdb.connect()
        try:
            con.sql(
                "CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(self.path, 'documents.parquet')}'"
            )
            return [
                (leaf, compare_query(
                    spark, con, leaf, lambda s, d, leaf=leaf: _Collected(self.last_rows[leaf]),
                    ORACLE[leaf], self.path,
                ))
                for leaf in LEAVES
            ]
        finally:
            con.close()



WORKLOADS = {w.name: w for w in (ExtractMix, ResumableMix)}
