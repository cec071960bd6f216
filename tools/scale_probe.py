"""One-shot 10x scale probe of the two flagships (r5 verdict item 7).

Runs, at ~10x the per-round bench input, on get_spark's local[*]:

* fused extraction over a 60k-conversation synthetic transcripts table
  (~1M turns) — walls, turns/sec, the engine's checksum vs the
  pure-Python oracle, and the driver JVM's old-generation peak vs -Xmx
  headroom;
* ``corpus_build_full`` (the whole extraction→dedup→select→JSON brief
  as one plan) over a 10x-replicated documents table (50k docs) — wall,
  result rows, old-generation peak.

Walls follow ``tools/measure.py``'s rule; each peak spans that rule's
warm-up and timed passes.

Prints one JSON line; findings land in BENCH/NOTES.md.

Usage: python tools/scale_probe.py [n_convs] [doc_mult]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.probes import old_gen_peak_mb, reset_old_gen_peak  # noqa: E402
from perfbench.workloads import checksum, noop  # noqa: E402
from tools import measure  # noqa: E402


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 60_000
    doc_mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from yomitoku_spark.datagen import transcripts_df
    from yomitoku_spark.plans.pipeline import extract
    from yomitoku_spark.queries import corpus_build_full
    from yomitoku_spark.session import get_spark

    spark = get_spark(app="scale_probe")
    max_mb = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() // (1 << 20)
    out: dict = {"cpus": spark.sparkContext.defaultParallelism}

    # ---- flagship 1: fused extraction at ~1M turns -------------------
    input_dir = f"/tmp/yomitoku_probe_input_{n_convs}"
    if not os.path.isdir(input_dir):
        transcripts_df(spark, n_convs=n_convs, seed=42).repartition(256).write.mode(
            "overwrite"
        ).parquet(input_dir)
    tdf = spark.read.parquet(input_dir)
    n_turns = tdf.count()

    reset_old_gen_peak(spark)
    walls = [round(r["wall"], 3) for r in measure.timed(spark, lambda: noop(extract(tdf)), 3)]
    peak_mb = round(old_gen_peak_mb(spark))
    spark_sum, n_results = checksum(extract(tdf))
    out["extract"] = {
        "n_turns": int(n_turns),
        "walls": walls,
        "turns_per_sec": round(n_turns / min(walls), 1),
        "peak_heap_mb": peak_mb,
        "max_heap_mb": max_mb,
        "spark_checksum": spark_sum,
        "n_results": n_results,
    }

    # ---- flagship 2: corpus_build_full at 10x documents --------------
    probe_dir = f"/tmp/yomitoku_probe_docs_x{doc_mult}"
    docs_path = f"{probe_dir}/documents.parquet"
    if not os.path.isdir(docs_path):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_docs = d.count()
        reps = [
            d.select(
                (F.col("doc_id") + k * n_docs).alias("doc_id"),
                "text", "lang", "source", "n_chars",
            )
            for k in range(doc_mult)
        ]
        big = reps[0]
        for r in reps[1:]:
            big = big.unionByName(r)
        big.repartition(64).write.mode("overwrite").parquet(docs_path)
    n_docs_big = spark.read.parquet(docs_path).count()

    reset_old_gen_peak(spark)
    rows: list[int] = []
    walls2 = [
        r["wall"]
        for r in measure.timed(
            spark, lambda: rows.append(corpus_build_full(spark, probe_dir).count()), 1
        )
    ]
    peak_mb2 = round(old_gen_peak_mb(spark))
    out["corpus_build_full"] = {
        "n_docs": int(n_docs_big),
        "wall": round(min(walls2), 3),
        "rows": rows[-1],
        "peak_heap_mb": peak_mb2,
        "max_heap_mb": max_mb,
    }
    spark.stop()

    # pure-Python oracle checksum over the same 1M-turn input
    osum, on = measure.oracle_checksum(input_dir)
    out["extract"]["oracle_checksum"] = osum
    out["extract"]["oracle_n"] = on
    out["extract"]["checksum_equal"] = (
        osum == out["extract"]["spark_checksum"] and on == out["extract"]["n_results"]
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
