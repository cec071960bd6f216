"""10x scale probe for the single-pass ANN index paths (r7 items
10-11): ivf_flat/lloyd, ivf_pq, semdedup and quantized-LSH topk over a
10x-replicated embeddings table, 1x vs 10x wall + peak heap.

The replica keeps the 1x geometry realistic instead of degenerate:
block b shifts every component by a tiny deterministic per-(block, id)
offset, so replicated vectors are near but not equal to their
originals and cell/bucket occupancy grows ~10x like a larger corpus
(naive duplication would give every vector 9 exact twins — a dedup
stress test, not a bigger corpus).

Usage: python tools/scale_probe_ann.py [mult]   (default 10)
Prints one JSON line; findings land in OPTIMIZATION_r07.md.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools import measure
from yomitoku_spark.operators import similarity as SIM
from yomitoku_spark.session import get_spark


def _probe(name, build, spark):
    """Best wall of ``build()`` to the noop sink. ``measure`` releases
    only the blocks each pass pins (the operators' internal
    localCheckpoints), so the shared replica table built outside the
    probe stays resident across reps."""
    spark.sparkContext.setJobDescription(f"scale_probe_ann:{name}")
    recs = measure.timed(spark, lambda: build().write.format("noop").mode("overwrite").save(), 3)
    return round(min(r["wall"] for r in recs), 2)


def main():
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app="scale_probe_ann")
    e1 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n1 = e1.count()
    blocks = spark.range(mult).select(F.col("id").alias("blk"))
    e10 = (
        e1.crossJoin(blocks)
        .select(
            (F.col("vec_id") + F.col("blk") * n1).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                + ((F.col("blk") * 9973 + i * 31 + F.col("vec_id")) % 41 - 20)
                / 10000.0,
            ).alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )
    out = {"mult": mult, "n1": n1, "n10": e10.count()}
    # sqrt-n cells at each size keeps per-cell list sizes comparable —
    # the knob a real deployment turns as the corpus grows
    cases = {
        "ivf_flat": lambda df, nc, npl: SIM.ivf_flat_topk(
            df, n_cells=nc, n_probe=2, k=3
        ),
        "ivf_lloyd": lambda df, nc, npl: SIM.ivf_flat_topk(
            df, n_cells=nc, n_probe=2, k=3, lloyd_iters=2
        ),
        "ivf_pq": lambda df, nc, npl: SIM.ivf_pq_topk(
            df, n_cells=nc, n_probe=4, k=3, n_codes=64, m=8, rerank=32
        ),
        "semdedup": lambda df, nc, npl: SIM.semdedup_keepers(
            df, n_cells=nc, lloyd_iters=2
        ),
        # n_planes is LSH's corpus-growth knob (the analog of sqrt-n
        # cells): planes ~ log2(n / target_bucket_occupancy) keeps
        # per-bucket pair work flat as the corpus grows. A FIXED plane
        # count at 10x data gives ~100x bucket-pair work by
        # construction (measured 43x wall) — the same frozen-config
        # quadratic the r7 doc notes for semdedup's frozen n_cells.
        "lsh_multiprobe": lambda df, nc, npl: SIM.lsh_ann_topk_quantized(
            df, n_planes=npl, n_tables=2, n_flip=3
        ),
    }
    import math

    cells1 = max(8, int(n1**0.5))
    cells10 = max(8, int((n1 * mult) ** 0.5))
    planes1 = max(4, int(math.log2(max(2, n1 // 32))))
    planes10 = max(4, int(math.log2(max(2, n1 * mult // 32))))
    for name, fn in cases.items():
        w1 = _probe(f"{name}@1x", lambda: fn(e1, cells1, planes1), spark)
        w10 = _probe(f"{name}@{mult}x", lambda: fn(e10, cells10, planes10), spark)
        out[name] = {"w1": w1, "w10": w10, "ratio": round(w10 / w1, 1)}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
