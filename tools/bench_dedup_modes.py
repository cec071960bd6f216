"""Benchmark dedup_contained's theta vs blocked vs auto plans on
sparse page-like geometry at sf0.1-grade (~20k boxes) and sf1-grade
(~200k boxes) counts, plus the registry's dense stress synthetic.

Evidence for the auto-switch (round-4 stretch): the blocked plan must
win on big sparse inputs (the real-world shape), the theta join on the
degenerate-dense stress row, and 'auto' must land on the winner in
both regimes. Appendable table printed to stdout.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tools import measure  # noqa: E402


def sparse_boxes(spark, n: int):
    """Page-like sparse geometry: a grid of 50x50 boxes at pitch 100,
    with one contained box planted per 10 (10% duplicates)."""
    cols = 300
    base = spark.range(n).select(
        F.col("id"),
        F.struct(
            ((F.col("id") % cols) * 100).cast("int").alias("x1"),
            ((F.col("id") / cols).cast("int") * 100).cast("int").alias("y1"),
            ((F.col("id") % cols) * 100 + 50).cast("int").alias("x2"),
            ((F.col("id") / cols).cast("int") * 100 + 50).cast("int").alias("y2"),
        ).alias("box"),
    )
    inner = (
        spark.range(0, n, 10)
        .select(
            (F.col("id") + 10_000_000).alias("id"),
            F.struct(
                ((F.col("id") % cols) * 100 + 5).cast("int").alias("x1"),
                ((F.col("id") / cols).cast("int") * 100 + 5).cast("int").alias("y1"),
                ((F.col("id") % cols) * 100 + 20).cast("int").alias("x2"),
                ((F.col("id") / cols).cast("int") * 100 + 20).cast("int").alias("y2"),
            ).alias("box"),
        )
    )
    return base.unionByName(inner)


def main():
    from yomitoku_spark.operators import spatial as SP
    from yomitoku_spark.queries import QUERIES
    from yomitoku_spark.session import get_spark

    spark = get_spark(app="dedup_modes")

    def timed(fn):
        return round(min(r["wall"] for r in measure.timed(spark, fn, 3)), 2)

    def row(label, name, strat, wall):
        print(f"{label:<26} {name:<10} {strat:<18} {wall:>8}", flush=True)

    print(f"{'input':<26} {'mode':<10} {'strategy':<18} {'wall_s':>8}", flush=True)
    for label, n in (("sparse sf0.1-grade", 20_000), ("sparse sf1-grade", 200_000)):
        df = sparse_boxes(spark, n).localCheckpoint(eager=True)
        mode, cell = SP.dedup_strategy(df)
        for name, kw in (
            ("theta", {}),
            ("blocked", {"blocked_cell": cell or 100}),
            ("auto", {"blocked_cell": "auto"}),
        ):
            if name == "theta" and n > 50_000:
                # measured once (r5): 71.5 s for 220k boxes vs 1.38 s
                # blocked — skipped from the repeated table
                row(label, name, "(skipped: n²; 71.5 s measured once)", "-")
                continue
            w = timed(
                lambda kw=kw: SP.dedup_contained(df, "id", **kw)
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
            row(label, name, f"auto->{mode},{cell}" if name == "auto" else name, w)

    # the registry's dense stress synthetic: blocking must LOSE here
    # (per-cell lists hold ~everything; pairs materialize through an
    # exchange) and auto must fall back to theta
    from yomitoku_spark.queries import _part_boxes

    dense = _part_boxes(spark, "/root/testdata/sf0.1").localCheckpoint(eager=True)
    mode, cell = SP.dedup_strategy(dense)
    for name, kw in (("theta", {}), ("blocked", None), ("auto", {"blocked_cell": "auto"})):
        if kw is None:
            # blocked_cell=64 measured once (r5): 481 s vs 3.37 s theta
            # — skipped from the repeated table
            row("dense stress (sf0.1)", name, "(skipped: ~n² pairs; 481 s measured once)", "-")
            continue
        w = timed(
            lambda kw=kw: SP.dedup_contained(dense, "p_partkey", **kw)
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        row("dense stress (sf0.1)", name, f"auto->{mode}" if name == "auto" else name, w)
    spark.stop()


if __name__ == "__main__":
    main()
