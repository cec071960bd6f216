"""Split OCR word boxes that span several table cells at cell
boundaries.

Re-expression of the reference's ``_split_text_across_cells``
(/root/reference/src/yomitoku/document_analyzer.py:270-423):

* words ≥0.5-contained in a table box participate (is_contained,
  misc.py:53-72); all others pass through unchanged;
* a participating word is horizontal unless height > 2·width
  (is_vertical, document_analyzer.py:240-245);
* a horizontal word is allocated to the ROW line with the maximum
  overlap ratio (first max / lowest row index on ties — the ratio's
  denominator is the word area, so integer overlap AREA has the same
  argmax); vertical words allocate to a COLUMN line symmetrically;
* the word is clipped against every cell covering the allocated line
  (cell.row ≤ r < cell.row + row_span): the piece keeps the word's
  perpendicular extent and takes the intersection along the split axis
  (document_analyzer.py:303-380); empty intersections are skipped;
* pieces under the noise threshold (width < 15 or height < 15,
  is_noise document_analyzer.py:248-253) are dropped — a word whose
  pieces are all noise vanishes, like the reference.

Inputs are the recovered grid tables (cells with row/col/spans from
:mod:`yomitoku_spark.operators.grid`). The reference clips against its
detector's row/col line boxes; here the lines are derived from the
unit-span cells' extents (row line r = the bounding box of cells with
``row == r, row_span == 1``) — the same lines grid recovery clustered.

Everything is an equi-join on (doc_id[, table_id]) plus integer
column arithmetic — no Python in the plan; the scalar twin in
``tests/test_grid.py`` backs the hypothesis parity test, and the
registry query ``split_words_across_cells`` carries a DuckDB referee.

A word ≥0.5-contained in TWO overlapping tables is split independently
in each — the same behavior as the reference, whose per-table loop
collects pieces for every containing table (``check_list`` only
controls pass-through, document_analyzer.py:383-401). Upstream
table-dedup (spatial.dedup_contained) is the place to resolve
overlapping table detections, not this operator. The scalar twin
models a single table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

NOISE_TH = 15
CONTAIN_NUM = 2  # containment threshold 0.5 ⇔ 2·overlap > area


def _ov(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    w = F.greatest(F.least(ax2, bx2) - F.greatest(ax1, bx1), F.lit(0))
    h = F.greatest(F.least(ay2, by2) - F.greatest(ay1, by1), F.lit(0))
    return w.cast("bigint") * h.cast("bigint")


def split_words_across_cells(words: DataFrame, cells: DataFrame) -> DataFrame:
    """words(doc_id, word_id, x1, y1, x2, y2) ×
    cells(doc_id, table_id, cell_id, row, col, row_span, col_span,
    x1, y1, x2, y2) → (doc_id, word_id, part, x1, y1, x2, y2) where
    ``part`` is the clipped-to cell_id ('' for pass-through words)."""
    w = words.select(
        "doc_id", "word_id",
        F.col("x1").alias("wx1"), F.col("y1").alias("wy1"),
        F.col("x2").alias("wx2"), F.col("y2").alias("wy2"),
    )
    c = cells.select(
        "doc_id", "table_id", "cell_id", "row", "col", "row_span", "col_span",
        F.col("x1").alias("cx1"), F.col("y1").alias("cy1"),
        F.col("x2").alias("cx2"), F.col("y2").alias("cy2"),
    )
    tables = c.groupBy("doc_id", "table_id").agg(
        F.min("cx1").alias("tx1"), F.min("cy1").alias("ty1"),
        F.max("cx2").alias("tx2"), F.max("cy2").alias("ty2"),
    )
    row_lines = (
        c.filter(F.col("row_span") == 1)
        .groupBy("doc_id", "table_id", "row")
        .agg(
            F.min("cx1").alias("lx1"), F.min("cy1").alias("ly1"),
            F.max("cx2").alias("lx2"), F.max("cy2").alias("ly2"),
        )
    )
    col_lines = (
        c.filter(F.col("col_span") == 1)
        .groupBy("doc_id", "table_id", "col")
        .agg(
            F.min("cx1").alias("lx1"), F.min("cy1").alias("ly1"),
            F.max("cx2").alias("lx2"), F.max("cy2").alias("ly2"),
        )
    )

    warea = ((F.col("wx2") - F.col("wx1")).cast("bigint")
             * (F.col("wy2") - F.col("wy1")).cast("bigint"))
    contained = (
        _ov(F.col("tx1"), F.col("ty1"), F.col("tx2"), F.col("ty2"),
            F.col("wx1"), F.col("wy1"), F.col("wx2"), F.col("wy2"))
        * CONTAIN_NUM
        > warea
    )
    wt = w.join(tables, "doc_id").filter(contained)
    is_vert = (F.col("wy2") - F.col("wy1")) > 2 * (F.col("wx2") - F.col("wx1"))

    line_ov = _ov(
        F.col("wx1"), F.col("wy1"), F.col("wx2"), F.col("wy2"),
        F.col("lx1"), F.col("ly1"), F.col("lx2"), F.col("ly2"),
    )

    def allocate(side, lines, line_key):
        cand = side.join(lines, ["doc_id", "table_id"]).withColumn("__ov", line_ov)
        pick = W.partitionBy("doc_id", "table_id", "word_id").orderBy(
            F.desc("__ov"), F.asc(line_key)
        )
        return (
            cand.withColumn("__rk", F.row_number().over(pick))
            .filter(F.col("__rk") == 1)
            .select("doc_id", "table_id", "word_id",
                    "wx1", "wy1", "wx2", "wy2", F.col(line_key).alias("__line"))
        )

    ix1 = F.greatest(F.col("wx1"), F.col("cx1"))
    iy1 = F.greatest(F.col("wy1"), F.col("cy1"))
    ix2 = F.least(F.col("wx2"), F.col("cx2"))
    iy2 = F.least(F.col("wy2"), F.col("cy2"))
    has_int = (ix1 < ix2) & (iy1 < iy2)

    halloc = allocate(wt.filter(~is_vert), row_lines, "row")
    hpieces = (
        halloc.join(c, ["doc_id", "table_id"])
        .filter((F.col("row") <= F.col("__line"))
                & (F.col("__line") < F.col("row") + F.col("row_span")))
        .filter(has_int)
        .select(
            "doc_id", "word_id", F.col("cell_id").alias("part"),
            ix1.alias("x1"), F.col("wy1").alias("y1"),
            ix2.alias("x2"), F.col("wy2").alias("y2"),
        )
    )
    valloc = allocate(wt.filter(is_vert), col_lines, "col")
    vpieces = (
        valloc.join(c, ["doc_id", "table_id"])
        .filter((F.col("col") <= F.col("__line"))
                & (F.col("__line") < F.col("col") + F.col("col_span")))
        .filter(has_int)
        .select(
            "doc_id", "word_id", F.col("cell_id").alias("part"),
            F.col("wx1").alias("x1"), iy1.alias("y1"),
            F.col("wx2").alias("x2"), iy2.alias("y2"),
        )
    )
    pieces = hpieces.unionByName(vpieces).filter(
        ((F.col("x2") - F.col("x1")) >= NOISE_TH)
        & ((F.col("y2") - F.col("y1")) >= NOISE_TH)
    )

    matched = wt.select("doc_id", "word_id").distinct()
    passthrough = w.join(matched, ["doc_id", "word_id"], "left_anti").select(
        "doc_id", "word_id", F.lit("").alias("part"),
        F.col("wx1").alias("x1"), F.col("wy1").alias("y1"),
        F.col("wx2").alias("x2"), F.col("wy2").alias("y2"),
    )
    return pieces.unionByName(passthrough)
