"""Geometric column-header derivation for recovered table grids.

Re-expression of the reference's bottom-up grid header logic
(/root/reference/src/yomitoku/grid_parser.py):

* span-expanded unit grid — a spanning cell occupies every (row, col)
  position it covers (``_expand_grid_to_unit`` / dup-suffix removal,
  grid_parser.py:608-633);
* header rows — a grid row whose PRESENT cells are all role
  ``header``/``empty`` (absent positions count as empty,
  grid_parser.py:804-806);
* ``col_headers`` — per column, the distinct cells found at header-row
  positions, ordered by box top (y1) — grid_parser.py:635-671;
* header demotion — a ``header``-role cell that sits in the grid but in
  no header row is reclassified ``cell`` (grid_parser.py:663-671);
* same-column merge — columns whose LAST (bottom-most) header is the
  same cell are merged (grid_parser.py:733-784). The reference runs a
  UnionFind over pairwise last-header equality; equality is transitive,
  so the components are exactly the equality classes — here one
  window aggregation (min col per last-header cell), no iteration, no
  shuffle beyond the groupBy. Deviation (documented): merged columns
  are labeled by their MINIMUM original column index, where the
  reference emits ``UnionFind.groups()`` insertion order — a stable
  relabeling of the same partition.

Grid assignment itself reuses :func:`yomitoku_spark.operators.grid.
recover_grid_numpy` (O(10²) cells per table → grouped pandas UDF;
embarrassingly parallel across (doc, grid) groups at corpus scale).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from yomitoku_spark.operators.grid import recover_grid_numpy

HEADER_OK_ROLES = ("header", "empty")


def assign_grid(cells: DataFrame) -> DataFrame:
    """cells(doc_id, grid_id, cell_id, role, x1, y1, x2, y2[, contents])
    → + (row, col, row_span, col_span) per cell, recovered from box
    geometry per (doc_id, grid_id) group."""
    cols = [c for c in cells.columns]
    schema = ", ".join(
        {
            "doc_id": "doc_id bigint",
            "grid_id": "grid_id string",
            "cell_id": "cell_id string",
            "role": "role string",
            "contents": "contents string",
            "x1": "x1 int",
            "y1": "y1 int",
            "x2": "x2 int",
            "y2": "y2 int",
        }[c]
        for c in cols
    ) + ", row int, col int, row_span int, col_span int"

    def per_grid(pdf: pd.DataFrame) -> pd.DataFrame:
        g = recover_grid_numpy(pdf[["x1", "y1", "x2", "y2"]].to_numpy())
        return pdf.assign(
            row=g[:, 0].astype("int32"),
            col=g[:, 1].astype("int32"),
            row_span=g[:, 2].astype("int32"),
            col_span=g[:, 3].astype("int32"),
        )

    return cells.groupBy("doc_id", "grid_id").applyInPandas(per_grid, schema=schema)


def expand_units(assigned: DataFrame) -> DataFrame:
    """Span-expanded unit coverage: one row per (row, col) position a
    cell occupies (grid_parser.py:608-633 unit expansion with the
    ``__dup`` suffixes already folded away — positions keep the
    original cell_id)."""
    return assigned.select(
        "doc_id",
        "grid_id",
        "cell_id",
        "role",
        "y1",
        F.explode(
            F.sequence(F.col("row"), F.col("row") + F.col("row_span") - 1)
        ).alias("r"),
        "col",
        "col_span",
    ).select(
        "doc_id",
        "grid_id",
        "cell_id",
        "role",
        "y1",
        "r",
        F.explode(
            F.sequence(F.col("col"), F.col("col") + F.col("col_span") - 1)
        ).alias("c"),
    )


def derive_grid_headers(
    cells: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Full geometric header derivation from raw graded cells.

    Returns ``(headers, data, demoted, colmap)``:

    * headers(doc_id, grid_id, col, hdr_pos, cell_id) — the long-form
      ``col_headers`` (reference TableGridSchema.col_headers);
    * data(doc_id, grid_id, row, col, cell_id) — the span-expanded unit
      grid (header rows included; consumers skip all-header rows, as
      extract_table_field does);
    * demoted(doc_id, grid_id, cell_id) — header-role cells reclassified
      to ``cell`` (in the grid, in no header row);
    * colmap(doc_id, grid_id, col, merged_col) — same-column merge map
      (identity when no two columns share a trailing header).

    ``units`` feeds four consumers (header rows, header stacks,
    demotions, data), so each call pins it once as a local checkpoint;
    without it each output re-runs the grouped grid-recovery UDF. No
    state is kept between calls: every call derives its own ``units``.
    """
    # lazy: the first action that reads units computes and pins it
    # inside its own job, and the other consumers read the pinned
    # blocks; an eager checkpoint adds a separate job per call that
    # measured slower on the grid registry rows
    units = expand_units(assign_grid(cells)).localCheckpoint(eager=False)

    is_ok = F.col("role").isin(*HEADER_OK_ROLES).cast("int")
    hdr_rows = (
        units.groupBy("doc_id", "grid_id", "r")
        .agg(F.min(is_ok).alias("ok"))
        .filter(F.col("ok") == 1)
        .select("doc_id", "grid_id", "r")
    )
    hdr_cells = (
        units.join(hdr_rows, ["doc_id", "grid_id", "r"])
        .select("doc_id", "grid_id", F.col("c").alias("col"), "cell_id", "y1")
        .distinct()
    )
    wpos = W.partitionBy("doc_id", "grid_id", "col").orderBy("y1", "cell_id")
    headers = hdr_cells.select(
        "doc_id",
        "grid_id",
        "col",
        (F.row_number().over(wpos) - 1).cast("int").alias("hdr_pos"),
        "cell_id",
    )

    data = units.select(
        "doc_id", "grid_id", F.col("r").alias("row"), F.col("c").alias("col"), "cell_id"
    ).distinct()

    header_ids = headers.select("doc_id", "grid_id", "cell_id").distinct()
    demoted = (
        units.filter(F.col("role") == "header")
        .select("doc_id", "grid_id", "cell_id")
        .distinct()
        .join(header_ids, ["doc_id", "grid_id", "cell_id"], "left_anti")
    )

    wlast = W.partitionBy("doc_id", "grid_id", "col").orderBy(F.desc("hdr_pos"))
    last = (
        headers.withColumn("__rk", F.row_number().over(wlast))
        .filter(F.col("__rk") == 1)
        .select("doc_id", "grid_id", "col", F.col("cell_id").alias("last_cell"))
    )
    wmerge = W.partitionBy("doc_id", "grid_id", "last_cell")
    colmap = last.select(
        "doc_id",
        "grid_id",
        "col",
        F.min("col").over(wmerge).cast("int").alias("merged_col"),
    )
    return headers, data, demoted, colmap


def merged_grid_data(
    cells: DataFrame, data: DataFrame, colmap: DataFrame
) -> DataFrame:
    """Apply the same-column merge to the unit grid: per (row,
    merged_col), concatenate member cell contents in column order and
    join ids with '_' (reference merge_cells, grid_parser.py:694-784;
    contents are stripped after concatenation like the reference)."""
    j = data.join(colmap, ["doc_id", "grid_id", "col"]).join(
        cells.select("doc_id", "grid_id", "cell_id", "contents"),
        ["doc_id", "grid_id", "cell_id"],
        "left",
    )
    per_cell = j.groupBy("doc_id", "grid_id", "row", "merged_col").agg(
        F.array_sort(
            F.collect_list(
                F.struct("col", "cell_id", F.coalesce("contents", F.lit("")).alias("v"))
            )
        ).alias("cs")
    )
    # a spanning cell may occupy several merged columns' unit positions;
    # dedupe consecutive ids like the dup-suffix fold
    uniq = F.array_distinct(F.transform("cs", lambda s: s["cell_id"]))
    return per_cell.select(
        "doc_id",
        "grid_id",
        "row",
        "merged_col",
        F.array_join(uniq, "_").alias("cell_ids"),
        F.trim(
            F.array_join(
                F.transform(
                    F.array_distinct(
                        F.transform(
                            "cs",
                            lambda s: F.struct(
                                s["cell_id"].alias("cell_id"), s["v"].alias("v")
                            ),
                        )
                    ),
                    lambda s: s["v"],
                ),
                "",
            )
        ).alias("contents"),
    )
