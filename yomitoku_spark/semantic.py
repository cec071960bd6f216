"""Semantic field extraction over layout tables (the full rule cascade).

Re-expression of the reference's rule extractor
(/root/reference/src/yomitoku/extractor/rule_pipeline.py) as set-based
DataFrame plans. The reference resolves one document at a time through
a priority cascade; here every tier is evaluated corpus-wide as a join
or filter, and the cascade itself is an ordered pick (min tier, then
the tier's own deterministic order) — one window per field, all
documents in parallel.

Scalar-field cascade (rule_pipeline.py:141-262), tier order:

1. ``cell_id`` equi lookup                     (:23-42,  high)
2. ``bbox`` containment, ratio > 0.5           (:45-65,  high)
3. KV-item key substring; ``merge_values``     (:152-206, high)
   joins multiple values ordered by the wider axis spread
   (table_semantic_parser.py:462-514)
4. cell-content substring                      (:208-227, medium)
5. paragraph substring                         (:229-248, medium)
6. regex over cells → paragraphs → words       (:68-138, high)
7. not_found fallback                          (:255-262, low)

Text matching normalizes by stripping half/full-width spaces only
(schemas/table_semantic_parser.py:43-45). The reference resolves
first-match by dict-insertion order; Spark needs a total order, so
every tier picks by (y1, x1, id) — documented deviation, identical on
layouts where insertion order is reading order.

Table-field extraction (rule_pipeline.py:265-361): grid columns are
matched to schema columns by cell_id / bbox-overlap>0.5 / normalized
substring of the concatenated column-header text; a grid column maps to
the FIRST matching schema column; a schema column may collect several
grid columns (values concatenated in column order). Header-only rows
are skipped.

Template application (schemas/table_semantic_parser.py:748-794):
template tables are matched to document tables (groups here) by
position argmax (overlap/table_area > 0.5), then template cells
override role/contents by cell_id (or bbox containment fallback).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from yomitoku_spark.extractor import check_field_names, read_yaml
from yomitoku_spark.operators import spatial as SP


def norm_text(col) -> F.Column:
    """Strip half/full-width spaces (reference normalize,
    schemas/table_semantic_parser.py:43-45)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "[ 　]", "")


def _lit_box(b) -> F.Column:
    return F.struct(
        F.lit(int(b[0])).alias("x1"),
        F.lit(int(b[1])).alias("y1"),
        F.lit(int(b[2])).alias("x2"),
        F.lit(int(b[3])).alias("y2"),
    )


def _boxed(df: DataFrame) -> DataFrame:
    return df.withColumn("box", F.struct("x1", "y1", "x2", "y2"))


@dataclass
class ScalarField:
    name: str
    cell_id: str | None = None
    bbox: tuple | None = None
    description: str | None = None
    merge_values: bool = False
    separator: str = "\n"
    regex: str | None = None


def load_schema(text_or_path: str) -> list[ScalarField]:
    """YAML extraction schema → field specs (the declarative surface of
    the reference's ExtractionSchema, extractor/schema.py:51-58, with
    the layout-cascade matchers of rule_pipeline.py)."""
    out = []
    for fd in read_yaml(text_or_path)["fields"]:
        if "bbox" in fd and fd["bbox"] is not None:
            fd = {**fd, "bbox": tuple(fd["bbox"])}
        out.append(ScalarField(**fd))
    check_field_names([f.name for f in out])
    return out


def extract_scalar_fields(
    cells: DataFrame,
    kv_items: DataFrame,
    paragraphs: DataFrame,
    words: DataFrame,
    fields: list[ScalarField],
) -> DataFrame:
    """Resolve every field for every document: returns
    (doc_id, field, value, source, confidence).

    The extraction schema is DATA, not plan structure: fields become a
    broadcast literal table and ALL item-scanning tiers (cell_id equi,
    bbox containment, cell/paragraph substring, regex over
    cells/paragraphs/words) evaluate in ONE codegen'd join of the
    unified item corpus against it — an item's candidate tier is the
    least applicable tier number, which yields the same winner as
    per-tier unions under the global min-(tier, y1, x1, id) pick. Only
    the KV tier (different input relation, plus the merge_values
    aggregate) adds branches, so the plan is 3 branches + one window
    regardless of schema width."""
    check_field_names([f.name for f in fields])
    spark = cells.sparkSession
    noncells = _boxed(cells.filter(F.col("role") != "group"))
    # paragraphs/words can only match text tiers (5, 7, 8), all of
    # which require non-empty contents — filter before the items union
    # so the predicate reaches the scan instead of the post-join filter
    paras = _boxed(paragraphs).filter(F.col("contents") != "")
    wrds = _boxed(words).filter(F.col("content") != "")
    kv_boxed = kv_items.join(
        noncells.select("doc_id", F.col("cell_id").alias("value_cell"), "x1", "y1"),
        ["doc_id", "value_cell"],
        "left",
    )
    docs = cells.select("doc_id").distinct()

    frows = [
        (
            f.name, f.cell_id,
            *(tuple(int(v) for v in f.bbox) if f.bbox else (None,) * 4),
            f.description, bool(f.merge_values), f.separator, f.regex,
        )
        for f in fields
    ]
    fdf = spark.createDataFrame(
        frows,
        "field string, f_cell_id string, qx1 int, qy1 int, qx2 int, qy2 int, "
        "f_desc string, f_merge boolean, f_sep string, f_regex string",
    )

    def fb(cond):
        return F.broadcast(fdf.filter(cond))

    cands = []

    # ---- tiers 1,2,4,5,6,7,8 in ONE broadcast join -----------------
    # A searchable item (cell / paragraph / word) × the field table,
    # with every tier's predicate evaluated as a column: an item's
    # candidate tier is the LEAST applicable tier number. This is
    # equivalent to per-tier unions (the global min-(tier, y1, x1, id)
    # pick is unchanged) but compiles to one codegen'd nested-loop join
    # regardless of how many fields the schema has.
    items = (
        noncells.select(
            "doc_id", F.lit("cell").alias("src"), F.col("cell_id").alias("item_id"),
            "y1", "x1", "box", "contents",
        )
        .unionByName(
            paras.select(
                "doc_id", F.lit("para").alias("src"), F.col("par_id").alias("item_id"),
                "y1", "x1", "box", "contents",
            )
        )
        .unionByName(
            wrds.select(
                "doc_id", F.lit("word").alias("src"), F.col("word_id").alias("item_id"),
                "y1", "x1", "box", F.col("content").alias("contents"),
            )
        )
    )
    qbox = F.struct(
        F.col("qx1").alias("x1"), F.col("qy1").alias("y1"),
        F.col("qx2").alias("x2"), F.col("qy2").alias("y2"),
    )
    is_cell = F.col("src") == "cell"
    has_text = F.col("contents") != ""
    desc_hit = F.col("f_desc").isNotNull() & has_text & norm_text(
        F.col("contents")
    ).contains(norm_text(F.col("f_desc")))
    rx = F.expr("regexp_extract(contents, f_regex, 0)")
    rx_hit = F.col("f_regex").isNotNull() & has_text & (rx != "")
    tier = F.least(
        F.when(is_cell & (F.col("item_id") == F.col("f_cell_id")), 1),
        F.when(
            is_cell
            & F.col("qx1").isNotNull()
            & (SP.overlap_area("q", "box") * 2 > SP.box_area("box")),
            2,
        ),
        F.when(is_cell & desc_hit, 4),
        F.when((F.col("src") == "para") & desc_hit, 5),
        F.when(is_cell & rx_hit, 6),
        F.when((F.col("src") == "para") & rx_hit, 7),
        F.when((F.col("src") == "word") & rx_hit, 8),
    )
    j = (
        items.crossJoin(fb(F.lit(True)).withColumn("q", qbox))
        .withColumn("tier", tier)
        .filter(F.col("tier").isNotNull())
    )
    flat = j.select(
        "doc_id",
        "field",
        "tier",
        F.col("y1").cast("bigint").alias("o1"),
        F.col("x1").cast("bigint").alias("o2"),
        F.col("item_id").alias("o3"),
        F.when(F.col("tier").isin(1, 2, 4, 5), F.col("contents")).otherwise(rx).alias("value"),
        F.when(F.col("tier") == 1, F.lit("cell_id"))
        .when(F.col("tier") == 2, F.lit("bbox"))
        .when(F.col("tier") == 4, F.lit("cell_query"))
        .when(F.col("tier") == 5, F.lit("paragraph"))
        .otherwise(F.lit("regex"))
        .alias("source"),
        F.when(F.col("tier").isin(4, 5), F.lit("medium")).otherwise(F.lit("high")).alias(
            "confidence"
        ),
    )
    cands.append(flat)

    # ---- tier 3: KV key substring (space-stripped match) -----------
    # ONE aggregation serves both shapes (so the KV parser upstream
    # evaluates once): the y-sorted value list's head IS the
    # first-match single value, and merge_values fields take the
    # axis-spread-ordered separator join instead
    # (table_semantic_parser.py:462-514 — sort by y when the value
    # boxes spread at least as far vertically, else by x). At most one
    # tier-3 candidate per (doc, field) survives, so its within-tier
    # order keys are constants.
    # Documented deviation: only kv_items are scanned here; the
    # reference's search_kv_items_by_key has a second branch matching
    # the field description against concatenated grid column-header
    # text (table_semantic_parser.py:302-316). That branch appends
    # empty value lists (a grid column header has no KV value) and
    # crashes downstream when taken, so it is deliberately dropped —
    # grid columns are served by extract_table_field instead.
    kvm = kv_boxed.join(
        fb(F.col("f_desc").isNotNull()),
        norm_text(F.col("key_text")).contains(norm_text(F.col("f_desc"))),
    )
    agg = kvm.groupBy("doc_id", "field", "f_sep", "f_merge").agg(
        (F.max("y1") - F.min("y1") >= F.max("x1") - F.min("x1")).alias("by_y"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("y1", "x1", "value_cell", "value_text"))),
            lambda s: s["value_text"],
        ).alias("vy"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("x1", "y1", "value_cell", "value_text"))),
            lambda s: s["value_text"],
        ).alias("vx"),
    )
    kv3 = agg.select(
        "doc_id", "field", F.lit(3).alias("tier"),
        F.lit(0).cast("bigint").alias("o1"), F.lit(0).cast("bigint").alias("o2"),
        F.lit("").alias("o3"),
        F.when(
            F.col("f_merge"),
            F.expr("array_join(CASE WHEN by_y THEN vy ELSE vx END, f_sep)"),
        )
        .otherwise(F.element_at("vy", 1))
        .alias("value"),
        F.lit("kv").alias("source"), F.lit("high").alias("confidence"),
    )
    cands.append(kv3)

    allc = cands[0]
    for c in cands[1:]:
        allc = allc.unionByName(c)
    w = W.partitionBy("doc_id", "field").orderBy("tier", "o1", "o2", "o3")
    best = allc.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") == 1)

    grid = docs.crossJoin(F.broadcast(fdf.select("field")))
    return grid.join(best, ["doc_id", "field"], "left").select(
        "doc_id",
        "field",
        F.coalesce(F.col("value"), F.lit("")).alias("value"),
        F.coalesce(F.col("source"), F.lit("not_found")).alias("source"),
        F.coalesce(F.col("confidence"), F.lit("low")).alias("confidence"),
    )


# ------------------------------------------------------- KV dict view


def kv_items_to_dict(
    cells: DataFrame,
    kv_items: DataFrame,
    merge_values: bool = False,
    separator: str = "\n",
) -> DataFrame:
    """Reference ``TableSemanticContentsView.kv_items_to_dict``
    (schemas/table_semantic_parser.py:462-514) as rows
    (doc_id, key, value):

    * key = '_'-joined space-stripped contents of the key cells (missing
      cells resolve to '', like safe_contents);
    * ``merge_values=False``: duplicate key strings get an occurrence
      index suffix (make_unique_all, :26-40) — deviation (documented):
      occurrence order is the deterministic (y1, x1, value_cell) sort of
      the value cells, where the reference uses kv_items list order (its
      parser emits that same geometric order);
    * ``merge_values=True``: one row per key; multiple values joined by
      ``separator`` after the axis-spread sort (y-spread >= x-spread →
      by y1, else by x1 — the same rule as the cascade's tier-3 merge).

    ``kv_items`` is :func:`yomitoku_spark.operators.kv_graph.
    parse_kv_items` output (doc_id, key_cells, value_cell, ...) —
    key_cells may be the parser's '/'-joined string or an
    array<string>. Assumes the parser's invariant that a value cell is
    adopted by at most one item per document.
    """
    if dict(kv_items.dtypes).get("key_cells") == "string":
        kv_items = kv_items.withColumn("key_cells", F.split("key_cells", "/"))
    safe = cells.select(
        "doc_id",
        "cell_id",
        norm_text(F.coalesce(F.col("contents"), F.lit(""))).alias("safe"),
        "x1",
        "y1",
    )
    kx = kv_items.select(
        "doc_id", "value_cell", F.posexplode("key_cells").alias("pos", "kc")
    ).join(
        safe.select("doc_id", F.col("cell_id").alias("kc"), F.col("safe").alias("kt")),
        ["doc_id", "kc"],
        "left",
    )
    keyed = kx.groupBy("doc_id", "value_cell").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("pos", F.coalesce("kt", F.lit("")).alias("kt"))
                    )
                ),
                lambda s: s["kt"],
            ),
            "_",
        ).alias("key_str")
    )
    items = keyed.join(
        safe.select(
            "doc_id", F.col("cell_id").alias("value_cell"),
            F.col("safe").alias("v"), "x1", "y1",
        ),
        ["doc_id", "value_cell"],
        "left",
    ).select(
        "doc_id", "key_str",
        F.coalesce("v", F.lit("")).alias("v"),
        F.coalesce("x1", F.lit(0)).alias("x1"),
        F.coalesce("y1", F.lit(0)).alias("y1"),
        "value_cell",
    )
    if not merge_values:
        w = W.partitionBy("doc_id", "key_str").orderBy("y1", "x1", "value_cell")
        cnt = F.count(F.lit(1)).over(W.partitionBy("doc_id", "key_str"))
        return items.select(
            "doc_id",
            F.when(
                cnt > 1,
                F.concat("key_str", F.lit("_"), (F.row_number().over(w) - 1).cast("string")),
            )
            .otherwise(F.col("key_str"))
            .alias("key"),
            F.col("v").alias("value"),
        )
    agg = items.groupBy("doc_id", "key_str").agg(
        (F.max("y1") - F.min("y1") >= F.max("x1") - F.min("x1")).alias("by_y"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("y1", "x1", "value_cell", "v"))),
            lambda s: s["v"],
        ).alias("vy"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("x1", "y1", "value_cell", "v"))),
            lambda s: s["v"],
        ).alias("vx"),
    )
    return agg.select(
        "doc_id",
        F.col("key_str").alias("key"),
        F.when(F.size("vy") == 1, F.element_at("vy", 1))
        .otherwise(
            F.array_join(F.when(F.col("by_y"), F.col("vy")).otherwise(F.col("vx")), separator)
        )
        .alias("value"),
    )


def grids_to_dict(
    cells: DataFrame,
    headers: DataFrame,
    data: DataFrame,
    ignore_space: bool = True,
) -> DataFrame:
    """Reference ``TableSemanticContentsView.grids_to_dict``
    (schemas/table_semantic_parser.py:516-549) as rows
    (doc_id, grid_id, row, key, value):

    * a position whose cell is one of ITS OWN column's headers is
      skipped (drops header rows and stray headers in data rows);
    * key = '_'-joined (space-stripped when ``ignore_space``) contents
      of the column's header stack in hdr_pos order;
    * a cell id repeated within one row keeps its FIRST (lowest-col)
      occurrence only;
    * duplicate keys within a row get occurrence-index suffixes
      (make_unique_all), indexed in column order.

    ``headers``/``data`` are :func:`yomitoku_spark.operators.
    grid_headers.derive_grid_headers` outputs.
    """
    txt = F.coalesce(F.col("contents"), F.lit(""))
    safe = cells.select(
        "doc_id",
        "cell_id",
        (norm_text(txt) if ignore_space else txt).alias("safe"),
    )
    hdr = headers.join(safe, ["doc_id", "cell_id"], "left")
    cols = hdr.groupBy("doc_id", "grid_id", "col").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("hdr_pos", F.coalesce("safe", F.lit("")).alias("t"))
                    )
                ),
                lambda s: s["t"],
            ),
            "_",
        ).alias("key_str"),
        F.collect_set("cell_id").alias("hdr_ids"),
    )
    d = (
        data.join(cols, ["doc_id", "grid_id", "col"], "left")
        .filter(
            ~F.coalesce(
                F.array_contains(F.col("hdr_ids"), F.col("cell_id")), F.lit(False)
            )
        )
        .join(safe, ["doc_id", "cell_id"], "left")
        # a column with NO header stack means key '' (the reference
        # joins an empty list), which must share a duplicate-key
        # partition with genuinely empty header contents — normalize
        # BEFORE the windows, or NULL and '' count separately
        .withColumn("key_str", F.coalesce("key_str", F.lit("")))
    )
    first = W.partitionBy("doc_id", "grid_id", "row", "cell_id").orderBy("col")
    d = d.withColumn("__occ", F.row_number().over(first)).filter(F.col("__occ") == 1)
    wk = W.partitionBy("doc_id", "grid_id", "row", "key_str").orderBy("col")
    cnt = F.count(F.lit(1)).over(W.partitionBy("doc_id", "grid_id", "row", "key_str"))
    return d.select(
        "doc_id",
        "grid_id",
        "row",
        F.when(
            cnt > 1,
            F.concat(
                F.coalesce("key_str", F.lit("")),
                F.lit("_"),
                (F.row_number().over(wk) - 1).cast("string"),
            ),
        )
        .otherwise(F.coalesce("key_str", F.lit("")))
        .alias("key"),
        F.coalesce("safe", F.lit("")).alias("value"),
    )


# -------------------------------------------------- grid column filtering


def filter_grid_columns(
    cells: DataFrame,
    headers: DataFrame,
    data: DataFrame,
    queries: list[str],
) -> tuple[DataFrame, DataFrame]:
    """Reference ``filter_columns_ignore_space`` /
    ``find_table_by_column_name`` (schemas/table_semantic_parser.py:
    319-377): keep only the grid columns whose header text — raw
    contents of the column's header stack joined in hdr_pos order, then
    space-stripped (``normalize``) — contains ANY of the space-stripped
    ``queries`` as a substring. Returns the (headers, data) long-form
    pair restricted to matching columns; rows with no surviving cells
    simply have no rows, like the reference's empty-filtered-row drop.
    The original ``col`` ids are preserved (the reference rebuilds
    n_col/n_row metadata — irrelevant in long form)."""
    import re

    txt = F.coalesce(F.col("contents"), F.lit(""))
    safe = cells.select("doc_id", "cell_id", norm_text(txt).alias("nk"))
    colkey = (
        headers.join(safe, ["doc_id", "cell_id"], "left")
        .groupBy("doc_id", "grid_id", "col")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("hdr_pos", F.coalesce("nk", F.lit("")).alias("t"))
                        )
                    ),
                    lambda s: s["t"],
                ),
                "",
            ).alias("nk")
        )
    )
    cond = F.lit(False)
    for q in queries:
        nq = re.sub(r"[ 　]", "", q)
        cond = cond | F.col("nk").contains(F.lit(nq))
    kept = colkey.filter(cond).select("doc_id", "grid_id", "col")
    return (
        headers.join(kept, ["doc_id", "grid_id", "col"], "left_semi"),
        data.join(kept, ["doc_id", "grid_id", "col"], "left_semi"),
    )


# -------------------------------------------------- semantic file sinks
# Reference TableSemanticContentsExport (schemas/table_semantic_parser.py:
# 379-457): thin file sinks over the kv/grid dict views. The reference
# object holds ONE table; these take the per-doc view DataFrames and
# write the reference-exact shape for a single doc, or (documented
# extension) a {doc_id: shape} map when the input carries several.


def _per_doc(obj_by_doc: dict, empty=None):
    """Single doc → the reference-exact shape; several → {doc: shape};
    NO docs → ``empty`` (so grids_to_json of a grid-less input still
    writes the documented [] list shape, not a spurious {})."""
    if len(obj_by_doc) == 0:
        return {} if empty is None else empty
    if len(obj_by_doc) == 1:
        return next(iter(obj_by_doc.values()))
    return {str(k): v for k, v in sorted(obj_by_doc.items())}


def _dump_json(obj, out_path: str):
    import json
    import os

    d = os.path.dirname(out_path)
    if d:
        os.makedirs(d, exist_ok=True)
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump(obj, f, ensure_ascii=False, indent=4)


def _kv_dict_by_doc(cells, kv_items, merge_values, separator) -> dict:
    out: dict = {}
    for r in kv_items_to_dict(cells, kv_items, merge_values, separator).collect():
        out.setdefault(r["doc_id"], {})[r["key"]] = r["value"]
    return out


def _grids_list_by_doc(cells, headers, data, ignore_space) -> dict:
    rows: dict = {}
    for r in grids_to_dict(cells, headers, data, ignore_space).collect():
        rows.setdefault(r["doc_id"], {}).setdefault(r["grid_id"], {}).setdefault(
            r["row"], {}
        )[r["key"]] = r["value"]
    # every grid appears, even when all its rows filtered out or every
    # cell is a header (reference appends {"id", "rows": []}) — so the
    # grid universe unions BOTH long-forms, not just data
    all_grids = (
        data.select("doc_id", "grid_id")
        .union(headers.select("doc_id", "grid_id"))
        .distinct()
        .collect()
    )
    out: dict = {}
    for g in sorted(all_grids, key=lambda r: (r["doc_id"], r["grid_id"])):
        by_row = rows.get(g["doc_id"], {}).get(g["grid_id"], {})
        out.setdefault(g["doc_id"], []).append(
            {
                "id": g["grid_id"],
                "rows": [by_row[k] for k in sorted(by_row)],
            }
        )
    return out


def kv_items_to_json(
    cells, kv_items, out_path: str, merge_values: bool = False, separator: str = "\n"
):
    """Reference ``export.kv_items_to_json`` (:443-457): dump the KV
    dict view to a JSON file; returns the written object."""
    obj = _per_doc(_kv_dict_by_doc(cells, kv_items, merge_values, separator))
    _dump_json(obj, out_path)
    return obj


def grids_to_json(cells, headers, data, out_path: str, ignore_space: bool = True):
    """Reference ``export.grids_to_json`` (:431-441): dump the grid
    row-dict view ([{"id", "rows": [...]}] per grid) to a JSON file."""
    obj = _per_doc(_grids_list_by_doc(cells, headers, data, ignore_space), empty=[])
    _dump_json(obj, out_path)
    return obj


def semantic_to_json(
    cells,
    kv_items,
    headers,
    data,
    out_path: str,
    merge_values: bool = False,
    separator: str = "\n",
):
    """Reference ``export.to_json`` (:383-397): one file carrying both
    views — {"kv_items": dict, "grids": list}."""
    kv_by_doc = _kv_dict_by_doc(cells, kv_items, merge_values, separator)
    gr_by_doc = _grids_list_by_doc(cells, headers, data, True)
    docs = sorted(set(kv_by_doc) | set(gr_by_doc))
    obj = _per_doc(
        {
            d: {"kv_items": kv_by_doc.get(d, {}), "grids": gr_by_doc.get(d, [])}
            for d in docs
        }
    )
    _dump_json(obj, out_path)
    return obj


def grids_to_csv(
    cells,
    data,
    out_path: str,
    headers: DataFrame | None = None,
    columns: list[str] | None = None,
    ignore_space: bool = True,
):
    """Reference ``export.grids_to_csv`` (:399-429): every grid's FULL
    unit matrix (header rows included — unlike grids_to_dict, the csv
    sink does not skip header cells) as one csv file per grid,
    ``{base}_{grid_id}.csv``, cells space-stripped when
    ``ignore_space``. ``columns`` filters grid columns by header
    substring first (find_table_by_column_name; requires ``headers``).
    Returns the row matrices. Cells are joined with a RAW ','.join and
    no quoting — reference-exact (:416-424 writes the same), so a cell
    whose contents contain a comma or newline produces the same
    (malformed) csv the reference produces; use grids_to_json for
    structurally safe output. Documented deviation: each file is named
    from the ORIGINAL base — the reference rebinds out_path inside its
    loop so a second grid's file compounds the first grid's suffix
    (out_0_1.csv), an accumulation artifact, not a stated rule."""
    import os

    if columns is not None:
        if headers is None:
            raise ValueError("columns filtering requires the headers frame")
        _, data = filter_grid_columns(cells, headers, data, columns)
    txt = F.coalesce(F.col("contents"), F.lit(""))
    safe = cells.select(
        "doc_id", "cell_id", (norm_text(txt) if ignore_space else txt).alias("t")
    )
    rows = (
        data.join(safe, ["doc_id", "cell_id"], "left")
        .groupBy("doc_id", "grid_id", "row")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("col", F.coalesce("t", F.lit("")).alias("t"))
                    )
                ),
                lambda s: s["t"],
            ).alias("cells")
        )
        .collect()
    )
    grids: dict = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["grid_id"], r["row"])):
        grids.setdefault((r["doc_id"], r["grid_id"]), []).append(list(r["cells"]))
    d = os.path.dirname(out_path)
    if d:
        os.makedirs(d, exist_ok=True)
    base = out_path.rsplit(".", 1)[0]
    multi_doc = len({k[0] for k in grids}) > 1
    csvs = []
    for (doc, gid), matrix in sorted(grids.items()):
        name = f"{base}_{doc}_{gid}.csv" if multi_doc else f"{base}_{gid}.csv"
        with open(name, "w", encoding="utf-8") as f:
            for row in matrix:
                f.write(",".join(row) + "\n")
        csvs.append(matrix)
    return csvs


# -------------------------------------------------- directional cell search


def search_cells_by_bbox(cells: DataFrame, box: list[int]) -> DataFrame:
    """Reference ``search_cells_by_bbox``
    (schemas/table_semantic_parser.py:202-211): every non-group cell
    whose box is ≥50% contained in the query box (is_contained with
    threshold 0.5, integer-exact as everywhere else)."""
    q = _lit_box(box)
    c = _boxed(cells)
    ov_w = F.least(q["x2"], F.col("box.x2")) - F.greatest(q["x1"], F.col("box.x1"))
    ov_h = F.least(q["y2"], F.col("box.y2")) - F.greatest(q["y1"], F.col("box.y1"))
    ov = F.greatest(ov_w, F.lit(0)) * F.greatest(ov_h, F.lit(0))
    area = (F.col("box.x2") - F.col("box.x1")) * (F.col("box.y2") - F.col("box.y1"))
    return c.filter((F.col("role") != "group") & (ov * 1000 >= 500 * area)).drop("box")


def search_cells_by_query(cells: DataFrame, query: str) -> DataFrame:
    """Reference ``search_cells_by_query``
    (schemas/table_semantic_parser.py:276-287): non-group cells whose
    space-stripped contents contain the space-stripped query."""
    return cells.filter(
        (F.col("role") != "group")
        & F.col("contents").isNotNull()
        & (F.col("contents") != "")
        & norm_text(F.col("contents")).contains(norm_text(F.lit(query)))
    )


def search_cells_directional(
    cells: DataFrame, query: str, direction: str
) -> DataFrame:
    """Reference ``search_cells_{right_of,left_of,below,upper}_key_text``
    (schemas/table_semantic_parser.py:213-274): the query-matching
    cells are the KEY cells; return every non-group cell adjacent to a
    key cell in the given direction under the default soft adjacency
    rule (utils/misc.py:299-356 defaults). One doc-local equi-join with
    the adjacency predicate — never a global cross join.

    ``direction`` ∈ right | left | below | upper (left/upper are the
    reference's argument-swapped right/below, exactly as its methods
    swap them)."""
    from yomitoku_spark.operators import adjacency as AJ

    preds = {
        "right": lambda: AJ.right_adjacent("k", "t"),
        "left": lambda: AJ.right_adjacent("t", "k"),
        "below": lambda: AJ.bottom_adjacent("k", "t"),
        "upper": lambda: AJ.bottom_adjacent("t", "k"),
    }
    if direction not in preds:
        raise ValueError(f"unknown direction {direction!r}")
    k = search_cells_by_query(cells, query).alias("k")
    t = cells.filter(F.col("role") != "group").alias("t")
    return (
        k.join(t, (F.col("k.doc_id") == F.col("t.doc_id")) & preds[direction]())
        .select(F.col("t.doc_id").alias("doc_id"), F.col("t.cell_id").alias("cell_id"))
        .distinct()
    )


# ------------------------------------------------------------- table field


@dataclass
class TableColumn:
    name: str
    cell_id: str | None = None
    bbox: tuple | None = None
    description: str | None = None


def extract_table_field(
    cells: DataFrame,
    grid_headers: DataFrame,
    grid_data: DataFrame,
    columns: list[TableColumn],
) -> DataFrame:
    """Match schema columns to grid columns, then emit one record per
    (document, grid, data row, schema column):
    (doc_id, grid_id, row, col_name, value, cell_ids).

    rule_pipeline.py:265-361 — a grid column goes to the FIRST schema
    column that matches (cell_id equi, else bbox overlap > 0.5, else
    normalized match-key substring of the concatenated header text);
    one schema column may collect several grid columns, concatenated in
    column order; rows made only of header cells are skipped."""
    hdr = grid_headers.join(
        _boxed(cells).select(
            "doc_id", "cell_id", "box", F.col("contents").alias("h_contents")
        ),
        ["doc_id", "cell_id"],
        "left",
    )
    # concatenated header text per grid column (in hdr_pos order)
    col_text = (
        hdr.groupBy("doc_id", "grid_id", "col")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("hdr_pos", "h_contents"))),
                    lambda s: s["h_contents"],
                ),
                "",
            ).alias("header_text")
        )
    )

    matches = []
    for prio, c in enumerate(columns):
        if c.cell_id:
            m = hdr.filter(F.col("cell_id") == c.cell_id)
        elif c.bbox:
            ov = SP.overlap_area("q", "box")
            m = hdr.withColumn("q", _lit_box(c.bbox)).filter(
                ov * 2 > SP.box_area("box")
            )
        else:
            key = c.description if c.description else c.name
            m = col_text.filter(
                norm_text(F.col("header_text")).contains(norm_text(F.lit(key)))
            )
        matches.append(
            m.select(
                "doc_id", "grid_id", "col",
                F.lit(prio).alias("prio"), F.lit(c.name).alias("col_name"),
            )
        )
    allm = matches[0]
    for m in matches[1:]:
        allm = allm.unionByName(m)
    w = W.partitionBy("doc_id", "grid_id", "col").orderBy("prio")
    col_map = (
        allm.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("doc_id", "grid_id", "col", "col_name")
    )

    header_ids = grid_headers.select("doc_id", "grid_id", "cell_id").distinct()
    # skip rows whose non-null ids are all header cells
    data_flagged = grid_data.join(
        header_ids.withColumn("__is_hdr", F.lit(True)),
        ["doc_id", "grid_id", "cell_id"],
        "left",
    )
    row_kind = data_flagged.groupBy("doc_id", "grid_id", "row").agg(
        F.max(F.when(F.col("__is_hdr").isNull(), 1).otherwise(0)).alias("has_non_hdr"),
    )
    value_rows = row_kind.filter(F.col("has_non_hdr") == 1).select(
        "doc_id", "grid_id", "row"
    )

    joined = (
        grid_data.join(value_rows, ["doc_id", "grid_id", "row"])
        .join(col_map, ["doc_id", "grid_id", "col"])
        .join(
            cells.select("doc_id", "cell_id", F.col("contents").alias("v")),
            ["doc_id", "cell_id"],
            "left",
        )
    )
    return joined.groupBy("doc_id", "grid_id", "row", "col_name").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("col"), F.coalesce(F.col("v"), F.lit("")).alias("v"))
                    )
                ),
                lambda s: s["v"],
            ),
            "",
        ).alias("value"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("col", "cell_id"))),
                lambda s: s["cell_id"],
            ),
            "/",
        ).alias("cell_ids"),
    )


# --------------------------------------------------------------- template

TEMPLATE_DF_SCHEMA = (
    "tbl_x1 int, tbl_y1 int, tbl_x2 int, tbl_y2 int, tcell_id string, "
    "tc_x1 int, tc_y1 int, tc_x2 int, tc_y2 int, "
    "role_override string, contents_override string"
)


def template_to_json(template: DataFrame, path: str, match_policy: str = "cell_id") -> None:
    """Persist a template as the reference's JSON shape
    (TableSemanticParserTemplateSchema, save_template_json,
    schemas/table_semantic_parser.py:708-745): meta + per-table box +
    cells keyed by id with optional box/role/contents."""
    import json
    from collections import OrderedDict

    tables: "OrderedDict[tuple, dict]" = OrderedDict()
    for r in template.collect():
        key = (r.tbl_x1, r.tbl_y1, r.tbl_x2, r.tbl_y2)
        t = tables.setdefault(key, {"box": list(key), "cells": {}})
        cell = {"id": r.tcell_id}
        if r.tc_x1 is not None:
            cell["box"] = [r.tc_x1, r.tc_y1, r.tc_x2, r.tc_y2]
        if r.role_override is not None:
            cell["role"] = r.role_override
        if r.contents_override is not None:
            cell["contents"] = r.contents_override
        # the dict key is "cell_id OR arbitrary key" in the reference
        # schema (CellTemplateSchema) — a running unique key never
        # collapses two rows sharing a tcell_id (matching uses the
        # cell's own id field, not the key)
        t["cells"][f"k{len(t['cells'])}"] = cell
    doc = {
        "meta": {"template_version": "beta", "match_policy": match_policy},
        "tables": list(tables.values()),
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, ensure_ascii=False, indent=2)


def template_from_json(spark, path: str) -> tuple[DataFrame, str]:
    """Load a template JSON back into the template DataFrame shape +
    the match policy (load_template_json,
    schemas/table_semantic_parser.py:702-706)."""
    import json

    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    rows = []
    for t in doc["tables"]:
        bx = t["box"]
        for c in t.get("cells", {}).values():
            cb = c.get("box") or (None, None, None, None)
            rows.append(
                (
                    int(bx[0]), int(bx[1]), int(bx[2]), int(bx[3]),
                    c.get("id"),
                    *(int(v) if v is not None else None for v in cb),
                    c.get("role"), c.get("contents"),
                )
            )
    policy = doc.get("meta", {}).get("match_policy", "cell_id")
    return spark.createDataFrame(rows, TEMPLATE_DF_SCHEMA), policy


def apply_template(
    cells: DataFrame,
    template: DataFrame,
    policy: str = "cell_id",
) -> DataFrame:
    """Apply a semantic template: override role/contents of matched
    cells (schemas/table_semantic_parser.py:748-794).

    ``template`` rows: (tbl_x1..tbl_y2 — the template table's box,
    matched to a document 'table' = group cell by position argmax with
    overlap/table_area > 0.5, find_table_by_position :680-692;
    tcell_id / tc_x1..tc_y2 — cell matcher per ``policy``;
    role_override, contents_override — nullable overrides).

    The template is broadcast (it is tiny by construction); matching is
    an equi join on cell_id or a containment pick on bbox — never a
    per-document loop."""
    groups = _boxed(cells.filter(F.col("role") == "group")).select(
        "doc_id", F.col("cell_id").alias("table_id"), F.col("box").alias("tbox")
    )
    noncells = cells.filter(F.col("role") != "group")

    tmpl = template.withColumn(
        "qbox",
        F.struct(
            F.col("tbl_x1").alias("x1"), F.col("tbl_y1").alias("y1"),
            F.col("tbl_x2").alias("x2"), F.col("tbl_y2").alias("y2"),
        ),
    )
    # template table → document table: argmax overlap/table_area, > 0.5
    j = groups.join(F.broadcast(tmpl), SP.overlap_area("qbox", "tbox") * 2 > SP.box_area("tbox"))
    wt = W.partitionBy("doc_id", "tcell_id", "tbl_x1", "tbl_y1").orderBy(
        F.desc(SP.overlap_area("qbox", "tbox").cast("double") / SP.box_area("tbox")),
        F.asc("table_id"),
    )
    placed = (
        j.withColumn("__rk", F.row_number().over(wt))
        .filter(F.col("__rk") == 1)
        .select(
            "doc_id", "table_id", "tcell_id",
            "tc_x1", "tc_y1", "tc_x2", "tc_y2",
            "role_override", "contents_override",
        )
    )

    # cells belong to the group (table) that contains them — same
    # argmax as the KV parser's group matching
    cell_tbl = _boxed(noncells).alias("c").join(
        groups.alias("g"),
        (F.col("c.doc_id") == F.col("g.doc_id"))
        & (SP.overlap_area("g.tbox", "c.box") * 5 > SP.box_area("c.box")),
        "left",
    )
    wg = W.partitionBy("c.doc_id", "c.cell_id").orderBy(
        F.desc(SP.overlap_area("g.tbox", "c.box").cast("double") / SP.box_area("g.tbox")),
        F.asc("g.table_id"),
    )
    cell_tbl = (
        cell_tbl.withColumn("__rk", F.row_number().over(wg))
        .filter(F.col("__rk") == 1)
        .select(
            F.col("c.doc_id").alias("doc_id"),
            F.col("c.cell_id").alias("cell_id"),
            F.col("c.role").alias("role"),
            F.col("c.x1").alias("x1"), F.col("c.y1").alias("y1"),
            F.col("c.x2").alias("x2"), F.col("c.y2").alias("y2"),
            F.col("c.contents").alias("contents"),
            F.col("g.table_id").alias("table_id"),
        )
    )

    if policy == "cell_id":
        on = (
            (F.col("t.tcell_id") == F.col("cell_id"))
            & (F.col("t.doc_id") == F.col("doc_id2"))
            & (F.col("t.table_id") == F.col("table_id2"))
        )
        left = cell_tbl.withColumnRenamed("doc_id", "doc_id2").withColumnRenamed(
            "table_id", "table_id2"
        )
        merged = left.join(F.broadcast(placed.alias("t")), on, "left")
    elif policy == "bbox":
        # containment pick: cell with >0.5 of its area inside the
        # template cell box, first by (y1, x1, cell_id)
        left = cell_tbl.withColumnRenamed("doc_id", "doc_id2").withColumnRenamed(
            "table_id", "table_id2"
        ).withColumn("box", F.struct("x1", "y1", "x2", "y2"))
        tb = placed.withColumn(
            "tcbox",
            F.struct(
                F.col("tc_x1").alias("x1"), F.col("tc_y1").alias("y1"),
                F.col("tc_x2").alias("x2"), F.col("tc_y2").alias("y2"),
            ),
        ).alias("t")
        on = (
            (F.col("t.doc_id") == F.col("doc_id2"))
            & (F.col("t.table_id") == F.col("table_id2"))
            & (SP.overlap_area("t.tcbox", "box") * 2 > SP.box_area("box"))
        )
        j2 = left.join(F.broadcast(tb), on, "left")
        # each template cell claims its FIRST matching cell only
        wb = W.partitionBy("doc_id2", "t.tcell_id", "t.tc_x1", "t.tc_y1").orderBy(
            "y1", "x1", "cell_id"
        )
        j2 = j2.withColumn(
            "__rk",
            F.when(F.col("t.tcell_id").isNull(), F.lit(1)).otherwise(
                F.row_number().over(wb)
            ),
        )
        merged = j2.withColumn(
            "role_override",
            F.when(F.col("__rk") == 1, F.col("t.role_override")),
        ).withColumn(
            "contents_override",
            F.when(F.col("__rk") == 1, F.col("t.contents_override")),
        )
        # a cell matched by several template cells keeps one row
        wdedup = W.partitionBy("doc_id2", "cell_id").orderBy(
            F.col("role_override").isNull() & F.col("contents_override").isNull(),
            "t.tcell_id",
        )
        merged = (
            merged.withColumn("__rk2", F.row_number().over(wdedup))
            .filter(F.col("__rk2") == 1)
        )
    else:
        raise ValueError(f"unknown template policy {policy!r}")

    return merged.select(
        F.col("doc_id2").alias("doc_id"),
        "cell_id",
        F.coalesce(F.col("role_override"), F.col("role")).alias("role"),
        "x1", "y1", "x2", "y2",
        F.coalesce(F.col("contents_override"), F.col("contents")).alias("contents"),
    )
