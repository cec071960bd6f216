"""Semantic layout parsing: adjacency rule family, geometric KV parser,
scalar-field cascade, table-field extraction, template application.

Correctness strategy mirrors the repo pattern: hypothesis pins the
column expressions to the scalar twins on random geometry; goldens pin
the KV parser to reference semantics (kv_parser.py) on hand-built
forms; the DuckDB 3-axis check for the corpus queries lives in
tools/check_oracle.py / the driver gate."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from yomitoku_spark.operators import adjacency as AJ
from yomitoku_spark.operators.kv_graph import parse_kv_doc, parse_kv_items
from yomitoku_spark.semantic import (
    ScalarField,
    TableColumn,
    apply_template,
    extract_scalar_fields,
    extract_table_field,
    load_schema,
)

# ------------------------------------------------------------- adjacency

_box = st.tuples(
    st.integers(0, 120), st.integers(0, 120), st.integers(1, 40), st.integers(1, 40)
).map(lambda t: (t[0], t[1], t[0] + t[2], t[1] + t[3]))


@settings(max_examples=8, deadline=None)
@given(st.lists(_box, min_size=2, max_size=16))
def test_adjacency_column_equals_scalar(spark, boxes):
    rows = [(i, *b) for i, b in enumerate(boxes)]
    df = spark.createDataFrame(rows, "id int, x1 int, y1 int, x2 int, y2 int")
    boxed = df.select("id", F.struct("x1", "y1", "x2", "y2").alias("box"))
    a = boxed.select(F.col("id").alias("ia"), F.col("box").alias("ba"))
    b = boxed.select(F.col("id").alias("ib"), F.col("box").alias("bb"))
    j = a.crossJoin(b).filter(F.col("ia") != F.col("ib"))
    sel = j.select(
        "ia",
        "ib",
        AJ.right_adjacent("ba", "bb", "soft").alias("rs"),
        AJ.right_adjacent("ba", "bb", "hard").alias("rh"),
        AJ.right_adjacent("ba", "bb", "nest").alias("rn"),
        AJ.bottom_adjacent("ba", "bb", "soft").alias("bs"),
        AJ.bottom_adjacent("ba", "bb", "hard").alias("bh"),
        AJ.bottom_adjacent("ba", "bb", "nest").alias("bn"),
        AJ.bottom_adjacent("ba", "bb", "child").alias("bc"),
    )
    for r in sel.collect():
        A, B = boxes[r.ia], boxes[r.ib]
        assert r.rs == AJ.right_adjacent_scalar(A, B, "soft")
        assert r.rh == AJ.right_adjacent_scalar(A, B, "hard")
        assert r.rn == AJ.right_adjacent_scalar(A, B, "nest")
        assert r.bs == AJ.bottom_adjacent_scalar(A, B, "soft")
        assert r.bh == AJ.bottom_adjacent_scalar(A, B, "hard")
        assert r.bn == AJ.bottom_adjacent_scalar(A, B, "nest")
        assert r.bc == AJ.bottom_adjacent_scalar(A, B, "child")


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3_000_000),
            st.integers(0, 3_000_000),
            st.integers(1, 80_000),
            st.integers(1, 80_000),
        ).map(lambda t: (t[0], t[1], t[0] + t[2], t[1] + t[3])),
        min_size=2,
        max_size=8,
    )
)
def test_adjacency_three_twin_parity_large_coords(spark, boxes):
    """Column == scalar == SQL on coordinates far past the int32-square
    wrap point (~46341): deltas must route through bigint in all three
    twins. Boxes are drawn adjacent-ish in pairs so the gates actually
    evaluate their distance arithmetic, not just the direction check."""
    import duckdb

    # make some pairs genuinely adjacent at large offsets
    boxes = list(boxes) + [
        (b[0] + (b[2] - b[0]) + 5, b[1], b[2] + (b[2] - b[0]) + 5, b[3])
        for b in boxes[:2]
    ]
    rows = [(i, *b) for i, b in enumerate(boxes)]
    df = spark.createDataFrame(rows, "id int, x1 int, y1 int, x2 int, y2 int")
    boxed = df.select("id", F.struct("x1", "y1", "x2", "y2").alias("box"))
    a = boxed.select(F.col("id").alias("ia"), F.col("box").alias("ba"))
    b2 = boxed.select(F.col("id").alias("ib"), F.col("box").alias("bb"))
    j = a.crossJoin(b2).filter(F.col("ia") != F.col("ib"))
    got = {
        (r.ia, r.ib): (r.rs, r.bs)
        for r in j.select(
            "ia", "ib",
            AJ.right_adjacent("ba", "bb", "soft").alias("rs"),
            AJ.bottom_adjacent("ba", "bb", "soft").alias("bs"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE bx(id INT, x1 INT, y1 INT, x2 INT, y2 INT)"
    )
    con.executemany("INSERT INTO bx VALUES (?,?,?,?,?)", rows)
    sql = (
        f"SELECT a.id, c.id, {AJ.sql_right_adjacent('a', 'c')},"
        f" {AJ.sql_bottom_adjacent('a', 'c')} "
        "FROM bx a, bx c WHERE a.id <> c.id"
    )
    duck = {(ia, ib): (rs, bs) for ia, ib, rs, bs in con.sql(sql).fetchall()}
    for (ia, ib), (rs, bs) in got.items():
        A, B = boxes[ia], boxes[ib]
        assert rs == AJ.right_adjacent_scalar(A, B, "soft")
        assert bs == AJ.bottom_adjacent_scalar(A, B, "soft")
        assert (rs, bs) == duck[(ia, ib)]


def test_adjacency_rule_implications():
    # hard ⟹ soft, nest ⟹ soft, child ⟹ nest∧¬hard (reference
    # utils/misc.py rule semantics) — checked on a dense grid of pairs
    import itertools

    pts = [0, 5, 12, 20, 40, 90]
    boxes = [
        (x, y, x + w, y + h)
        for x, y in itertools.product(pts, pts)
        for w, h in [(8, 8), (30, 12)]
    ]
    for A, B in itertools.product(boxes[:40], boxes[:40]):
        if A == B:
            continue
        for fam in (AJ.right_adjacent_scalar, AJ.bottom_adjacent_scalar):
            soft = fam(A, B, "soft")
            assert not fam(A, B, "hard") or soft
            assert not fam(A, B, "nest") or soft
        assert not AJ.bottom_adjacent_scalar(A, B, "child") or (
            AJ.bottom_adjacent_scalar(A, B, "nest")
            and not AJ.bottom_adjacent_scalar(A, B, "hard")
        )


# --------------------------------------------------------------- kv graph

G = {"id": "g", "role": "group", "box": (0, 0, 1000, 1000), "contents": ""}


def _h(i, box, contents="k"):
    return {"id": f"h{i}", "role": "header", "box": box, "contents": contents}


def _c(i, box, contents="v"):
    return {"id": f"c{i}", "role": "cell", "box": box, "contents": contents}


def test_kv_no_groups_everything_keyless():
    # kv_parser.py:28-29 — zero groups → no edges, all cells keyless
    out = parse_kv_doc([_h(0, (0, 0, 100, 16)), _c(0, (110, 0, 210, 16))])
    assert out == [
        {"key_cells": "", "key_text": "", "value_cell": "c0", "value_text": "v", "dir": ""}
    ]


def test_kv_nested_key_path_horizontal():
    out = parse_kv_doc(
        [G, _h(0, (0, 0, 100, 16), "a"), _h(1, (110, 0, 210, 16), "b"),
         _c(0, (220, 0, 320, 16), "leaf")]
    )
    assert out == [
        {"key_cells": "h0/h1", "key_text": "ab", "value_cell": "c0",
         "value_text": "leaf", "dir": "H"}
    ]


def test_kv_orientation_vote_vertical():
    # one header with two cells below → 2 vertical leaves beat 0 horizontal
    out = parse_kv_doc(
        [G, _h(0, (0, 0, 250, 16), "top"),
         _c(0, (0, 22, 120, 38), "a"), _c(1, (130, 22, 250, 38), "b")]
    )
    assert [(r["key_cells"], r["value_cell"], r["dir"]) for r in out] == [
        ("h0", "c0", "V"), ("h0", "c1", "V")
    ]


def test_kv_pseudo_group_pairs_unmatched_nodes():
    # a far-away group exists, so unmatched header+cell share the pseudo
    # group and still form a KV pair (kv_parser.py:59-74)
    far = {"id": "g", "role": "group", "box": (0, 0, 10, 10), "contents": ""}
    out = parse_kv_doc(
        [far, _h(0, (500, 0, 600, 16), "k"), _c(0, (610, 0, 710, 16), "v")]
    )
    assert out[0]["key_cells"] == "h0" and out[0]["value_cell"] == "c0"


def test_kv_empty_cells_reachable_but_not_linked_cellwise():
    # header→empty edges exist (kv_parser.py:219-224); empty leaf keeps key
    emp = {"id": "e0", "role": "empty", "box": (110, 0, 210, 16), "contents": ""}
    out = parse_kv_doc([G, _h(0, (0, 0, 100, 16), "k"), emp])
    assert out == [
        {"key_cells": "h0", "key_text": "k", "value_cell": "e0", "value_text": "",
         "dir": "H"}
    ]


def test_kv_spark_matches_scalar(spark):
    # applyInPandas path == scalar path on a two-doc corpus
    docs = []
    for d in range(2):
        docs += [
            (d, "g", "group", 0, 0, 1000, 1000, ""),
            (d, "h0", "header", 0, 0, 100, 16, f"k{d}"),
            (d, "c0", "cell", 110, 0, 210, 16, f"v{d}"),
            (d, "c9", "cell", 0, 500, 100, 516, "stray"),
        ]
    cells = spark.createDataFrame(
        docs, "doc_id long, cell_id string, role string, "
        "x1 int, y1 int, x2 int, y2 int, contents string"
    )
    got = {
        (r.doc_id, r.key_cells, r.value_cell, r.dir)
        for r in parse_kv_items(cells).collect()
    }
    assert got == {
        (0, "h0", "c0", "H"), (0, "", "c9", ""),
        (1, "h0", "c0", "H"), (1, "", "c9", ""),
    }


# ---------------------------------------------------------------- cascade


@pytest.fixture(scope="module")
def mini_layout(spark):
    cells = spark.createDataFrame(
        [
            (0, "g", "group", 0, 0, 1000, 1000, ""),
            (0, "h0", "header", 0, 0, 100, 16, "Invoice No"),
            (0, "c0", "cell", 110, 0, 230, 16, "INV-001"),
            (0, "h1", "header", 0, 22, 100, 38, "Date"),
            (0, "c1", "cell", 110, 22, 230, 38, "2024-05-01"),
        ],
        "doc_id long, cell_id string, role string, "
        "x1 int, y1 int, x2 int, y2 int, contents string",
    )
    paragraphs = spark.createDataFrame(
        [(0, "p0", 0, 600, 400, 620, "total amount: 9981 yen")],
        "doc_id long, par_id string, x1 int, y1 int, x2 int, y2 int, contents string",
    )
    words = spark.createDataFrame(
        [(0, "w0", 500, 600, 560, 616, "W77X")],
        "doc_id long, word_id string, x1 int, y1 int, x2 int, y2 int, content string",
    )
    return cells, parse_kv_items(cells), paragraphs, words


def test_cascade_tiers(mini_layout):
    cells, kv, paragraphs, words = mini_layout
    fields = [
        ScalarField("by_id", cell_id="c1"),
        ScalarField("by_bbox", bbox=(100, 0, 240, 18)),
        ScalarField("by_kv", description="Invoice No"),  # space-insensitive match
        ScalarField("by_cellq", description="INV-"),
        ScalarField("by_para", description="total amount"),
        ScalarField("by_regex", regex="[0-9]{4}"),
        ScalarField("by_word_regex", regex="W[0-9]+X"),
        ScalarField("missing", description="nope", regex="QQQ[0-9]"),
    ]
    out = {
        r.field: (r.value, r.source, r.confidence)
        for r in extract_scalar_fields(cells, kv, paragraphs, words, fields).collect()
    }
    assert out["by_id"] == ("2024-05-01", "cell_id", "high")
    assert out["by_bbox"] == ("INV-001", "bbox", "high")  # first by (y1,x1): c0
    assert out["by_kv"] == ("INV-001", "kv", "high")
    assert out["by_cellq"] == ("INV-001", "cell_query", "medium")
    assert out["by_para"] == ("total amount: 9981 yen", "paragraph", "medium")
    assert out["by_regex"] == ("2024", "regex", "high")  # c1 beats p0 (tier 6 < 7)
    assert out["by_word_regex"] == ("W77X", "regex", "high")
    assert out["missing"] == ("", "not_found", "low")


def test_cascade_merge_values(spark, mini_layout):
    cells, kv, paragraphs, words = mini_layout
    # both kv values match key 'o' ("Invoice No", "Date"? no — use a key
    # hitting both headers): contents share no key; instead match 'n'
    # ("Invoice No" only) vs a two-hit key via 'e' ("Invoice No", "Date")
    fields = [ScalarField("m", description="e", merge_values=True, separator="|")]
    out = extract_scalar_fields(cells, kv, paragraphs, words, fields).collect()[0]
    # value cells c0 (y=0) and c1 (y=22): y-spread 22 >= x-spread 0 → y order
    assert out.value == "INV-001|2024-05-01" and out.source == "kv"


def test_duplicate_scalar_field_names_rejected(mini_layout):
    # two fields named f would emit two identical (doc, f) rows and lose
    # the second spec, so both the loader and the resolver refuse them
    with pytest.raises(ValueError):
        load_schema('fields:\n  - name: f\n    regex: "[0-9]+"\n'
                    '  - name: f\n    description: Date\n')
    fields = [ScalarField("f", regex="[0-9]{4}"), ScalarField("f", description="Date")]
    with pytest.raises(ValueError):
        extract_scalar_fields(*mini_layout, fields)


# ------------------------------------------------------------ table field


def test_table_field_match_and_row_skip(spark):
    cells = spark.createDataFrame(
        [
            (0, "H1", "header", 0, 0, 100, 16, "Item Name"),
            (0, "H2", "header", 110, 0, 210, 16, "Qty"),
            (0, "a1", "cell", 0, 22, 100, 38, "pen"),
            (0, "a2", "cell", 110, 22, 210, 38, "3"),
            (0, "b1", "cell", 0, 44, 100, 60, "ink"),
            (0, "b2", "cell", 110, 44, 210, 60, "7"),
        ],
        "doc_id long, cell_id string, role string, "
        "x1 int, y1 int, x2 int, y2 int, contents string",
    )
    gh = spark.createDataFrame(
        [(0, "g0", 0, 0, "H1"), (0, "g0", 1, 0, "H2")],
        "doc_id long, grid_id string, col int, hdr_pos int, cell_id string",
    )
    gd = spark.createDataFrame(
        [
            (0, "g0", 0, 0, "H1"), (0, "g0", 0, 1, "H2"),  # header-only row → skipped
            (0, "g0", 1, 0, "a1"), (0, "g0", 1, 1, "a2"),
            (0, "g0", 2, 0, "b1"), (0, "g0", 2, 1, "b2"),
        ],
        "doc_id long, grid_id string, row int, col int, cell_id string",
    )
    cols = [TableColumn("item", description="Item Name"), TableColumn("qty", description="Qty")]
    out = extract_table_field(cells, gh, gd, cols)
    got = {(r.row, r.col_name): (r.value, r.cell_ids) for r in out.collect()}
    assert (0, "item") not in got  # header-only row skipped
    assert got[(1, "item")] == ("pen", "a1")
    assert got[(2, "qty")] == ("7", "b2")
    assert len(got) == 4


# -------------------------------------------------------------- template


def test_template_bbox_policy(spark):
    cells = spark.createDataFrame(
        [
            (0, "t0", "group", 0, 0, 300, 100, ""),
            (0, "x", "cell", 10, 10, 100, 30, "old"),
            (0, "y", "cell", 110, 10, 200, 30, "keep"),
        ],
        "doc_id long, cell_id string, role string, "
        "x1 int, y1 int, x2 int, y2 int, contents string",
    )
    tmpl = spark.createDataFrame(
        [(0, 0, 300, 100, "T", 5, 5, 105, 35, "header", "new")],
        "tbl_x1 int, tbl_y1 int, tbl_x2 int, tbl_y2 int, tcell_id string, "
        "tc_x1 int, tc_y1 int, tc_x2 int, tc_y2 int, "
        "role_override string, contents_override string",
    )
    out = {r.cell_id: (r.role, r.contents) for r in
           apply_template(cells, tmpl, policy="bbox").collect()}
    assert out["x"] == ("header", "new")
    assert out["y"] == ("cell", "keep")


def test_template_json_roundtrip(spark, tmp_path):
    """save_template_json / load_template_json analog: template DF →
    reference-shaped JSON → DF → identical apply_template result."""
    from yomitoku_spark.semantic import (
        TEMPLATE_DF_SCHEMA,
        template_from_json,
        template_to_json,
    )

    cells = spark.createDataFrame(
        [
            (0, "t0", "group", 0, 0, 300, 100, ""),
            (0, "x", "cell", 10, 10, 100, 30, "old"),
        ],
        "doc_id long, cell_id string, role string, "
        "x1 int, y1 int, x2 int, y2 int, contents string",
    )
    tmpl = spark.createDataFrame(
        [(0, 0, 300, 100, "x", None, None, None, None, "header", "new")],
        TEMPLATE_DF_SCHEMA,
    )
    path = str(tmp_path / "tmpl.json")
    template_to_json(tmpl, path)
    loaded, policy = template_from_json(spark, path)
    assert policy == "cell_id"
    a = apply_template(cells, tmpl, policy="cell_id").collect()
    b = apply_template(cells, loaded, policy=policy).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    got = {r.cell_id: (r.role, r.contents) for r in b}
    assert got["x"] == ("header", "new")


def test_semantic_ops_on_degenerate_inputs(spark):
    """Empty/degenerate inputs must yield empty or not_found results,
    never raise (driver-gate insurance)."""
    empty_cells = spark.createDataFrame(
        [], "doc_id long, cell_id string, role string, "
        "x1 int, y1 int, x2 int, y2 int, contents string"
    )
    empty_paras = spark.createDataFrame(
        [], "doc_id long, par_id string, x1 int, y1 int, x2 int, y2 int, contents string"
    )
    empty_words = spark.createDataFrame(
        [], "doc_id long, word_id string, x1 int, y1 int, x2 int, y2 int, content string"
    )
    kv = parse_kv_items(empty_cells)
    assert kv.count() == 0
    out = extract_scalar_fields(
        empty_cells, kv, empty_paras, empty_words, [ScalarField("f", description="x")]
    )
    assert out.count() == 0  # no documents → no rows

    # one doc with ONLY a group cell: grid of fields, all not_found
    only_group = spark.createDataFrame(
        [(0, "g", "group", 0, 0, 10, 10, "")],
        "doc_id long, cell_id string, role string, "
        "x1 int, y1 int, x2 int, y2 int, contents string",
    )
    out2 = extract_scalar_fields(
        only_group, parse_kv_items(only_group), empty_paras, empty_words,
        [ScalarField("f", description="x"), ScalarField("r", regex="[0-9]")],
    ).collect()
    assert {(r.field, r.source) for r in out2} == {("f", "not_found"), ("r", "not_found")}

    # degenerate zero-area box never crashes the adjacency/group math
    degen = spark.createDataFrame(
        [(0, "g", "group", 0, 0, 100, 100, ""),
         (0, "z", "cell", 5, 5, 5, 5, "pt")],
        "doc_id long, cell_id string, role string, "
        "x1 int, y1 int, x2 int, y2 int, contents string",
    )
    rows = parse_kv_items(degen).collect()
    assert [(r.value_cell, r.key_cells) for r in rows] == [("z", "")]
