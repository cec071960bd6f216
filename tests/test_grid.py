"""Geometric grid recovery: hand-built + property (construct grid with
known (row,col,spans) → boxes → recover must return the ground truth)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from yomitoku_spark.operators.grid import recover_grid_numpy, recover_grids
from yomitoku_spark.operators.wordsplit import CONTAIN_NUM, NOISE_TH


def _boxes_from_spec(spec, col_w=50, row_h=20):
    """spec: list of (row, col, row_span, col_span) covering a grid with
    no overlaps. Returns (n,4) boxes with 2px gutters."""
    out = []
    for r, c, rs, cs in spec:
        x1 = c * col_w + 1
        y1 = r * row_h + 1
        x2 = (c + cs) * col_w - 1
        y2 = (r + rs) * row_h - 1
        out.append((x1, y1, x2, y2))
    return np.asarray(out)


def test_simple_grid():
    spec = [(r, c, 1, 1) for r in range(3) for c in range(4)]
    got = recover_grid_numpy(_boxes_from_spec(spec))
    assert [tuple(g) for g in got] == spec


def test_grid_with_spans():
    spec = [
        (0, 0, 1, 1), (0, 1, 1, 1), (0, 2, 1, 1),
        (1, 0, 2, 1),                      # rowspan 2
        (1, 1, 1, 2),                      # colspan 2
        (2, 1, 1, 1), (2, 2, 1, 1),
    ]
    got = recover_grid_numpy(_boxes_from_spec(spec))
    assert [tuple(g) for g in got] == spec


def _grid_specs():
    def build(draw_data):
        n_rows, n_cols, merges = draw_data
        taken = [[False] * n_cols for _ in range(n_rows)]
        spec = []
        for r0, c0, rs, cs in merges:
            r, c = r0 % n_rows, c0 % n_cols
            rs = min(rs, n_rows - r)
            cs = min(cs, n_cols - c)
            if any(taken[rr][cc] for rr in range(r, r + rs) for cc in range(c, c + cs)):
                continue
            for rr in range(r, r + rs):
                for cc in range(c, c + cs):
                    taken[rr][cc] = True
            spec.append((r, c, rs, cs))
        for r in range(n_rows):
            for c in range(n_cols):
                if not taken[r][c]:
                    spec.append((r, c, 1, 1))
        return sorted(spec)

    return st.tuples(
        st.integers(2, 6),
        st.integers(2, 6),
        st.lists(
            st.tuples(st.integers(0, 5), st.integers(0, 5),
                      st.integers(1, 3), st.integers(1, 3)),
            max_size=4,
        ),
    ).map(build)


@given(_grid_specs())
@settings(max_examples=200, deadline=None)
def test_grid_recovery_roundtrip(spec):
    # well-posedness: geometry alone can only recover a line that some
    # unit-extent cell witnesses (a table that is ONE merged 2x2 cell is
    # indistinguishable from a 1x1 table) — same evidence requirement as
    # the reference's separate row/col line detections
    from hypothesis import assume

    rows_seen = {r for r, c, rs, cs in spec for r in ([r] if rs == 1 else [])}
    cols_seen = {c for r, c, rs, cs in spec for c in ([c] if cs == 1 else [])}
    n_rows = max(r + rs for r, c, rs, cs in spec)
    n_cols = max(c + cs for r, c, rs, cs in spec)
    assume(rows_seen == set(range(n_rows)) and cols_seen == set(range(n_cols)))
    got = recover_grid_numpy(_boxes_from_spec(spec))
    assert sorted(tuple(g) for g in got) == spec


def test_recover_grids_spark(spark):
    spec = [(0, 0, 1, 2), (0, 2, 1, 1), (1, 0, 1, 1), (1, 1, 1, 1), (1, 2, 1, 1)]
    boxes = _boxes_from_spec(spec)
    rows = [
        ("c1", 0, 0, i, int(b[0]), int(b[1]), int(b[2]), int(b[3]))
        for i, b in enumerate(boxes)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, table_id int, cell_id int, x1 int, y1 int, x2 int, y2 int",
    )
    got = {
        r.cell_id: (r.row, r.col, r.row_span, r.col_span)
        for r in recover_grids(df).collect()
    }
    assert got == {i: spec[i] for i in range(len(spec))}


def test_derive_grid_headers(spark):
    """Geometric header derivation on the multi-header table corpus:
    stacked headers ordered by y, spanning-header column merge, stray
    header demotion (reference grid_parser.py:635-671, 733-784)."""
    from yomitoku_spark.operators.grid_headers import derive_grid_headers, merged_grid_data
    from yomitoku_spark.sources.layout import form_table_cells

    cells = form_table_cells(spark, "/root/testdata/sf0.001")
    headers, data, demoted, colmap = derive_grid_headers(cells)
    one = headers.filter("doc_id = 0").collect()
    stacks = {}
    for r in one:
        stacks.setdefault(r.col, []).append((r.hdr_pos, r.cell_id))
    stacks = {c: [cid for _, cid in sorted(v)] for c, v in stacks.items()}
    assert stacks == {0: ["T0", "Ha"], 1: ["T0", "Hb"], 2: ["T1"], 3: ["T1"]}
    assert {(r.col, r.merged_col) for r in colmap.filter("doc_id = 0").collect()} == {
        (0, 0), (1, 1), (2, 2), (3, 2)
    }
    assert [r.cell_id for r in demoted.filter("doc_id = 0").collect()] == ["S"]
    merged = {
        (r.row, r.merged_col): (r.cell_ids, r.contents)
        for r in merged_grid_data(cells, data, colmap).filter("doc_id = 0").collect()
    }
    assert merged[(0, 2)] == ("T1", "pair")
    assert merged[(2, 2)][0] == "D22_D23"
    assert merged[(3, 0)] == ("S", "stray")


def test_derive_grid_headers_pins_units_per_call(spark):
    """``units`` lives for one call: derive_grid_headers registers
    nothing with the CacheManager, and a second call on an equal plan
    after ``clearCache()`` pins its own ``units`` instead of returning
    a result whose cache was dropped."""
    from yomitoku_spark.operators import grid_headers as GH

    roles = ["header", "header", "cell", "cell"]
    boxes = _boxes_from_spec([(0, 0, 1, 1), (0, 1, 1, 1), (1, 0, 1, 1), (1, 1, 1, 1)])
    rows = [
        (0, "g", f"C{i}", role, *map(int, box))
        for i, (role, box) in enumerate(zip(roles, boxes))
    ]
    schema = (
        "doc_id bigint, grid_id string, cell_id string, role string, "
        "x1 int, y1 int, x2 int, y2 int"
    )

    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    r1 = GH.derive_grid_headers(spark.createDataFrame(rows, schema))
    want = sorted((r.col, r.hdr_pos, r.cell_id) for r in r1[0].collect())
    assert want == [(0, 0, "C0"), (1, 0, "C1")]
    assert cache_manager.isEmpty()

    spark.catalog.clearCache()
    before = pinned()
    r2 = GH.derive_grid_headers(spark.createDataFrame(rows, schema))
    got = sorted((r.col, r.hdr_pos, r.cell_id) for r in r2[0].collect())
    assert r2 is not r1
    assert pinned() - before, "second call must pin its own units"
    assert cache_manager.isEmpty()
    assert got == want


# The stdlib scalar twin of operators/wordsplit.py's DataFrame plan.
def split_words_scalar(word_box, cells) -> list[tuple[str, tuple]]:
    """cells: list of dicts {cell_id, row, col, row_span, col_span,
    box}. Returns [(part_cell_id_or_'', piece_box), ...] for ONE word
    against ONE table's cells."""
    wx1, wy1, wx2, wy2 = word_box
    tx1 = min(c["box"][0] for c in cells)
    ty1 = min(c["box"][1] for c in cells)
    tx2 = max(c["box"][2] for c in cells)
    ty2 = max(c["box"][3] for c in cells)
    ow = max(min(tx2, wx2) - max(tx1, wx1), 0)
    oh = max(min(ty2, wy2) - max(ty1, wy1), 0)
    if ow * oh * CONTAIN_NUM <= (wx2 - wx1) * (wy2 - wy1):
        return [("", word_box)]
    vertical = (wy2 - wy1) > 2 * (wx2 - wx1)
    axis, span_key = ("col", "col_span") if vertical else ("row", "row_span")

    lines: dict[int, list[int]] = {}
    for c in cells:
        if c[span_key] != 1:
            continue
        b = c["box"]
        cur = lines.get(c[axis])
        if cur is None:
            lines[c[axis]] = list(b)
        else:
            cur[0] = min(cur[0], b[0])
            cur[1] = min(cur[1], b[1])
            cur[2] = max(cur[2], b[2])
            cur[3] = max(cur[3], b[3])
    if not lines:
        return []
    best, best_ov = None, -1
    for idx in sorted(lines):
        lx1, ly1, lx2, ly2 = lines[idx]
        ov = max(min(lx2, wx2) - max(lx1, wx1), 0) * max(
            min(ly2, wy2) - max(ly1, wy1), 0
        )
        if ov > best_ov:
            best, best_ov = idx, ov
    out = []
    for c in sorted(cells, key=lambda c: c["cell_id"]):
        if not (c[axis] <= best < c[axis] + c[span_key]):
            continue
        cx1, cy1, cx2, cy2 = c["box"]
        ix1, iy1 = max(wx1, cx1), max(wy1, cy1)
        ix2, iy2 = min(wx2, cx2), min(wy2, cy2)
        if ix1 >= ix2 or iy1 >= iy2:
            continue
        piece = (wx1, iy1, wx2, iy2) if vertical else (ix1, wy1, ix2, wy2)
        if piece[2] - piece[0] >= NOISE_TH and piece[3] - piece[1] >= NOISE_TH:
            out.append((c["cell_id"], piece))
    return out


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_split_words_column_equals_scalar(spark, data):
    """Word-split parity: the DataFrame plan and the stdlib scalar twin
    agree on random words over random unit grids (containment, h/v
    allocation argmax with tiebreaks, per-cell clipping, noise drop,
    pass-through)."""
    from yomitoku_spark.operators.wordsplit import split_words_across_cells

    n_rows = data.draw(st.integers(2, 4))
    n_cols = data.draw(st.integers(2, 4))
    spec = [(r, c, 1, 1) for r in range(n_rows) for c in range(n_cols)]
    if data.draw(st.booleans()):
        spec = [s for s in spec if s[:2] != (0, 0) and s[:2] != (0, 1)]
        spec.append((0, 0, 1, 2))  # a spanning header-ish cell
    boxes = _boxes_from_spec(spec, col_w=60, row_h=30)
    cells = [
        {"cell_id": f"c{i}", "row": r, "col": c, "row_span": rs, "col_span": cs,
         "box": tuple(int(v) for v in boxes[i])}
        for i, (r, c, rs, cs) in enumerate(spec)
    ]
    words = [
        (
            f"w{k}",
            data.draw(st.integers(-20, n_cols * 60 + 20)),
            data.draw(st.integers(-20, n_rows * 30 + 20)),
            data.draw(st.integers(10, 240)),
            data.draw(st.integers(10, 120)),
        )
        for k in range(data.draw(st.integers(1, 5)))
    ]
    words = [(w, x, y, x + dw, y + dh) for w, x, y, dw, dh in words]

    expected = set()
    for wid, x1, y1, x2, y2 in words:
        for part, (px1, py1, px2, py2) in split_words_scalar((x1, y1, x2, y2), cells):
            expected.add((wid, part, px1, py1, px2, py2))

    cdf = spark.createDataFrame(
        [(0, "t", c["cell_id"], c["row"], c["col"], c["row_span"], c["col_span"],
          *c["box"]) for c in cells],
        "doc_id bigint, table_id string, cell_id string, row int, col int, "
        "row_span int, col_span int, x1 int, y1 int, x2 int, y2 int",
    )
    wdf = spark.createDataFrame(
        [(0, w, x1, y1, x2, y2) for w, x1, y1, x2, y2 in words],
        "doc_id bigint, word_id string, x1 int, y1 int, x2 int, y2 int",
    )
    got = {
        (r.word_id, r.part, r.x1, r.y1, r.x2, r.y2)
        for r in split_words_across_cells(wdf, cdf).collect()
    }
    assert got == expected
