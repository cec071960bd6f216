"""Box-adjacency rule family (soft / hard / nest / child).

Re-expression of the reference's adjacency kernel
(/root/reference/src/yomitoku/utils/misc.py:299-427
``is_right_adjacent`` / ``is_bottom_adjacent``, backed by the
point-to-segment distances of utils/misc.py:208-268). Semantics:

* direction gate   — B starts right of (below) A's leading edge
* overlap gate     — ≥ ``OVERLAP_PERMILLE``/1000 of the smaller extent
  overlaps on the perpendicular axis
* corner-veto gate — the two *crossing* corner pairs must not be closer
  than ``IGNORE_DIST_TH`` (a box diagonally touching at a corner is not
  a neighbor)
* rule             — ``soft``: any of the four edge-to-edge distances
  (max of a corner-to-segment pair each) under ``DIST_TH``; ``hard``:
  both aligned corner pairs under ``DIST_TH`` (1:1 joins only); ``nest``: the
  d3 distance only (child-of-nest); ``child``: nest-but-not-hard.

Everything is computed on SQUARED integer distances (d < t ⟺ d² < t²
for non-negative d), so the predicates are bit-exact in Spark, DuckDB,
and the scalar twin — no float sqrt anywhere. The scalar twins back the
per-document pandas-UDF KV-graph parser and the property tests; the
column twins back joins (search_cells_right_of_key-style lookups,
table_semantic_parser.py:229-275) and the DuckDB-checked registry
query. Coordinates are assumed integral (the engine's box contract);
the Column twins route every delta through bigint before squaring so
large-page coordinates (≥ ~46341) cannot wrap int32, matching the
scalar twins' exact Python ints. The perpendicular-overlap gate clamps
the overlap at 0 like the reference's ``overlap_interval``
(misc.py:270-274): a degenerate zero-extent smaller box passes the gate
even with disjoint intervals.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DIST_TH = 15
OVERLAP_PERMILLE = 100  # 0.1
IGNORE_DIST_TH = 10
# the rules compare SQUARED distances against these
_T2, _IG2 = DIST_TH * DIST_TH, IGNORE_DIST_TH * IGNORE_DIST_TH

# ---------------------------------------------------------------- column


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def _d2_pp(px, py, qx, qy) -> Column:
    # deltas go through bigint BEFORE squaring: int32 squares silently
    # wrap in non-ANSI Spark for coords ≥ ~46341 while the Python scalar
    # twins use exact bigints (same discipline as the searchable-PDF
    # font fit)
    dx = (px - qx).cast("bigint")
    dy = (py - qy).cast("bigint")
    return dx * dx + dy * dy


def _clamp(v, lo, hi) -> Column:
    return F.greatest(lo, F.least(v, hi))


def _d2_p_vseg(px, py, sx, sy1, sy2) -> Column:
    """Squared distance from point to the vertical segment x=sx, y∈[sy1,sy2]."""
    dy = (py - _clamp(py, sy1, sy2)).cast("bigint")
    dx = (px - sx).cast("bigint")
    return dx * dx + dy * dy


def _d2_p_hseg(px, py, sy, sx1, sx2) -> Column:
    dx = (px - _clamp(px, sx1, sx2)).cast("bigint")
    dy = (py - sy).cast("bigint")
    return dy * dy + dx * dx


def _box(prefix: str):
    return (
        _c(f"{prefix}.x1"),
        _c(f"{prefix}.y1"),
        _c(f"{prefix}.x2"),
        _c(f"{prefix}.y2"),
    )


def right_adjacent(
    a: str,
    b: str,
    rule: str = "soft",
) -> Column:
    """True when box ``b`` sits immediately right of box ``a``
    (reference utils/misc.py:299-352). ``a``/``b`` are struct-column
    prefixes with integer x1,y1,x2,y2 fields."""
    ax1, ay1, ax2, ay2 = _box(a)
    bx1, by1, bx2, by2 = _box(b)

    direction = bx1 >= ax1
    # clamped at 0 like the reference's overlap_interval (misc.py:270-274):
    # a zero-extent smaller box passes the gate (0 >= th*0) even when the
    # intervals are disjoint
    overlap_y = F.greatest(F.least(ay2, by2) - F.greatest(ay1, by1), F.lit(0))
    overlap_ok = overlap_y.cast("bigint") * 1000 >= OVERLAP_PERMILLE * F.least(
        ay2 - ay1, by2 - by1
    ).cast("bigint")
    corner_ok = (_d2_pp(ax2, ay2, bx1, by1) >= _IG2) & (
        _d2_pp(ax2, ay1, bx1, by2) >= _IG2
    )

    e1 = _d2_p_vseg(ax2, ay1, bx1, by1, by2)
    e2 = _d2_p_vseg(ax2, ay2, bx1, by1, by2)
    e3 = _d2_p_vseg(bx1, by1, ax2, ay1, ay2)
    e4 = _d2_p_vseg(bx1, by2, ax2, ay1, ay2)
    d1, d2, d3, d4 = (
        F.greatest(e1, e4),
        F.greatest(e2, e3),
        F.greatest(e3, e4),
        F.greatest(e1, e2),
    )
    hard = (_d2_pp(ax2, ay1, bx1, by1) < _T2) & (_d2_pp(ax2, ay2, bx1, by2) < _T2)
    if rule == "hard":
        ok = hard
    elif rule == "soft":
        ok = (d1 < _T2) | (d2 < _T2) | (d3 < _T2) | (d4 < _T2)
    elif rule == "nest":
        ok = d3 < _T2
    else:
        raise ValueError(f"unknown right-adjacency rule {rule!r}")
    return direction & overlap_ok & corner_ok & ok


def bottom_adjacent(
    a: str,
    b: str,
    rule: str = "soft",
) -> Column:
    """True when box ``b`` sits immediately below box ``a``
    (reference utils/misc.py:355-427; includes the ``child`` rule =
    nest-but-not-1:1)."""
    ax1, ay1, ax2, ay2 = _box(a)
    bx1, by1, bx2, by2 = _box(b)

    direction = by1 >= ay1
    overlap_x = F.greatest(F.least(ax2, bx2) - F.greatest(ax1, bx1), F.lit(0))
    overlap_ok = overlap_x.cast("bigint") * 1000 >= OVERLAP_PERMILLE * F.least(
        ax2 - ax1, bx2 - bx1
    ).cast("bigint")
    corner_ok = (_d2_pp(ax2, ay2, bx1, by1) >= _IG2) & (
        _d2_pp(ax1, ay2, bx2, by1) >= _IG2
    )

    e1 = _d2_p_hseg(ax1, ay2, by1, bx1, bx2)
    e2 = _d2_p_hseg(ax2, ay2, by1, bx1, bx2)
    e3 = _d2_p_hseg(bx1, by1, ay2, ax1, ax2)
    e4 = _d2_p_hseg(bx2, by1, ay2, ax1, ax2)
    d1, d2, d3, d4 = (
        F.greatest(e1, e4),
        F.greatest(e2, e3),
        F.greatest(e3, e4),
        F.greatest(e1, e2),
    )
    hard = (_d2_pp(ax1, ay2, bx1, by1) < _T2) & (_d2_pp(ax2, ay2, bx2, by1) < _T2)
    if rule == "hard":
        ok = hard
    elif rule == "soft":
        ok = (d1 < _T2) | (d2 < _T2) | (d3 < _T2) | (d4 < _T2)
    elif rule == "nest":
        ok = d3 < _T2
    elif rule == "child":
        ok = ~hard & (d3 < _T2)
    else:
        raise ValueError(f"unknown bottom-adjacency rule {rule!r}")
    return direction & overlap_ok & corner_ok & ok


# ---------------------------------------------------------------- scalar
# Independent stdlib twins of the column expressions above. They back
# the per-document KV-graph parser (numpy/python inside applyInPandas)
# and the hypothesis tests that pin column == scalar on random boxes.


def _s_d2_pp(px, py, qx, qy) -> int:
    return (px - qx) ** 2 + (py - qy) ** 2


def _s_d2_p_vseg(px, py, sx, sy1, sy2) -> int:
    cy = min(max(py, sy1), sy2)
    return (px - sx) ** 2 + (py - cy) ** 2


def _s_d2_p_hseg(px, py, sy, sx1, sx2) -> int:
    cx = min(max(px, sx1), sx2)
    return (py - sy) ** 2 + (px - cx) ** 2


def right_adjacent_scalar(
    box_a,
    box_b,
    rule: str = "soft",
) -> bool:
    ax1, ay1, ax2, ay2 = box_a
    bx1, by1, bx2, by2 = box_b
    if bx1 < ax1:
        return False
    overlap_y = max(min(ay2, by2) - max(ay1, by1), 0)
    if overlap_y * 1000 < OVERLAP_PERMILLE * min(ay2 - ay1, by2 - by1):
        return False
    if _s_d2_pp(ax2, ay2, bx1, by1) < _IG2 or _s_d2_pp(ax2, ay1, bx1, by2) < _IG2:
        return False
    e1 = _s_d2_p_vseg(ax2, ay1, bx1, by1, by2)
    e2 = _s_d2_p_vseg(ax2, ay2, bx1, by1, by2)
    e3 = _s_d2_p_vseg(bx1, by1, ax2, ay1, ay2)
    e4 = _s_d2_p_vseg(bx1, by2, ax2, ay1, ay2)
    d1, d2, d3, d4 = max(e1, e4), max(e2, e3), max(e3, e4), max(e1, e2)
    if rule == "hard":
        return _s_d2_pp(ax2, ay1, bx1, by1) < _T2 and _s_d2_pp(ax2, ay2, bx1, by2) < _T2
    if rule == "soft":
        return d1 < _T2 or d2 < _T2 or d3 < _T2 or d4 < _T2
    if rule == "nest":
        return d3 < _T2
    raise ValueError(f"unknown right-adjacency rule {rule!r}")


def sql_right_adjacent(
    a: str,
    b: str,
    rule: str = "soft",
) -> str:
    """ANSI-SQL boolean expression equivalent to :func:`right_adjacent`
    for the DuckDB oracle; ``a``/``b`` are table aliases carrying
    integer x1,y1,x2,y2 columns. Same squared-integer math, so the
    predicate is bit-exact across engines."""

    # same bigint-before-squaring discipline as the Column twins: raw
    # INT32 squaring overflows (DuckDB raises) for deltas >= ~46341
    def pp(px, py, qx, qy):
        dx = f"CAST(({px})-({qx}) AS BIGINT)"
        dy = f"CAST(({py})-({qy}) AS BIGINT)"
        return f"{dx}*{dx} + {dy}*{dy}"

    def vseg(px, py, sx, sy1, sy2):
        cy = f"GREATEST({sy1}, LEAST({py}, {sy2}))"
        dx = f"CAST(({px})-({sx}) AS BIGINT)"
        dy = f"CAST(({py})-{cy} AS BIGINT)"
        return f"{dx}*{dx} + {dy}*{dy}"

    e1 = vseg(f"{a}.x2", f"{a}.y1", f"{b}.x1", f"{b}.y1", f"{b}.y2")
    e2 = vseg(f"{a}.x2", f"{a}.y2", f"{b}.x1", f"{b}.y1", f"{b}.y2")
    e3 = vseg(f"{b}.x1", f"{b}.y1", f"{a}.x2", f"{a}.y1", f"{a}.y2")
    e4 = vseg(f"{b}.x1", f"{b}.y2", f"{a}.x2", f"{a}.y1", f"{a}.y2")
    d1 = f"GREATEST({e1}, {e4})"
    d2 = f"GREATEST({e2}, {e3})"
    d3 = f"GREATEST({e3}, {e4})"
    d4 = f"GREATEST({e1}, {e2})"
    hard = (
        f"({pp(f'{a}.x2', f'{a}.y1', f'{b}.x1', f'{b}.y1')} < {_T2}"
        f" AND {pp(f'{a}.x2', f'{a}.y2', f'{b}.x1', f'{b}.y2')} < {_T2})"
    )
    if rule == "hard":
        ok = hard
    elif rule == "soft":
        ok = f"({d1} < {_T2} OR {d2} < {_T2} OR {d3} < {_T2} OR {d4} < {_T2})"
    elif rule == "nest":
        ok = f"({d3} < {_T2})"
    else:
        raise ValueError(f"unknown right-adjacency rule {rule!r}")
    return (
        f"({b}.x1 >= {a}.x1"
        f" AND CAST(GREATEST(LEAST({a}.y2,{b}.y2) - GREATEST({a}.y1,{b}.y1), 0)"
        f"     AS BIGINT) * 1000"
        f"     >= {OVERLAP_PERMILLE} * CAST(LEAST({a}.y2-{a}.y1, {b}.y2-{b}.y1) AS BIGINT)"
        f" AND {pp(f'{a}.x2', f'{a}.y2', f'{b}.x1', f'{b}.y1')} >= {_IG2}"
        f" AND {pp(f'{a}.x2', f'{a}.y1', f'{b}.x1', f'{b}.y2')} >= {_IG2}"
        f" AND {ok})"
    )


def sql_bottom_adjacent(
    a: str,
    b: str,
    rule: str = "soft",
) -> str:
    """SQL twin of :func:`bottom_adjacent` (incl. the ``child`` rule)."""

    def pp(px, py, qx, qy):
        dx = f"CAST(({px})-({qx}) AS BIGINT)"
        dy = f"CAST(({py})-({qy}) AS BIGINT)"
        return f"{dx}*{dx} + {dy}*{dy}"

    def hseg(px, py, sy, sx1, sx2):
        cx = f"GREATEST({sx1}, LEAST({px}, {sx2}))"
        dx = f"CAST(({px})-{cx} AS BIGINT)"
        dy = f"CAST(({py})-({sy}) AS BIGINT)"
        return f"{dy}*{dy} + {dx}*{dx}"

    e1 = hseg(f"{a}.x1", f"{a}.y2", f"{b}.y1", f"{b}.x1", f"{b}.x2")
    e2 = hseg(f"{a}.x2", f"{a}.y2", f"{b}.y1", f"{b}.x1", f"{b}.x2")
    e3 = hseg(f"{b}.x1", f"{b}.y1", f"{a}.y2", f"{a}.x1", f"{a}.x2")
    e4 = hseg(f"{b}.x2", f"{b}.y1", f"{a}.y2", f"{a}.x1", f"{a}.x2")
    d1 = f"GREATEST({e1}, {e4})"
    d2 = f"GREATEST({e2}, {e3})"
    d3 = f"GREATEST({e3}, {e4})"
    d4 = f"GREATEST({e1}, {e2})"
    hard = (
        f"({pp(f'{a}.x1', f'{a}.y2', f'{b}.x1', f'{b}.y1')} < {_T2}"
        f" AND {pp(f'{a}.x2', f'{a}.y2', f'{b}.x2', f'{b}.y1')} < {_T2})"
    )
    if rule == "hard":
        ok = hard
    elif rule == "soft":
        ok = f"({d1} < {_T2} OR {d2} < {_T2} OR {d3} < {_T2} OR {d4} < {_T2})"
    elif rule == "nest":
        ok = f"({d3} < {_T2})"
    elif rule == "child":
        ok = f"(NOT {hard} AND {d3} < {_T2})"
    else:
        raise ValueError(f"unknown bottom-adjacency rule {rule!r}")
    return (
        f"({b}.y1 >= {a}.y1"
        f" AND CAST(GREATEST(LEAST({a}.x2,{b}.x2) - GREATEST({a}.x1,{b}.x1), 0)"
        f"     AS BIGINT) * 1000"
        f"     >= {OVERLAP_PERMILLE} * CAST(LEAST({a}.x2-{a}.x1, {b}.x2-{b}.x1) AS BIGINT)"
        f" AND {pp(f'{a}.x2', f'{a}.y2', f'{b}.x1', f'{b}.y1')} >= {_IG2}"
        f" AND {pp(f'{a}.x1', f'{a}.y2', f'{b}.x2', f'{b}.y1')} >= {_IG2}"
        f" AND {ok})"
    )


def bottom_adjacent_scalar(
    box_a,
    box_b,
    rule: str = "soft",
) -> bool:
    ax1, ay1, ax2, ay2 = box_a
    bx1, by1, bx2, by2 = box_b
    if by1 < ay1:
        return False
    overlap_x = max(min(ax2, bx2) - max(ax1, bx1), 0)
    if overlap_x * 1000 < OVERLAP_PERMILLE * min(ax2 - ax1, bx2 - bx1):
        return False
    if _s_d2_pp(ax2, ay2, bx1, by1) < _IG2 or _s_d2_pp(ax1, ay2, bx2, by1) < _IG2:
        return False
    e1 = _s_d2_p_hseg(ax1, ay2, by1, bx1, bx2)
    e2 = _s_d2_p_hseg(ax2, ay2, by1, bx1, bx2)
    e3 = _s_d2_p_hseg(bx1, by1, ay2, ax1, ax2)
    e4 = _s_d2_p_hseg(bx2, by1, ay2, ax1, ax2)
    d1, d2, d3, d4 = max(e1, e4), max(e2, e3), max(e3, e4), max(e1, e2)
    hard = _s_d2_pp(ax1, ay2, bx1, by1) < _T2 and _s_d2_pp(ax2, ay2, bx2, by1) < _T2
    if rule == "hard":
        return hard
    if rule == "soft":
        return d1 < _T2 or d2 < _T2 or d3 < _T2 or d4 < _T2
    if rule == "nest":
        return d3 < _T2
    if rule == "child":
        return (not hard) and d3 < _T2
    raise ValueError(f"unknown bottom-adjacency rule {rule!r}")
