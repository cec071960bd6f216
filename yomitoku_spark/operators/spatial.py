"""Spatial/geometric operators as pure column expressions + join patterns.

Re-expressions of the reference's rectangle-geometry kernel
(/root/reference/src/yomitoku/utils/misc.py:35-125 — overlap ratio,
intersection, interval overlap) and its join/dedup patterns:

* containment predicate   — utils/misc.py:53-72 ``is_contained``, which
  the reference uses as a nested-loop predicate
  (document_analyzer.py:191-237 and friends)
* contained-rect dedup    — layout_parser.py:28-58 (keep larger) /
  table_cell_detector.py:31-65 (keep smaller)
* cross-category anti-join — layout_parser.py:61-74

All of these are JVM-side expressions (whole-stage codegen); the
reference's O(n²) Python pair loops become Catalyst joins that
broadcast the small side and survive a 100× scale-up.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def overlap_area(a: str, b: str) -> Column:
    """Intersection area of two box struct columns (x1,y1,x2,y2).

    reference: utils/misc.py:75-91 ``calc_intersection``."""
    w = F.least(F.col(f"{a}.x2"), F.col(f"{b}.x2")) - F.greatest(
        F.col(f"{a}.x1"), F.col(f"{b}.x1")
    )
    h = F.least(F.col(f"{a}.y2"), F.col(f"{b}.y2")) - F.greatest(
        F.col(f"{a}.y1"), F.col(f"{b}.y1")
    )
    return F.greatest(w, F.lit(0)) * F.greatest(h, F.lit(0))


def box_area(a: str) -> Column:
    return (F.col(f"{a}.x2") - F.col(f"{a}.x1")) * (F.col(f"{a}.y2") - F.col(f"{a}.y1"))


def contains(outer: str, inner: str, threshold: float = 0.8) -> Column:
    """outer ⊇ inner when overlap/area(inner) ≥ threshold.

    reference: utils/misc.py:53-72 ``is_contained``. The comparison is
    integer-exact (overlap·1000 ≥ ⌊threshold·1000⌉·area): a float
    `0.8*area` is 36.000000000000007 for area=45, silently flipping
    exact-boundary pairs relative to the rational predicate."""
    num = int(round(threshold * 1000))
    return overlap_area(outer, inner) * 1000 >= num * box_area(inner)


def vertical_aspect(a: str, ratio: int = 2) -> Column:
    """Aspect-based verticality: height strictly greater than
    ``ratio``× width (reference is_vertical,
    document_analyzer.py:240-245 / text_recognizer.py:158-164)."""
    return (F.col(f"{a}.y2") - F.col(f"{a}.y1")) > ratio * (
        F.col(f"{a}.x2") - F.col(f"{a}.x1")
    )


def cover_cells(box: str, cell: int) -> Column:
    """Array of grid-cell ids covered by a box (cell = coarse grid pitch).
    Spatial blocking: two boxes can only intersect if they share a
    covered cell, so the O(n²) theta self-join becomes an equi join on
    cell id — the plan that survives 10^9 boxes."""
    cx = F.sequence(
        F.floor(F.col(f"{box}.x1") / cell), F.floor((F.col(f"{box}.x2") - 1) / cell)
    )
    cy = F.sequence(
        F.floor(F.col(f"{box}.y1") / cell), F.floor((F.col(f"{box}.y2") - 1) / cell)
    )
    return F.flatten(
        F.transform(cx, lambda x: F.transform(cy, lambda y: x * 1_000_003 + y))
    )


def grid_blocked_pairs(df: DataFrame, id_col: str, cell: int = 64) -> DataFrame:
    """Candidate pairs (a, b struct columns) of boxes sharing ≥1 grid
    cell, deduped. Superset of all intersecting pairs.

    Use when geometry is SPARSE relative to the cell pitch (few boxes
    per cell): the equi join then replaces the O(n²) nested loop. When
    boxes are dense (everything overlaps everything — candidate count
    ~n² anyway), the blocking only adds an exchange; keep the direct
    theta join there."""
    e = df.select(
        F.struct(*[F.col(c) for c in df.columns]).alias("r"),
        F.explode(cover_cells("box", cell)).alias("cell"),
    )
    a, b = e.alias("ea"), e.alias("eb")
    pairs = a.join(
        b,
        (F.col("ea.cell") == F.col("eb.cell"))
        & (F.col(f"ea.r.{id_col}") != F.col(f"eb.r.{id_col}")),
    ).select(F.col("ea.r").alias("a"), F.col("eb.r").alias("b"))
    return (
        pairs.withColumn("__ka", F.col(f"a.{id_col}"))
        .withColumn("__kb", F.col(f"b.{id_col}"))
        .dropDuplicates(["__ka", "__kb"])
        .drop("__ka", "__kb")
    )


# auto-switch thresholds: below _AUTO_MIN_BOXES the n² probe is cheaper
# than standing up the blocking exchange; past _AUTO_MAX_PER_CELL
# expected boxes per blocking cell, the per-cell self-joins MATERIALIZE
# nearly as many pairs as the theta join evaluates — but through an
# exchange + dropDuplicates shuffle, which loses badly (measured on the
# registry's dense stress synthetic: blocked 525 s vs theta 5.4 s at
# 20k boxes in a 130x130 extent)
_AUTO_MIN_BOXES = 2048
_AUTO_MAX_PER_CELL = 64


def dedup_strategy(df: DataFrame) -> tuple[str, int | None]:
    """Measure the geometry and pick the scale-safe dedup plan:
    ``("blocked", cell)`` for big sparse geometry, ``("theta", None)``
    for tiny or pathologically dense inputs.

    One tiny aggregate (6 numbers to the driver): box count, the
    bounding extent, and the median short side. The blocking pitch is
    2× the median short side (≥16) so a typical box covers ~a few
    cells; the decision key is the EXPECTED BOXES PER CELL under that
    pitch, B ≈ 2.25·n·cell²/extent (2.25 = (1 + side/cell)² cells
    covered per box at cell = 2·side, assuming ~uniform placement —
    clustered layouts underestimate B, which errs toward 'blocked', the
    side that still beats theta unless density is extreme). Blocked
    pair volume scales with Σ_cells B² ≈ n·B, so B ≤ 64 keeps the
    materialized candidate set ~64·n — far below the n² theta probe at
    any real corpus size — while a dense stress input (B ≈ 900) falls
    back to the exchange-free nested loop."""
    s = df.select(
        F.count(F.lit(1)).alias("n"),
        F.min("box.x1").alias("minx"),
        F.max("box.x2").alias("maxx"),
        F.min("box.y1").alias("miny"),
        F.max("box.y2").alias("maxy"),
        F.percentile_approx(
            F.least(
                F.col("box.x2") - F.col("box.x1"), F.col("box.y2") - F.col("box.y1")
            ),
            0.5,
        ).alias("med_side"),
    ).first()
    n = s["n"] or 0
    if n < _AUTO_MIN_BOXES:
        return ("theta", None)
    extent = max((s["maxx"] - s["minx"]) * (s["maxy"] - s["miny"]), 1)
    cell = int(max(16, 2 * (s["med_side"] or 8)))
    boxes_per_cell = 2.25 * n * cell * cell / extent
    if boxes_per_cell > _AUTO_MAX_PER_CELL:
        return ("theta", None)
    return ("blocked", cell)


def dedup_contained(
    df: DataFrame,
    id_col: str,
    keep: str = "larger",
    threshold: float = 0.8,
    blocked_cell: int | str | None = None,
) -> DataFrame:
    """Drop boxes contained in another box of the same DataFrame.

    keep='larger'  — reference layout_parser.py:28-58
    keep='smaller' — reference table_cell_detector.py:31-65
    Implemented as a containment self-join → LEFT ANTI of the losers;
    on mutual containment the area tiebreak (then id) decides.

    ``blocked_cell``: when an int, candidate pairs come from the
    grid-cell equi join (:func:`grid_blocked_pairs`) instead of the
    O(n²) nested-loop theta join — identical results, scalable plan.
    ``"auto"`` measures the geometry (:func:`dedup_strategy`) and makes
    the scale-safe choice itself: blocked for big sparse inputs, theta
    for tiny or degenerate-dense ones."""
    if blocked_cell == "auto":
        mode, cell = dedup_strategy(df)
        blocked_cell = cell if mode == "blocked" else None
    contained = contains("b.box", "a.box", threshold)  # b contains a
    area_a = box_area("a.box")
    area_b = box_area("b.box")
    tie = F.col(f"a.{id_col}") > F.col(f"b.{id_col}")
    if keep == "larger":
        loses = (area_a < area_b) | ((area_a == area_b) & tie)
    else:
        loses = (area_a > area_b) | ((area_a == area_b) & tie)
    mutual = contains("a.box", "b.box", threshold)
    # a loses when b contains a AND (mutual → tiebreak, else containment alone)
    pred = contained & (~mutual | loses)
    if blocked_cell:
        pairs = grid_blocked_pairs(df, id_col, blocked_cell)
        losers = pairs.filter(pred).select(F.col(f"a.{id_col}").alias(id_col)).distinct()
    else:
        # plain aliased self-join (no struct packing — keeps column
        # pruning + codegen) and LEFT SEMI, not inner+distinct: the
        # nested-loop probe stops at the FIRST dominating match per row
        a = df.alias("a")
        b = df.alias("b")
        neq = F.col(f"a.{id_col}") != F.col(f"b.{id_col}")
        losers = a.join(b, neq & pred, "left_semi").select(id_col)
    return df.join(losers, id_col, "left_anti")


def quad_to_xyxy(quad: Column) -> Column:
    """Quadrilateral (array of [x, y] points) → bbox struct
    (reference utils/misc.py:128-135): min/max of each coordinate."""
    xs = F.transform(quad, lambda p: F.get(p, 0))
    ys = F.transform(quad, lambda p: F.get(p, 1))
    return F.struct(
        F.array_min(xs).alias("x1"),
        F.array_min(ys).alias("y1"),
        F.array_max(xs).alias("x2"),
        F.array_max(ys).alias("y2"),
    )


def _edge_sq(quad: Column, i: int, j: int) -> Column:
    dx = F.get(F.get(quad, i), 0) - F.get(F.get(quad, j), 0)
    dy = F.get(F.get(quad, i), 1) - F.get(F.get(quad, j), 1)
    return dx * dx + dy * dy


def quad_is_vertical(quad: Column, thresh_aspect: int = 2) -> Column:
    """Reference ``is_vertical`` (document_analyzer.py:240-245):
    compares the Euclidean lengths of the quad's top edge (p0→p1,
    'width') and right edge (p1→p2, 'height') — general rotated quads,
    not just axis-aligned boxes. Squared-integer comparison
    (h² > a²·w², both sides non-negative) so no sqrt enters the plan
    and integer coordinates stay exact."""
    return _edge_sq(quad, 1, 2) > _edge_sq(quad, 0, 1) * (thresh_aspect * thresh_aspect)


def quad_is_noise(quad: Column, thresh: int = 15) -> Column:
    """Reference ``is_noise`` (document_analyzer.py:248-253): a quad is
    noise when either Euclidean edge length is under ``thresh`` px —
    same squared-comparison trick as :func:`quad_is_vertical`."""
    t2 = thresh * thresh
    return (_edge_sq(quad, 0, 1) < t2) | (_edge_sq(quad, 1, 2) < t2)


def quad_valid(quad: Column, width: Column, height: Column) -> Column:
    """Reference ``validate_quads`` per quad (data/functions.py:267-298)
    as a boolean column: exactly 4 points of 2 coordinates each, with
    the bounding box inside [0, width] x [0, height]. The reference
    returns None for an invalid quad and True otherwise; filtering on
    this column reproduces its keep/drop decisions."""
    shape_ok = (F.size(quad) == 4) & F.forall(quad, lambda p: F.size(p) == 2)
    b = quad_to_xyxy(quad)
    return (
        shape_ok
        & (b["x1"] >= 0)
        & (b["y1"] >= 0)
        & (b["x2"] <= width)
        & (b["y2"] <= height)
    )
