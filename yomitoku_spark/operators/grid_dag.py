"""Reference-mode grid recovery: the adjacency-DAG unit expansion.

The engine's default grid recovery (:mod:`operators.grid`,
`recover_grid_numpy`) clusters PHYSICAL lines geometrically. The
reference instead sizes grids from a soft-adjacency DAG
(grid_parser.py): build R/L/D/U edges between all cluster cells
(:17-54 `_get_grid_dag`), split every node that has multiple same-
direction successors into ``__dup`` unit nodes whose boxes are the
neighbor-interval partition of the original (:58-235 the
`normalize_row/col_with_out_edges` rewrites, :177-439 both axes), and
read the matrix off the expanded DAG: rows = in-degree-0 heads of the
R-subgraph, cols = heads of the D-subgraph (:490-608). The two
algorithms agree on clean inputs, but DEGENERATE detector output
(duplicate stacked boxes) diverges: each duplicate is its own DAG
node minting an extra head, so the reference's (n_row, n_col) counts
heads, not physical lines — the pinned fixture-7 delta
(tests/test_golden_parity.py).

This module is the reference algorithm itself, re-expressed without
networkx on an insertion-ordered dict digraph (same iteration order
semantics as nx.DiGraph), so the engine can reproduce the reference's
grids bit-for-bit where that parity matters: the scalar core
:func:`grid_from_cluster` runs per cluster, and
:func:`parse_grid_dag` distributes it one document per
``applyInPandas`` group. The adjacency predicates are the engine's
own squared-integer twins (operators/adjacency.py) at the reference's
thresholds (soft, dist 20, overlap 0.25, ignore 10 —
grid_parser.py:34-49,210-218).
"""

from __future__ import annotations

from collections import deque
from itertools import count

from yomitoku_spark.operators.adjacency import (
    bottom_adjacent_scalar,
    right_adjacent_scalar,
)
from yomitoku_spark.operators.components import UnionFind


class _Dag:
    """Insertion-ordered directed graph; one edge per ordered pair,
    carrying a direction label (later writes overwrite, like the nx
    DiGraph attr the reference relies on when a pair is both D- and
    R-adjacent — R/L win because they are added second,
    grid_parser.py:29-52)."""

    def __init__(self):
        self.attrs: dict = {}
        self.succ: dict = {}
        self.pred: dict = {}

    def add_node(self, n, **attrs):
        if n not in self.attrs:
            self.attrs[n] = {}
            self.succ[n] = {}
            self.pred[n] = {}
        self.attrs[n].update(attrs)

    def add_edge(self, u, v, d):
        self.add_node(u)
        self.add_node(v)
        self.succ[u][v] = d
        self.pred[v][u] = d

    def remove_node(self, n):
        for v in self.succ.pop(n, {}):
            self.pred[v].pop(n, None)
        for u in self.pred.pop(n, {}):
            self.succ[u].pop(n, None)
        self.attrs.pop(n, None)

    def nodes(self):
        return list(self.attrs)

    def outs(self, u, d):
        return [v for v, dd in self.succ.get(u, {}).items() if dd == d]

    def ins(self, u, d):
        return [p for p, dd in self.pred.get(u, {}).items() if dd == d]


def _adjacent(a, b, direction: str) -> bool:
    if direction == "R":
        return right_adjacent_scalar(a, b, rule="soft")
    return bottom_adjacent_scalar(a, b, rule="soft")


def build_grid_dag(cells: list[dict]) -> _Dag:
    """grid_parser.py:17-54 — all-pairs soft adjacency over the
    cluster's header/cell/empty boxes; D/U pairs first, R/L second."""
    g = _Dag()
    for c in cells:
        g.add_node(c["id"], bbox=tuple(c["box"]), role=c["role"],
                   contents=c.get("contents") or "")
    for a in cells:
        for b in cells:
            if a["id"] == b["id"]:
                continue
            if _adjacent(a["box"], b["box"], "D"):
                g.add_edge(a["id"], b["id"], "D")
                g.add_edge(b["id"], a["id"], "U")
            if _adjacent(a["box"], b["box"], "R"):
                g.add_edge(a["id"], b["id"], "R")
                g.add_edge(b["id"], a["id"], "L")
    return g


def _split_intervals(u_lo, u_hi, neighbor_spans):
    """The interval partition common to grid_parser.py:57-117 and
    :119-175: clip each neighbor span to the node's extent, force the
    pieces contiguous front-to-back, stretch the last to the far edge,
    and borrow 10% from the next piece when one collapses."""
    fixed = []
    cur = u_lo
    for a, b in neighbor_spans:
        a = max(max(u_lo, a), cur)
        b = max(min(u_hi, b), a)
        fixed.append([a, b])
        cur = b
    if fixed:
        fixed[-1][1] = u_hi
    for i in range(len(fixed)):
        a, b = fixed[i]
        if b - a <= 1e-3:
            if i + 1 < len(fixed) and fixed[i + 1][1] - fixed[i + 1][0] > 2e-3:
                take = (fixed[i + 1][1] - fixed[i + 1][0]) * 0.1
                fixed[i][1] = fixed[i][0] + take
                fixed[i + 1][0] = fixed[i][1]
    return fixed


# per-direction wiring table: (cross axis forward dir, sort key index,
# span slice, how to find opposite-side nodes, bwd adjacency operand
# order). Derived from the reference's four normalize variants:
# grid_parser.py:178-235 (R), :204-218 (L), :338-373 (D), :361-372 (U).
_AXIS = {
    "R": dict(inv="L", span=(1, 3), sortix=1, cross=("U", "D"),
              bwd=lambda g, u: g.ins(u, "R"), bwd_first=True),
    "L": dict(inv="R", span=(1, 3), sortix=1, cross=("U", "D"),
              bwd=lambda g, u: g.ins(u, "L"), bwd_first=False),
    "D": dict(inv="U", span=(0, 2), sortix=0, cross=("L", "R"),
              bwd=lambda g, u: g.ins(u, "D"), bwd_first=True),
    "U": dict(inv="D", span=(0, 2), sortix=0, cross=("L", "R"),
              bwd=lambda g, u: g.outs(u, "D"), bwd_first=False),
}


def _normalize_from_head(g: _Dag, head: str, out_dir: str) -> None:
    """One head's 1:1-ification sweep (grid_parser.py:178-314 row
    form, :316-439 column form — the same rewrite parameterized by
    axis): a node with >1 ``out_dir`` successors splits into unit
    ``__dup`` nodes along the neighbor-interval partition, wired 1:1
    to the forward neighbors, chained along the split axis, re-attached
    to the cross-axis neighbors at both ends, and re-linked to any
    opposite-side node that is still soft-adjacent (ignore threshold
    10). Mutates ``g`` in place (the reference copies; callers here
    own the graph)."""
    cfg = _AXIS[out_dir]
    lo_ix, hi_ix = cfg["span"]
    sortix = cfg["sortix"]
    adj_dir = "R" if out_dir in ("R", "L") else "D"
    queue = deque([head])
    dup_counter = count(1)
    # safety bound: the reference BFS has no visited set and trusts
    # acyclicity of real layouts; cap sweeps so degenerate mutual
    # adjacency can't spin (never reached on the golden fixtures)
    budget = 100 * (len(g.attrs) + 1) + 10000

    while queue and budget > 0:
        budget -= 1
        u = queue.popleft()
        if u not in g.attrs:
            continue
        outs_fwd = g.outs(u, out_dir)
        if len(outs_fwd) <= 1:
            queue.extend(outs_fwd)
            continue

        bbox = g.attrs[u]["bbox"]
        spans = []
        for n in sorted(
            outs_fwd,
            key=lambda n: (g.attrs[n]["bbox"][lo_ix] + g.attrs[n]["bbox"][hi_ix]) / 2.0,
        ):
            nb = g.attrs[n]["bbox"]
            spans.append((nb[lo_ix], nb[hi_ix]))
        pieces = _split_intervals(bbox[lo_ix], bbox[hi_ix], spans)
        if out_dir in ("R", "L"):
            seg_bboxes = [(bbox[0], a, bbox[2], b) for a, b in pieces]
        else:
            seg_bboxes = [(a, bbox[1], b, bbox[3]) for a, b in pieces]
        seg_bboxes.sort(key=lambda b: b[sortix])
        outs_fwd = sorted(outs_fwd, key=lambda n: g.attrs[n]["bbox"][sortix])

        outs_bwd = cfg["bwd"](g, u)
        c_lo, c_hi = cfg["cross"]
        before = g.ins(u, "D") if out_dir in ("R", "L") else g.ins(u, "R")
        after = g.outs(u, "D") if out_dir in ("R", "L") else g.outs(u, "R")

        base = dict(g.attrs[u])
        dups = []
        for bb in seg_bboxes:
            nu = f"{u}__dup{next(dup_counter)}"
            attr = dict(base)
            attr["bbox"] = bb
            g.add_node(nu, **attr)
            dups.append(nu)
        for out, dup in zip(outs_fwd, dups):
            g.add_edge(dup, out, out_dir)
            g.add_edge(out, dup, cfg["inv"])
        # cross-axis re-attachment at the chain's two ends
        for p in before:
            g.add_edge(dups[0], p, c_lo)
            g.add_edge(p, dups[0], "D" if out_dir in ("R", "L") else "R")
        for p in after:
            g.add_edge(dups[-1], p, "D" if out_dir in ("R", "L") else "R")
            g.add_edge(p, dups[-1], c_lo)
        # chain the dups along the split axis
        chain_d = "D" if out_dir in ("R", "L") else "R"
        chain_u = "U" if out_dir in ("R", "L") else "L"
        for a, b in zip(dups, dups[1:]):
            g.add_edge(a, b, chain_d)
            g.add_edge(b, a, chain_u)
        # opposite-side re-link where still adjacent
        for bwd in outs_bwd:
            for dup in dups:
                if cfg["bwd_first"]:
                    ok = _adjacent(g.attrs[bwd]["bbox"], g.attrs[dup]["bbox"], adj_dir)
                else:
                    ok = _adjacent(g.attrs[dup]["bbox"], g.attrs[bwd]["bbox"], adj_dir)
                if ok:
                    g.add_edge(bwd, dup, out_dir)
                    g.add_edge(dup, bwd, cfg["inv"])
                    queue.append(bwd)
        g.remove_node(u)
        queue.extend(dups)


def _components_with_isolates(g: _Dag, d: str) -> list[set]:
    """grid_parser.py:457-468 — undirected components of the
    ``d``-subgraph, isolates included."""
    uf = UnionFind()
    for u in g.attrs:
        for v, dd in g.succ[u].items():
            if dd == d:
                uf.union(u, v)
    comps: dict = {}
    for n in g.attrs:
        comps.setdefault(uf.find(n), set()).add(n)
    return list(comps.values())


def heads_by_in_degree(g: _Dag, d: str) -> list:
    """grid_parser.py:471-491 — every in-degree-0 node of each
    ``d``-component (sorted), or the component's min id when none."""
    heads = []
    for comp in _components_with_isolates(g, d):
        cand = [n for n in comp if not g.ins(n, d)]
        if cand:
            heads.extend(sorted(cand))
        else:
            heads.append(min(comp))
    return heads


def expand_to_unit(g: _Dag) -> _Dag:
    """grid_parser.py:442-539,566-587 — rows (R then L sweeps), then
    columns (D then U sweeps); each sweep's heads are taken on the
    graph as it stands when the sweep starts."""
    for out_dir in ("R", "L", "D", "U"):
        head_dir = out_dir
        for head in heads_by_in_degree(g, head_dir):
            _normalize_from_head(g, head, out_dir)
    return g


def line_with_head(g: _Dag, head: str, d: str) -> list:
    """utils/misc.py:430-448 BFS (with a visited guard: downstream
    consumes the node SET, and the guard only changes behavior on
    cyclic inputs where the reference would not terminate)."""
    seen, out = set(), []
    queue = deque([head])
    while queue:
        u = queue.popleft()
        if u not in g.attrs or u in seen:
            continue
        seen.add(u)
        out.append(u)
        queue.extend(g.outs(u, d))
    return out


def grid_from_cluster(cells: list[dict]) -> dict:
    """The reference's parse_grid_from_bottom_up core
    (grid_parser.py:783-829, minus schema packaging): returns
    {"n_row", "n_col", "data", "col_headers"} where data carries the
    ``__dup``-stripped unit matrix (:610-630) and col_headers the
    per-column header stacks from all-header rows (:633-669)."""
    g = build_grid_dag(cells)
    expand_to_unit(g)
    row_heads = sorted(heads_by_in_degree(g, "R"),
                       key=lambda n: g.attrs[n]["bbox"][1])
    col_heads = sorted(heads_by_in_degree(g, "D"),
                       key=lambda n: g.attrs[n]["bbox"][0])
    data = []
    col_sets = []
    for ch in col_heads:
        col_sets.append(set(line_with_head(g, ch, "D")))
    for rh in row_heads:
        row_nodes = set(line_with_head(g, rh, "R"))
        row = []
        for cs in col_sets:
            hit = sorted(row_nodes & cs)
            row.append(hit[0] if hit else None)
        data.append(row)

    roles = [[g.attrs[c]["role"] if c is not None else "empty" for c in row]
             for row in data]
    is_header_row = [all(r in ("header", "empty") for r in row) for row in roles]
    stripped = [[c.split("__dup")[0] if c is not None else None for c in row]
                for row in data]
    by_id = {c["id"]: c for c in cells}
    col_headers = []
    for ci in range(len(stripped[0]) if stripped else 0):
        hs = {stripped[ri][ci] for ri in range(len(stripped))
              if is_header_row[ri] and stripped[ri][ci] is not None}
        col_headers.append(sorted(hs, key=lambda h: by_id[h]["box"][1]))
    # anchor + span per cell from the unit matrix
    # (_calc_spans_and_indices_from_raw_grid, grid_parser.py:527-563)
    pos: dict = {}
    for ri, row in enumerate(stripped):
        for ci, cid in enumerate(row):
            if cid is None:
                continue
            if cid not in pos:
                pos[cid] = [ri, ri, ci, ci]
            else:
                p = pos[cid]
                p[0], p[1] = min(p[0], ri), max(p[1], ri)
                p[2], p[3] = min(p[2], ci), max(p[3], ci)
    positions = {
        cid: {"row": r0, "col": c0, "row_span": r1 - r0 + 1,
              "col_span": c1 - c0 + 1}
        for cid, (r0, r1, c0, c1) in pos.items()
    }
    return {
        "n_row": len(data),
        "n_col": len(data[0]) if data else 0,
        "data": stripped,
        "col_headers": col_headers,
        "positions": positions,
    }


GRID_DAG_SCHEMA = (
    "doc_id bigint, grid_id int, n_row int, n_col int, row int, col int, "
    "cell_id string"
)


def dag_headers_and_data(cells, cluster_fn, doc_col: str = "doc_id"):
    """Reference-mode grids as the semantic layer's (headers, data)
    frame pair — the same shapes :func:`operators.grid_headers.
    derive_grid_headers` emits, so every downstream consumer
    (semantic.grids_to_dict / grids_to_json / grids_to_csv /
    extract_table_field) runs unchanged on DAG-mode grids:

    * headers(doc_id, grid_id, col, hdr_pos, cell_id) — the per-column
      header stacks (y1-ordered, like the reference's col_headers);
    * data(doc_id, grid_id, row, col, cell_id) — the unit matrix
      INCLUDING header rows (derive_grid_headers' contract; consumers
      skip all-header rows themselves).

    grid_id here is the cluster index as a string ("g0", …) to match
    the semantic layer's string grid ids."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    long = parse_grid_dag(cells, cluster_fn, doc_col=doc_col)
    data = long.select(
        doc_col, F.concat(F.lit("g"), F.col("grid_id")).alias("grid_id"),
        "row", "col", "cell_id",
    )
    # headers: explode each grid's col_headers — recomputed from the
    # long form (a column's header stack = its cells in all-header
    # rows, ordered by row index, which IS the y order in a unit grid)
    roles = cells.select(doc_col, "cell_id", "role")
    hdr_rows = (
        long.join(roles, [doc_col, "cell_id"])
        .withColumn(
            "is_hdr", F.col("role").isin("header", "empty"))
        .groupBy(doc_col, "grid_id", "row")
        .agg(F.min(F.col("is_hdr").cast("int")).alias("all_hdr"))
        .filter(F.col("all_hdr") == 1)
        .select(doc_col, "grid_id", "row")
    )
    headers = (
        long.join(roles, [doc_col, "cell_id"])
        .join(hdr_rows, [doc_col, "grid_id", "row"])
        .filter(F.col("role") == "header")
        .groupBy(doc_col, "grid_id", "col", "cell_id")
        .agg(F.min("row").alias("first_row"))
        .withColumn(
            "hdr_pos",
            (F.row_number().over(
                W.partitionBy(doc_col, "grid_id", "col")
                .orderBy("first_row", "cell_id")) - 1).cast("int"),
        )
        .select(
            doc_col, F.concat(F.lit("g"), F.col("grid_id")).alias("grid_id"),
            "col", "hdr_pos", "cell_id",
        )
    )
    return headers, data


def parse_grid_dag(cells, cluster_fn, doc_col: str = "doc_id"):
    """Distributed reference-mode grid parse: one document per
    ``applyInPandas`` group (documents independent, cluster sizes
    O(10²) — same distribution shape as parse_kv_items).
    ``cluster_fn(cells_list) -> list[list[cell]]`` supplies the grid
    clusters (the caller's cluster/dispatch logic, e.g.
    tools/golden_parity.cluster_table + is_grid_cluster). Emits the
    unit matrix long-form with each grid's head-count shape."""
    import pandas as pd

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        doc = int(pdf[doc_col].iloc[0])
        recs = [
            {"id": r.cell_id, "role": r.role,
             "box": (int(r.x1), int(r.y1), int(r.x2), int(r.y2)),
             "contents": r.contents}
            for r in pdf.itertuples()
        ]
        rows = []
        for gi, cluster in enumerate(cluster_fn(recs)):
            grid = grid_from_cluster(cluster)
            for ri, row in enumerate(grid["data"]):
                for ci, cid in enumerate(row):
                    if cid is not None:
                        rows.append((doc, gi, grid["n_row"], grid["n_col"],
                                     ri, ci, cid))
        return pd.DataFrame(
            rows, columns=["doc_id", "grid_id", "n_row", "n_col", "row",
                           "col", "cell_id"])

    keep = [doc_col, "cell_id", "role", "x1", "y1", "x2", "y2", "contents"]
    return cells.select(*keep).groupBy(doc_col).applyInPandas(
        run, GRID_DAG_SCHEMA)
