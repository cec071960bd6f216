"""Geometric key-value region parser (per-document grouped pandas UDF).

Re-expression of the reference's KV parser
(/root/reference/src/yomitoku/kv_parser.py:14-345):

1. **group matching** — every header/cell/empty node is assigned to the
   group box that contains it (>0.2 of the node's area overlaps) with
   the highest overlap-to-group-area ratio; unassigned nodes share one
   pseudo-group (kv_parser.py:14-91);
2. **adjacency DAG** — R/L and D/U edges between header→cell,
   header→empty, header→header (same group or pseudo), and cell→cell
   (same group), using the soft adjacency rules
   (operators/adjacency.py scalar twins; kv_parser.py:94-229);
3. **per-component orientation vote** — for each weakly-connected
   component, DFS from the R-root headers collecting horizontal
   KV items and from the D-root headers collecting vertical ones; the
   direction with more distinct leaf values wins (ties → horizontal)
   (kv_parser.py:293-336);
4. **key paths** — a KV item's key is the header chain walked to reach
   the leaf cell/empty (kv_parser.py:265-290);
5. **keyless fallback** — cells/empties never reached become items with
   an empty key (kv_parser.py:338-343).

Determinism (the reference relies on dict insertion order; Spark needs
a total order — SURVEY.md §7.3): groups are tried in cell_id order,
nodes and DFS successors in (y1, x1, cell_id) order, components in
min-cell_id order. Parallelism is across documents (one document's
node count is O(10²)); the UDF is Arrow-batched via applyInPandas.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yomitoku_spark.operators.adjacency import (
    bottom_adjacent_scalar,
    right_adjacent_scalar,
)
from yomitoku_spark.operators.components import UnionFind

PSEUDO_GROUP = "__unmatched__"

KV_SCHEMA = (
    "doc_id bigint, key_cells string, key_text string, "
    "value_cell string, value_text string, dir string"
)


def _overlap(a, b) -> int:
    w = min(a[2], b[2]) - max(a[0], b[0])
    h = min(a[3], b[3]) - max(a[1], b[1])
    return max(w, 0) * max(h, 0)


def _area(b) -> int:
    return (b[2] - b[0]) * (b[3] - b[1])


def _match_groups(nodes: list[dict], groups: list[dict]) -> dict[str, str]:
    """node id → group id (argmax overlap/group_area among containing
    groups; unmatched → pseudo-group). Integer cross-multiplied
    comparisons — no float ratios.

    With ZERO groups the reference assigns nothing at all
    (kv_parser.py:28-29 early-returns before the pseudo-group pass), so
    no adjacency edges ever form and every cell ends up keyless —
    mirrored here by mapping every node to None."""
    if not groups:
        return {n["id"]: None for n in nodes}
    out: dict[str, str] = {}
    for n in nodes:
        best_id, best_ov, best_ga = None, 0, 1
        for g in groups:  # groups pre-sorted by id; strict > keeps the first
            ov = _overlap(g["box"], n["box"])
            if ov * 5 <= _area(n["box"]):  # is_contained(group, node, 0.2)
                continue
            ga = _area(g["box"])
            if ov * best_ga > best_ov * ga:
                best_id, best_ov, best_ga = g["id"], ov, ga
        out[n["id"]] = best_id if best_id is not None else PSEUDO_GROUP
    return out


def parse_kv_doc(cells: list[dict]) -> list[dict]:
    """Scalar KV parse of one document's cells
    (dicts with id, role, box=(x1,y1,x2,y2), contents)."""

    def order(n):
        return (n["box"][1], n["box"][0], n["id"])

    groups = sorted([c for c in cells if c["role"] == "group"], key=lambda g: g["id"])
    headers = sorted([c for c in cells if c["role"] == "header"], key=order)
    plain = sorted([c for c in cells if c["role"] == "cell"], key=order)
    empties = sorted([c for c in cells if c["role"] == "empty"], key=order)
    nodes = headers + plain + empties
    by_id = {n["id"]: n for n in nodes}
    grp = _match_groups(nodes, groups)

    succ: dict[str, list[tuple[str, str]]] = {n["id"]: [] for n in nodes}

    def link(a, b, d):
        succ[a["id"]].append((b["id"], d))

    def both(a, b):
        # Documented deviation: when a pair is right- AND bottom-adjacent
        # we record BOTH the R/L and D/U edges. The reference stores one
        # edge per pair in an nx.DiGraph and overwrites its dir attribute
        # (bottom checked last wins, kv_parser.py:117-160) — an artifact
        # of the single-edge container, not a stated rule. Keeping both
        # links preserves symmetry (the orientation vote still counts the
        # pair once per direction) and is pinned by the corpus oracle +
        # the randomized referee in tests/test_semantic_fuzz.py.
        if right_adjacent_scalar(a["box"], b["box"]):
            link(a, b, "R")
            link(b, a, "L")
        if bottom_adjacent_scalar(a["box"], b["box"]):
            link(a, b, "D")
            link(b, a, "U")

    for h in headers:  # header→cell and header→empty, same group only
        for c in plain + empties:
            if grp[h["id"]] is not None and grp[h["id"]] == grp[c["id"]]:
                both(h, c)
    for a in headers:  # header→header: same group OR either pseudo
        for b in headers:
            if a["id"] == b["id"]:
                continue
            if grp[a["id"]] is None or grp[b["id"]] is None:
                continue
            same = grp[a["id"]] == grp[b["id"]]
            pseudo = PSEUDO_GROUP in (grp[a["id"]], grp[b["id"]])
            if same or pseudo:
                both(a, b)
    for a in plain:  # cell→cell, same group only (empties excluded)
        for b in plain:
            if a["id"] != b["id"] and grp[a["id"]] is not None and grp[a["id"]] == grp[b["id"]]:
                both(a, b)

    # deterministic successor order for the DFS
    for k in succ:
        succ[k].sort(key=lambda vd: (*order(by_id[vd[0]]), vd[1]))

    # weakly connected components (union-find over the edge set)
    uf = UnionFind()
    for u, vs in succ.items():
        for v, _ in vs:
            uf.union(u, v)
    comps: dict[str, list[str]] = {}
    for n in nodes:
        comps.setdefault(uf.find(n["id"]), []).append(n["id"])
    comp_list = sorted(comps.values(), key=min)

    def roots(comp: set[str], direction: str) -> list[str]:
        """Headers with no incoming `direction` edge from a header in
        the component (kv_parser.py:241-262)."""
        out = []
        for hid in sorted(comp):
            if by_id[hid]["role"] != "header":
                continue
            has_parent = any(
                d == direction and by_id[u]["role"] == "header" and hid2 == hid
                for u in comp
                for hid2, d in succ[u]
            )
            if not has_parent:
                out.append(hid)
        return [h for h in sorted(out, key=lambda i: order(by_id[i]))]

    # DFS step budget: diamond-shaped header adjacency enumerates every
    # simple path, which is exponential in the worst case — a malformed
    # or adversarial payload must degrade (truncated key paths), never
    # hang the executor (same bad-row tolerance as the segmenter)
    MAX_DFS_STEPS = 50_000
    budget = [MAX_DFS_STEPS]

    def dfs(node_id: str, key_path: list[str], items: list, direction: str):
        if budget[0] <= 0:
            return
        budget[0] -= 1
        node = by_id[node_id]
        if node["role"] in ("cell", "empty"):
            items.append((list(key_path), node_id))
            return
        key_path = key_path + [node_id]
        for v, d in succ[node_id]:
            if d == direction and v not in key_path:
                dfs(v, key_path, items, direction)

    adopted: list[tuple[list[str], str, str]] = []
    for comp_ids in comp_list:
        comp = set(comp_ids)
        h_items: list = []
        for r in roots(comp, "R"):
            dfs(r, [], h_items, "R")
        v_items: list = []
        for r in roots(comp, "D"):
            dfs(r, [], v_items, "D")
        if len({v for _, v in v_items}) > len({v for _, v in h_items}):
            adopted.extend((k, v, "V") for k, v in v_items)
        else:
            adopted.extend((k, v, "H") for k, v in h_items)

    visited = {v for _, v, _ in adopted}
    keyless = [
        ([], c["id"], "")
        for c in plain + empties
        if c["id"] not in visited
    ]
    out = []
    for keys, vid, d in adopted + keyless:
        out.append(
            {
                "key_cells": "/".join(keys),
                "key_text": "".join(by_id[k]["contents"] or "" for k in keys),
                "value_cell": vid,
                "value_text": by_id[vid]["contents"] or "",
                "dir": d,
            }
        )
    return out


def parse_kv_items(cells: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """Distributed KV parse: one :func:`parse_kv_doc` per document via
    ``applyInPandas`` — parallelism across documents, never within one
    (a document's cell count is O(10²))."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        doc = pdf[doc_col].iloc[0]
        recs = [
            {
                "id": r.cell_id,
                "role": r.role,
                "box": (int(r.x1), int(r.y1), int(r.x2), int(r.y2)),
                "contents": r.contents,
            }
            for r in pdf.itertuples()
        ]
        rows = parse_kv_doc(recs)
        return pd.DataFrame(
            {
                "doc_id": [doc] * len(rows),
                "key_cells": [r["key_cells"] for r in rows],
                "key_text": [r["key_text"] for r in rows],
                "value_cell": [r["value_cell"] for r in rows],
                "value_text": [r["value_text"] for r in rows],
                "dir": [r["dir"] for r in rows],
            }
        )

    keep = [doc_col, "cell_id", "role", "x1", "y1", "x2", "y2", "contents"]
    return cells.select(*keep).groupBy(doc_col).applyInPandas(run, schema=KV_SCHEMA)
