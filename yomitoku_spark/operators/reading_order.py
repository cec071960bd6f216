"""Vectorized reading-order estimation (engine side).

Semantics modeled on the reference's reading-order module
(/root/reference/src/yomitoku/reading_order.py:123-145 graph build,
:14-82 priority traversal): a "reads-before" DAG over layout boxes —
edge i→j when the boxes overlap horizontally, i lies entirely above j,
and no third x-overlapping box lies between them — then a deterministic
topological sort that always emits the ready node with the smallest
(x1, y1), which walks a left column to its end before starting the
right column.

Unlike the reference's O(n³) Python triple loop, the adjacency and
occlusion tests here are numpy matrix ops: the occlusion condition
"∃k: i→k candidate ∧ k→j candidate" is exactly a boolean matrix product
of the candidate matrix with itself.

:func:`reading_order_numpy` solves one problem (one box set, one
direction); the tests compose it into the per-turn referee. The engine
calls :func:`layout_order`, which orders every layout turn of a batch at
once: all header, main-content, footer and figure-kids problems of the
batch become groups of one batched solve (padded by size bucket), so the
work is vectorized across the turns of a batch as well as within each
problem (SURVEY.md §1.2).
"""

from __future__ import annotations

import heapq

import numpy as np

from yomitoku_spark import spec


def reading_order_numpy(boxes: np.ndarray, direction: str = "top2bottom") -> np.ndarray:
    """Return emit positions: perm[i] gives the index of the block emitted
    i-th, for an (n,4) int array of [x1,y1,x2,y2] boxes.

    Directions (reference reading_order.py:123-198):

    * ``top2bottom`` — edge i→j when the boxes x-overlap and i lies
      entirely above j; ready-node priority (x1, y1).
    * ``right2left`` — vertical-page order: edge from the box with the
      GREATER x2 (read first) to the lesser among y-overlapping boxes;
      priority distance (max_x − x2) + y1 (reference :147-170).
    * ``left2right`` — header/footer rows: edge from lesser x2 to
      greater; priority distance x1 + 5·y1 (reference :173-198).
    """
    n = len(boxes)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    x1, y1, x2, y2 = (boxes[:, i].astype(np.int64) for i in range(4))
    if direction == "top2bottom":
        overlap = (np.minimum.outer(x2, x2) - np.maximum.outer(x1, x1)) > 0
        before = y2[:, None] <= y1[None, :]
        prio = [(int(x1[i]), int(y1[i]), i) for i in range(n)]
    elif direction in ("right2left", "left2right"):
        overlap = (np.minimum.outer(y2, y2) - np.maximum.outer(y1, y1)) > 0
        if direction == "right2left":
            before = x2[:, None] > x2[None, :]
            dist = (int(x2.max()) - x2) + y1
        else:
            before = x2[:, None] < x2[None, :]
            dist = x1 + 5 * y1
        prio = [(int(dist[i]), int(y1[i]), int(x1[i]), i) for i in range(n)]
    else:
        raise ValueError(f"unknown reading-order direction {direction!r}")
    cand = overlap & before
    np.fill_diagonal(cand, False)
    # occlusion: drop edge i→j when some k is a candidate-successor of i
    # and candidate-predecessor of j (boolean matrix product)
    occluded = (cand.astype(np.int32) @ cand.astype(np.int32)) > 0
    edges = cand & ~occluded
    indeg = edges.sum(axis=0)
    heap = [prio[i] for i in range(n) if indeg[i] == 0]
    heapq.heapify(heap)
    out: list[int] = []
    indeg = indeg.copy()
    while heap:
        i = heapq.heappop(heap)[-1]
        out.append(i)
        for j in np.nonzero(edges[i])[0]:
            indeg[j] -= 1
            if indeg[j] == 0:
                heapq.heappush(heap, prio[int(j)])
    if len(out) < n:  # cycles impossible (edges strictly order the axis); stay total
        out += sorted(set(range(n)) - set(out))
    return np.asarray(out, dtype=np.int64)


# ------------------------------------------------------------------
# batch-wide layout order: every reading-order problem of a batch of
# layout turns solved at once
# ------------------------------------------------------------------

_T2B, _R2L, _L2R = 0, 1, 2


def _areas(boxes: np.ndarray) -> np.ndarray:
    return (boxes[:, 2] - boxes[:, 0]) * (boxes[:, 3] - boxes[:, 1])


def vote_vertical(
    group: np.ndarray, verticals: np.ndarray, boxes: np.ndarray, n_groups: int
) -> np.ndarray:
    """Area-weighted direction vote per group (reference
    judge_page_direction, document_analyzer.py:20-40): a group reads
    vertically only when its vertical blocks' summed area strictly
    exceeds the horizontal ones'. Integer-exact (``np.add.at`` on int64)."""
    a = _areas(boxes)
    v = np.zeros(n_groups, dtype=np.int64)
    tot = np.zeros(n_groups, dtype=np.int64)
    np.add.at(v, group, np.where(verticals, a, 0))
    np.add.at(tot, group, a)
    return v > tot - v


def _size_buckets(sizes: np.ndarray):
    """Yield (group ids, pad width) per power-of-two size bucket of the
    groups with ≥2 members, so one large group never pads the rest."""
    big = np.flatnonzero(sizes > 1)
    if not len(big):
        return
    bucket = np.frexp((sizes[big] - 1).astype(np.float64))[1]  # bit length
    for b in np.unique(bucket):
        gs = big[bucket == b]
        yield gs, int(sizes[gs].max())


def _padded(gs, starts, sizes, k):
    """(len(gs), k) member positions of groups ``gs`` (members sorted by
    group, contiguous from ``starts``), −1 where padded."""
    loc = np.arange(k)
    pos = starts[gs][:, None] + loc[None, :]
    return np.where(loc[None, :] < sizes[gs][:, None], pos, -1)


def _problem_order(boxes, grp, direction, sizes, starts):
    """Emit position of every member within its reading-order problem.

    Members are sorted by group and, within a group, in document order;
    ``grp`` is the dense group id per member and ``direction`` the
    direction code per group. Same graph and traversal as
    :func:`reading_order_numpy`, for all groups at once: candidate and
    occlusion matrices as batched ``matmul`` over size-bucketed padded
    groups, then Kahn's traversal as ≤ K vectorized steps that each emit,
    per group, the ready node of lowest priority rank."""
    m = len(grp)
    x1, y1, x2, y2 = (boxes[:, i] for i in range(4))
    loc = np.arange(m) - starts[grp]
    d = direction[grp]
    t2b, r2l = d == _T2B, d == _R2L
    mx = np.full(len(sizes), np.iinfo(np.int64).min)
    np.maximum.at(mx, grp, x2)
    # priority tuples: t2b (x1, y1, i); r2l ((max_x2 − x2) + y1, y1, x1, i);
    # l2r (x1 + 5·y1, y1, x1, i)
    k1 = np.where(t2b, x1, np.where(r2l, mx[grp] - x2 + y1, x1 + 5 * y1))
    k3 = np.where(t2b, 0, x1)
    srt = np.lexsort((loc, k3, y1, k1, grp))
    rank = np.empty(m, dtype=np.int64)
    rank[srt] = np.arange(m) - starts[grp[srt]]
    # overlap interval on the perpendicular axis, and "i reads before j"
    # as u_i <= v_j: t2b y2_i <= y1_j; r2l x2_i > x2_j; l2r x2_i < x2_j
    lo = np.where(t2b, x1, y1)
    hi = np.where(t2b, x2, y2)
    u = np.where(t2b, y2, np.where(r2l, 1 - x2, x2 + 1))
    v = np.where(t2b, y1, np.where(r2l, -x2, x2))

    pos = np.zeros(m, dtype=np.int64)  # singleton groups emit at 0
    for gs, k in _size_buckets(sizes):
        p = _padded(gs, starts, sizes, k)
        ok = p >= 0
        q = np.where(ok, p, 0)
        lo_, hi_, u_, v_ = lo[q], hi[q], u[q], v[q]
        cand = (
            (np.minimum(hi_[:, :, None], hi_[:, None, :])
             - np.maximum(lo_[:, :, None], lo_[:, None, :]) > 0)
            & (u_[:, :, None] <= v_[:, None, :])
            & ok[:, :, None]
            & ok[:, None, :]
            & ~np.eye(k, dtype=bool)
        )
        cf = cand.astype(np.float32)
        edges = cand & ~(np.matmul(cf, cf) > 0)
        indeg = edges.sum(axis=1)
        prio = np.where(ok, rank[q], k)
        alive = ok.copy()
        key = np.where(ok, k + np.arange(k)[None, :], 2 * k)
        rows = np.arange(len(gs))
        for t in range(k):
            ready = alive & (indeg == 0)
            has = ready.any(axis=1)
            if not has.any():
                break  # the rest is stuck on a cycle: emit by index
            r = rows[has]
            c = np.where(ready[r], prio[r], k + 1).argmin(axis=1)
            key[r, c] = t
            alive[r, c] = False
            indeg[r] -= edges[r, c]
        emit = np.argsort(key, axis=1, kind="stable")
        got = np.take_along_axis(p, emit, axis=1)
        sel = got >= 0
        pos[got[sel]] = np.broadcast_to(np.arange(k), got.shape)[sel]
    return pos


def _first_owner(turn_starts, turn_sizes, is_fig, absorbable, boxes):
    """Owning figure (block index, −1 if none) of every block: a
    paragraph/heading more than 0.7 inside a figure box belongs to the
    FIRST such figure of its turn (reference
    extract_paragraph_within_figure: 10·overlap > 7·area). Padded
    (turn × block × block) overlap test over the turns holding both a
    figure and an absorbable block."""
    owner = np.full(len(is_fig), -1, dtype=np.int64)
    tix = np.repeat(np.arange(len(turn_sizes)), turn_sizes)
    both = (np.bincount(tix, is_fig, len(turn_sizes)) > 0) & (
        np.bincount(tix, absorbable, len(turn_sizes)) > 0
    )
    sizes = np.where(both, turn_sizes, 0)
    area = _areas(boxes)
    for ts, k in _size_buckets(sizes):
        p = _padded(ts, turn_starts, sizes, k)
        ok = p >= 0
        q = np.where(ok, p, 0)
        b = boxes[q]
        w = np.minimum(b[:, None, :, 2], b[:, :, None, 2]) - np.maximum(
            b[:, None, :, 0], b[:, :, None, 0]
        )
        h = np.minimum(b[:, None, :, 3], b[:, :, None, 3]) - np.maximum(
            b[:, None, :, 1], b[:, :, None, 1]
        )
        ov = np.maximum(w, 0) * np.maximum(h, 0)  # [turn, para, fig]
        hit = (
            (10 * ov > 7 * area[q][:, :, None])
            & (ok & absorbable[q])[:, :, None]
            & (ok & is_fig[q])[:, None, :]
        )
        has = hit.any(axis=2)
        first = np.take_along_axis(p, hit.argmax(axis=2), axis=1)
        owner[p[has]] = first[has]
    return owner


def layout_order(
    turn: np.ndarray, roles: np.ndarray, verticals: np.ndarray, boxes: np.ndarray
) -> np.ndarray:
    """Emit order, per turn, of every block of a batch of layout turns.

    ``turn`` holds each block's turn id; the blocks of a turn are
    contiguous and in document order. Returns each block's emit position
    within its turn, with the reference's offset rule
    (document_analyzer.py:572-588): page headers first (left2right among
    themselves), then main content, then page footers (left2right). Main
    content reads right2left when the turn's area-weighted direction
    vote is vertical (:575-581), else top2bottom. Paragraph/heading
    blocks ≥0.7-contained in a figure box are absorbed by their FIRST
    containing figure (deviation: the reference copies a paragraph into
    every containing figure, document_analyzer.py:43-66; one owner keeps
    extraction duplication-free) and emit right after it, ordered
    left2right (right2left when the absorbed set votes vertical).
    Header/footer blocks are still DROPPED from the extracted text by
    the ignore-meta keep rule — the offsets order the block table the
    way the reference orders its paragraph list.

    Every header, main, footer and figure-kids problem of the batch is
    one group of :func:`_problem_order`; the final order is one
    ``lexsort`` on (turn, section, top rank, kid flag, kid rank)."""
    m = len(turn)
    if m == 0:
        return np.empty(0, dtype=np.int64)
    turn = np.asarray(turn)
    roles = np.asarray(roles, dtype=object)
    boxes = np.asarray(boxes, dtype=np.int64).reshape(-1, 4)
    verticals = np.asarray(verticals, dtype=bool)
    t = np.cumsum(np.r_[False, turn[1:] != turn[:-1]])
    n_turns = int(t[-1]) + 1
    turn_sizes = np.bincount(t, minlength=n_turns)
    turn_starts = np.cumsum(turn_sizes) - turn_sizes
    hdr = roles == spec.ROLE_PAGE_HEADER
    ftr = roles == spec.ROLE_PAGE_FOOTER
    main = ~(hdr | ftr)  # META_ROLES == {header, footer}
    is_fig = roles == spec.ROLE_FIGURE
    absorbable = (roles == spec.ROLE_PARAGRAPH) | (roles == spec.ROLE_HEADING)
    owner = _first_owner(turn_starts, turn_sizes, is_fig, absorbable, boxes)
    kid = owner >= 0
    section = np.where(hdr, 0, np.where(ftr, 2, 1))

    # one problem per (turn, section) for non-kids, one per owning figure
    gkey = np.where(kid, 3 * n_turns + owner, 3 * t + section)
    mem = np.argsort(gkey, kind="stable")
    gk = gkey[mem]
    grp = np.cumsum(np.r_[False, gk[1:] != gk[:-1]])
    sizes = np.bincount(grp)
    starts = np.cumsum(sizes) - sizes
    # main pages vote over all their blocks (kids included); kid sets
    # vote among themselves
    page_v = vote_vertical(t[main], verticals[main], boxes[main], n_turns)
    first = mem[starts]
    kid_v = vote_vertical(grp[kid[mem]], verticals[mem][kid[mem]],
                          boxes[mem][kid[mem]], len(sizes))
    direction = np.where(
        kid[first],
        np.where(kid_v, _R2L, _L2R),
        np.where(section[first] == 1, np.where(page_v[t[first]], _R2L, _T2B), _L2R),
    )
    pos = np.empty(m, dtype=np.int64)
    pos[mem] = _problem_order(boxes[mem], grp, direction, sizes, starts)

    top = np.where(kid, pos[np.maximum(owner, 0)], pos)
    srt = np.lexsort((np.where(kid, pos, 0), kid, top, section, t))
    order = np.empty(m, dtype=np.int64)
    order[srt] = np.arange(m) - turn_starts[t[srt]]
    return order
