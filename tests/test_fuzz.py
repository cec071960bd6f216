"""Property-based equality fuzzing (no Spark session — the fused batch
function runs on plain Arrow batches, so hypothesis can hammer it).

1. arbitrary payload text → engine batch output == oracle output
2. random box sets → numpy reading order == oracle's scalar reading order
3. random layout pages → engine batch output == oracle output
4. random multi-turn batches → batch-wide layout order == the per-turn
   composition of single reading-order problems, and every turn's
   output == oracle output
"""

import json
import random

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from yomitoku_spark import oracle, spec
from yomitoku_spark.operators.reading_order import layout_order, reading_order_numpy
from yomitoku_spark.plans.pipeline import extract_batch
from yomitoku_spark.plans.segment import BLOCK_FIELDS, segment_turn

ALPHABET = list(
    "abcdefgh xyz\n\t|#<>-*:.,01289一二ﬁＡＢ{}\"'[]()~`&/=高速データ　"
) + ["\n\n", "| ", " |", "---", "<p>", "</p>", "<ul>", "<li>", "</li>", "<header>",
     "</header>", '{"blocks"', "**", "- ", "## ", "Key: ", "^^", "<<", "```\n", "```py\n", "\n```\n",
     '<a href="/x">', "</a>", '<div class="nav">', "</div>"]


def _engine(texts, tools):
    n = len(texts)
    rb = pa.RecordBatch.from_pydict(
        {
            "conv_id": pa.array(["c"] * n, pa.string()),
            "turn_idx": pa.array(range(n), pa.int32()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.array(tools, pa.string()),
            "ts": pa.array([0] * n, pa.timestamp("us", tz="UTC")),
        }
    )
    out = extract_batch(rb).to_pylist()
    assert [r["turn_idx"] for r in out] == list(range(n))
    return [
        {
            "extracted_text": r["extracted_text"],
            "spans": [(s["start"], s["end"], s["kind"]) for s in r["spans"]],
            "blocks_kept": r["blocks_kept"],
            "blocks_dropped": r["blocks_dropped"],
            "chars_emitted": r["chars_emitted"],
        }
        for r in out
    ]


def _engine_one(text, tool=""):
    return _engine([text], [tool])[0]


@given(st.lists(st.sampled_from(ALPHABET), max_size=120).map("".join))
@settings(max_examples=400, deadline=None)
def test_engine_equals_oracle_on_arbitrary_payloads(payload):
    want = oracle.extract_payload(payload, "")
    got = _engine_one(payload)
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(0, 500), st.integers(0, 500),
            st.integers(1, 300), st.integers(1, 300),
        ),
        min_size=0,
        max_size=12,
    )
)
@settings(max_examples=300, deadline=None)
def test_reading_order_numpy_equals_oracle(raw):
    boxes = [(x, y, x + w, y + h) for x, y, w, h in raw]
    for direction in ("top2bottom", "right2left", "left2right"):
        want = oracle.reading_order(boxes, direction)
        got = reading_order_numpy(
            np.asarray(boxes).reshape(-1, 4), direction
        ).tolist()
        assert got == want, direction


def test_vertical_page_reads_right_to_left():
    # 3 vertical columns: right column first (document_analyzer.py:575-581)
    blocks = [
        {"id": i, "box": [x, 0, x + 50, 300], "text": t, "direction": "vertical",
         "role": "paragraph"}
        for i, (x, t) in enumerate([(0, "left"), (200, "mid"), (400, "right")])
    ]
    payload = json.dumps({"blocks": blocks})
    got = _engine_one(payload)
    assert got["extracted_text"].split("\n\n") == ["right", "mid", "left"]
    assert got == oracle.extract_payload(payload, "")


def test_figure_absorbs_contained_paragraphs():
    # paragraphs ≥0.7 inside a figure emit right after it, inner l2r,
    # regardless of page-level geometry (document_analyzer.py:43-66)
    blocks = [
        {"id": 0, "box": [0, 0, 600, 40], "text": "intro", "role": "paragraph"},
        {"id": 1, "box": [50, 100, 550, 400], "text": "FIG", "role": "figure"},
        # inside the figure, right one listed first
        {"id": 2, "box": [320, 150, 480, 200], "text": "right cap", "role": "paragraph"},
        {"id": 3, "box": [60, 150, 220, 200], "text": "left cap", "role": "paragraph"},
        {"id": 4, "box": [0, 500, 600, 540], "text": "outro", "role": "paragraph"},
    ]
    payload = json.dumps({"blocks": blocks})
    got = _engine_one(payload)
    assert got["extracted_text"].split("\n\n") == [
        "intro", "FIG", "left cap", "right cap", "outro"
    ]
    assert got == oracle.extract_payload(payload, "")


def test_header_footer_order_offsets():
    # headers get orders before main content, footers after
    # (document_analyzer.py:572-588); both stay dropped from the text
    blocks = [
        {"id": 0, "box": [0, 500, 600, 540], "text": "foot", "role": "page_footer"},
        {"id": 1, "box": [0, 100, 600, 140], "text": "body1", "role": "paragraph"},
        {"id": 2, "box": [0, 0, 600, 40], "text": "head", "role": "page_header"},
        {"id": 3, "box": [0, 200, 600, 240], "text": "body2", "role": "paragraph"},
    ]
    payload = json.dumps({"blocks": blocks})
    blks = segment_turn(payload, "")
    order = layout_order(np.zeros(len(blks), dtype=np.int64), *_layout_cols(blks)).tolist()
    rid = BLOCK_FIELDS.index("role")
    by_role = {blks[i][rid]: order[i] for i in range(4) if blks[i][rid]}
    assert by_role["page_header"] == 0
    assert by_role["page_footer"] == 3
    assert sorted(order) == [0, 1, 2, 3]
    got = _engine_one(payload)
    assert got["extracted_text"] == "body1\n\nbody2"
    assert got == oracle.extract_payload(payload, "")


@given(
    st.lists(
        st.fixed_dictionaries(
            {
                "box": st.tuples(
                    st.integers(0, 400), st.integers(0, 400),
                    st.integers(1, 200), st.integers(1, 200),
                ).map(lambda t: [t[0], t[1], t[0] + t[2], t[1] + t[3]]),
                "role": st.sampled_from(
                    ["paragraph", "section_headings", "page_header", "page_footer", "figure"]
                ),
                "text": st.text(alphabet="abcde fgh", min_size=0, max_size=20),
                "direction": st.sampled_from(["horizontal", "vertical"]),
            }
        ),
        max_size=8,
    )
)
@settings(max_examples=200, deadline=None)
def test_layout_payload_fuzz(blocks):
    for i, b in enumerate(blocks):
        b["id"] = i
    payload = json.dumps({"blocks": blocks})
    want = oracle.extract_payload(payload, "")
    got = _engine_one(payload)
    assert got == want


# ------------------------------------------------------------------
# multi-turn batches: batch-wide layout order and per-turn output
# ------------------------------------------------------------------


def _layout_cols(blks):
    """(roles, verticals, boxes) of one turn's raw block tuples."""
    roles = np.asarray([b[BLOCK_FIELDS.index("role")] for b in blks], dtype=object)
    verts = np.asarray([b[BLOCK_FIELDS.index("vertical")] for b in blks], dtype=bool)
    box_cols = [BLOCK_FIELDS.index(c) for c in ("x1", "y1", "x2", "y2")]
    boxes = np.asarray([[b[c] for c in box_cols] for b in blks], dtype=np.int64)
    return roles, verts, boxes.reshape(-1, 4)


def _composed_order(roles, verticals, boxes):
    """One turn's emit order composed from single reading-order problems
    (the offset rule of document_analyzer.py:572-588 spelled out turn by
    turn): headers l2r, main content (figure kids right after their
    first containing figure), footers l2r."""
    n = len(roles)
    area = (boxes[:, 2] - boxes[:, 0]) * (boxes[:, 3] - boxes[:, 1])

    def vertical(idx):
        v = int(area[idx][verticals[idx]].sum())
        return v > int(area[idx].sum()) - v

    def run(idx, direction):
        perm = reading_order_numpy(boxes[idx].reshape(-1, 4), direction)
        return [idx[p] for p in perm]

    hdr = [i for i in range(n) if roles[i] == spec.ROLE_PAGE_HEADER]
    ftr = [i for i in range(n) if roles[i] == spec.ROLE_PAGE_FOOTER]
    main = [i for i in range(n) if i not in hdr and i not in ftr]
    figs = [i for i in main if roles[i] == spec.ROLE_FIGURE]
    owner = {}
    for i in main:
        if roles[i] not in (spec.ROLE_PARAGRAPH, spec.ROLE_HEADING):
            continue
        for f in figs:
            w = min(boxes[f][2], boxes[i][2]) - max(boxes[f][0], boxes[i][0])
            h = min(boxes[f][3], boxes[i][3]) - max(boxes[f][1], boxes[i][1])
            if 10 * max(w, 0) * max(h, 0) > 7 * area[i]:
                owner[i] = f
                break
    seq = run(hdr, "left2right")
    top = [i for i in main if i not in owner]
    for i in run(top, "right2left" if vertical(main) else "top2bottom"):
        seq.append(i)
        kids = [k for k in main if owner.get(k) == i]
        if kids:
            seq += run(kids, "right2left" if vertical(kids) else "left2right")
    seq += run(ftr, "left2right")
    order = np.empty(n, dtype=np.int64)
    order[seq] = np.arange(n)
    return order


ROLES = ["paragraph", "section_headings", "page_header", "page_footer", "figure"]
SIDES = [10, 20, 40, 80]  # few sizes: area ties in the direction vote are common
WORDS = st.text(alphabet="abcde fgh", min_size=0, max_size=12)
DIRS = st.sampled_from(["horizontal", "vertical"])


def _box(x, y, w, h):
    return [x, y, x + w, y + h]


BOX = st.builds(_box, st.integers(0, 300), st.integers(0, 300),
                st.sampled_from(SIDES), st.sampled_from(SIDES))
BLOCK = st.fixed_dictionaries(
    {"box": BOX, "role": st.sampled_from(ROLES), "text": WORDS, "direction": DIRS}
)


@st.composite
def figure_with_kids(draw):
    x, y = draw(st.integers(0, 300)), draw(st.integers(0, 300))
    fig = {"box": _box(x, y, 160, 160), "role": "figure", "text": draw(WORDS),
           "direction": draw(DIRS)}
    kids = [
        {"box": _box(x + draw(st.integers(0, 100)), y + draw(st.integers(0, 100)),
                     draw(st.sampled_from([10, 20, 40])), draw(st.sampled_from([10, 20, 40]))),
         "role": draw(st.sampled_from(["paragraph", "section_headings"])),
         "text": draw(WORDS), "direction": draw(DIRS)}
        for _ in range(draw(st.integers(1, 4)))
    ]
    return [fig] + kids


@st.composite
def vote_tie(draw):
    # equal areas, one vertical and one horizontal: the vote must read
    # horizontally (vertical wins only on strictly greater area)
    w, h = draw(st.sampled_from(SIDES)), draw(st.sampled_from(SIDES))
    return [
        {"box": _box(draw(st.integers(0, 300)), draw(st.integers(0, 300)), w, h),
         "role": "paragraph", "text": draw(WORDS), "direction": d}
        for d in ("vertical", "horizontal")
    ]


@st.composite
def flat_pair(draw):
    # two flat boxes on one line that overlap horizontally: each "reads
    # before" the other, a cycle the traversal must emit by index
    x, y = draw(st.integers(0, 300)), draw(st.integers(0, 300))
    return [
        {"box": [x + dx, y, x + dx + 50, y], "role": "paragraph", "text": draw(WORDS),
         "direction": "horizontal"}
        for dx in (draw(st.integers(0, 40)), draw(st.integers(0, 40)))
    ]


def _layout_payload(blocks):
    return json.dumps({"blocks": [dict(b, id=i) for i, b in enumerate(blocks)]})


@st.composite
def layout_page(draw):
    parts = draw(st.lists(
        st.one_of(BLOCK.map(lambda b: [b]), figure_with_kids(), vote_tie(), flat_pair()),
        max_size=6,
    ))
    return _layout_payload(draw(st.permutations([b for p in parts for b in p])))


META_ONLY = st.lists(
    st.fixed_dictionaries({"box": BOX, "role": st.sampled_from(["page_header", "page_footer"]),
                           "text": WORDS, "direction": DIRS}),
    min_size=1, max_size=4,
).map(_layout_payload)
HTML = st.lists(
    st.sampled_from([
        "<p>a paragraph with enough words to be kept as main content</p>",
        "<h2>Section title</h2>", "<ul><li>one</li><li>two</li></ul>",
        '<div class="nav">menu</div>', "<table><tr><td>a</td><td>b</td></tr></table>",
        '<p><a href="/x">mostly a link</a> x</p>', "<footer>(c) site</footer>",
    ]),
    min_size=1, max_size=5,
).map("".join)
TEXTUAL = st.lists(st.sampled_from(ALPHABET), max_size=60).map("".join)
TURN = st.one_of(
    layout_page().map(lambda p: (p, "")),
    vote_tie().map(lambda p: (_layout_payload(p), "")),
    META_ONLY.map(lambda p: (p, "")),
    HTML.map(lambda p: (p, "")),
    TEXTUAL.map(lambda p: (p, "")),
    TEXTUAL.map(lambda p: (None, p)),
    st.sampled_from([("", ""), (None, None), ("  \n", None)]),
)


def _big_page(seed, n):
    """One layout page of ``n`` blocks in four columns, with headers,
    footers and figures holding kids."""
    rng = random.Random(seed)
    blocks = []
    for i in range(n):
        col, row = i % 4, i // 4
        r = rng.random()
        role = ("page_header" if r < 0.05 else "page_footer" if r < 0.1
                else "figure" if r < 0.2 else rng.choice(["paragraph", "section_headings"]))
        box = _box(col * 150 + rng.randint(0, 20), row * 40 + rng.randint(0, 10),
                   rng.choice([60, 120, 130]), rng.choice([20, 30, 60]))
        blocks.append({"box": box, "role": role, "text": f"b{i}",
                       "direction": rng.choice(["horizontal", "vertical"])})
        if role == "figure" and rng.random() < 0.5:
            blocks.append({"box": _box(box[0] + 5, box[1] + 2, 20, 10), "role": "paragraph",
                           "text": f"k{i}", "direction": "horizontal"})
    return _layout_payload(blocks)


@given(
    st.lists(TURN, min_size=1, max_size=8),
    st.one_of(st.none(), st.tuples(st.integers(0, 2**16), st.integers(200, 240))),
    st.integers(0, 8),
)
@settings(max_examples=60, deadline=None)
def test_batch_layout_order_and_output(turns, big, at):
    if big is not None:
        turns = turns[:at] + [(_big_page(*big), "")] + turns[at:]
    texts, tools = zip(*turns)
    # batch-wide order over every layout turn == per-turn composition
    tid, cols, want = [], [], []
    for i, (tx, tl) in enumerate(turns):
        blks = segment_turn(tx, tl)
        if blks and blks[0][BLOCK_FIELDS.index("source")] == "layout":
            c = _layout_cols(blks)
            tid += [i] * len(blks)
            cols.append(c)
            want.append(_composed_order(*c))
    if cols:
        got = layout_order(np.asarray(tid, dtype=np.int64),
                           *(np.concatenate(x) for x in zip(*cols)))
        assert got.tolist() == np.concatenate(want).tolist()
    # and the batch kernel's output == the oracle, turn by turn
    out = _engine(list(texts), list(tools))
    for (tx, tl), got_turn in zip(turns, out):
        assert got_turn == oracle.extract_payload(tx, tl)
