"""Export sinks, ruby/MAD size filter, connected components."""

import datetime
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from yomitoku_spark.operators.components import connected_components
from yomitoku_spark.operators.sizefilter import (
    mad_outliers,
    ruby_filter_blocks,
    valley_threshold_numpy,
)
from yomitoku_spark.plans.export import export_blocks
from yomitoku_spark.plans import pipeline


@pytest.fixture(scope="module")
def blocks(spark):
    rows = [
        ("c1", 0, "user",
         "## Title Here\n\n- alpha one\n- beta two\n\nplain paragraph long enough <yes> & fine",
         "", datetime.datetime(2024, 1, 1)),
        ("c1", 1, "user",
         '| a | b |\n|---|---|\n| x,1 | "q" |\n| y | z |',
         "", datetime.datetime(2024, 1, 1)),
    ]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    return pipeline.blocks(tdf)


def test_export_formats(spark, blocks):
    out = {r.turn_idx: r for r in export_blocks(blocks).collect()}
    t0, t1 = out[0], out[1]
    assert t0.markdown.startswith("## Title Here")
    assert "<h2>Title Here</h2>" in t0.html
    assert "<ul><li>alpha one</li><li>beta two</li></ul>" in t0.html
    assert "<p>plain paragraph long enough &lt;yes&gt; &amp; fine</p>" in t0.html
    assert "<table><tr><td>a</td><td>b</td></tr>" in t1.html
    # CSV: comma cell quoted, embedded quotes doubled
    assert '"x,1"' in t1.csv and '"""q"""' in t1.csv
    assert '"extracted_text"' in t0.json and t0.json.startswith("{")


def test_valley_threshold_bimodal():
    small = np.full(40, 4.0)
    big = np.full(40, 120.0)
    thr = valley_threshold_numpy(np.concatenate([small, big]))
    assert thr is not None and 4.0 < thr < 120.0
    assert valley_threshold_numpy(np.full(50, 10.0)) is None  # unimodal


def test_mad_outliers(spark):
    rows = [("g1", float(v)) for v in [10, 11, 10, 12, 11, 10, 300]] + [
        ("g2", float(v)) for v in [5, 5, 6, 5]
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {(r.g, r.v): r.is_outlier for r in mad_outliers(df, ["g"], "v").collect()}
    assert got[("g1", 300.0)] is True
    assert got[("g1", 10.0)] is False
    # MAD = 0 (constant group): any deviation from the median is flagged
    assert got[("g2", 6.0)] is True
    assert got[("g2", 5.0)] is False


def test_ruby_filter(spark):
    # one page: many normal-size words + tiny kana fragments
    rows = [("p1", 24.0, f"word{i}") for i in range(30)]
    rows += [("p1", 3.0, "ふり"), ("p1", 3.0, "がな"), ("p1", 3.0, "abc")]
    df = spark.createDataFrame(rows, "page string, size double, text string")
    got = ruby_filter_blocks(df, ["page"], "size", "text").collect()
    ruby = {r.text for r in got if r.is_ruby}
    assert ruby == {"ふり", "がな"}  # small AND kana-only; 'abc' survives


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("t1", 1, 2), ("t1", 2, 3), ("t1", 10, 11), ("t2", 1, 5)],
        "turn string, src bigint, dst bigint",
    )
    got = {
        (r.turn, r.node): r.component
        for r in connected_components(edges, ["turn"]).collect()
    }
    assert got[("t1", 1)] == got[("t1", 3)] == 1
    assert got[("t1", 10)] == got[("t1", 11)] == 10
    assert got[("t2", 5)] == 1


def test_searchable_pdf_text_layer(spark, tmp_path):
    """Text-layer plumbing (reference searchable_pdf.py:140-200): word→
    container assignment at 0.7 containment, per-container direction
    sort, integer-exact font fit on the 0.50..0.99 rate grid, and the
    stubbed renderer boundary."""
    from yomitoku_spark.plans import searchable_pdf as SPDF

    containers = spark.createDataFrame(
        [
            (0, 0, 0, False, 0, 0, 600, 100),     # horizontal paragraph
            (0, 1, 0, True, 0, 200, 200, 600),    # vertical column
        ],
        "page int, order int, sub_order int, vertical boolean, "
        "x1 int, y1 int, x2 int, y2 int",
    )
    words = spark.createDataFrame(
        [
            (0, "w_b", "beta", 300, 10, 400, 30),    # horiz, right
            (0, "w_a", "alpha", 10, 10, 110, 30),    # horiz, left (y ties -> x)
            (0, "w_v2", "col2", 20, 250, 60, 350),   # vertical, left col
            (0, "w_v1", "col1", 120, 250, 160, 350), # vertical, right col first
            (0, "w_out", "orphan", 900, 900, 950, 920),  # in no container
        ],
        "page int, word_id string, content string, x1 int, y1 int, x2 int, y2 int",
    )
    layer = SPDF.text_layer(containers, words).orderBy("seq")
    rows = layer.collect()
    assert [r.text for r in rows] == ["alpha", "beta", "ｃｏｌ１", "ｃｏｌ２"]
    # font fit, horizontal 'alpha': h=20, w=100; diff=|550*5*20*r - 100000*100|
    # minimized at the grid edge r=99 (stub metric underestimates) →
    # font_centi = 20*99
    assert rows[0].font_centi == 20 * 99
    # vertical 'col1': base = box width 40, target = height 100 → the
    # grid point closest to 100000*100/(550*4*40) ≈ 113.6 is r=99
    assert rows[2].font_centi == 40 * 99 and rows[2].vertical

    out = str(tmp_path / "layer")
    SPDF.write_text_layer(layer, out)
    assert spark.read.json(out).count() == 4


# Readers of the written PDF, the referee of the writer.
def parse_xref(data: bytes) -> dict[int, int]:
    """Parse the xref table; verify every in-use offset lands on its
    'N 0 obj' header. Returns {obj_no: offset}; raises on corruption."""
    m = re.search(rb"startxref\s+(\d+)\s+%%EOF", data)
    if not m:
        raise ValueError("missing startxref")
    pos = int(m.group(1))
    if not data[pos:].startswith(b"xref"):
        raise ValueError("startxref does not point at the xref table")
    header = re.match(rb"xref\s+(\d+)\s+(\d+)\s*\n", data[pos:])
    first, count = int(header.group(1)), int(header.group(2))
    table_at = pos + header.end()
    out = {}
    for i in range(count):
        entry = data[table_at + 20 * i: table_at + 20 * (i + 1)]
        off, _gen, kind = entry.split()
        if kind == b"n":
            objno = first + i
            off = int(off)
            if not data[off:].startswith(f"{objno} 0 obj".encode()):
                raise ValueError(f"xref offset of obj {objno} is wrong")
            out[objno] = off
    return out


def extract_text(data: bytes) -> list[tuple[str, float]]:
    """Pull (text, font_size) spans back out of the content streams —
    decode the Identity-H hex operands as UTF-16BE. Consecutive
    single-char rotated draws are NOT merged (callers join them)."""
    spans = []
    for stream in re.findall(rb"stream\n(.*?)\nendstream", data, re.DOTALL):
        try:
            txt = stream.decode("ascii")
        except UnicodeDecodeError:
            continue
        for size, hexstr in re.findall(
            r"/F1 ([0-9.]+) Tf.*?<([0-9A-F]*)> Tj", txt
        ):
            spans.append((bytes.fromhex(hexstr).decode("utf-16-be"), float(size)))
    return spans


def test_searchable_pdf_renders_real_pdf(spark, tmp_path):
    """The r6 hand-rolled canvas (plans/pdf_writer.py): render_pdf
    writes VALID PDF bytes — xref offsets land on their objects, the
    page tree counts match, and the invisible Identity-H text layer
    round-trips back out of the content streams (UTF-16BE hex
    operands), including the per-char rotated vertical draws."""
    from yomitoku_spark.plans import searchable_pdf as SPDF

    containers = spark.createDataFrame(
        [
            (0, 0, 0, False, 0, 0, 600, 100),
            (0, 1, 0, True, 0, 200, 200, 600),
            (1, 0, 0, False, 0, 0, 600, 100),
        ],
        "page int, order int, sub_order int, vertical boolean, "
        "x1 int, y1 int, x2 int, y2 int",
    )
    words = spark.createDataFrame(
        [
            (0, "w_a", "alpha", 10, 10, 110, 30),
            (0, "w_v1", "col1", 120, 250, 160, 350),
            (1, "w_b", "日本語", 10, 10, 110, 30),
        ],
        "page int, word_id string, content string, x1 int, y1 int, x2 int, y2 int",
    )
    layer = SPDF.text_layer(containers, words)
    pdf_path = tmp_path / "out.pdf"
    n = SPDF.render_pdf(layer, {0: (800, 1000), 1: (800, 1000)}, str(pdf_path))
    assert n == 2
    data = pdf_path.read_bytes()
    assert data.startswith(b"%PDF-1.4")
    xref = parse_xref(data)  # raises if any offset is wrong
    assert len(xref) >= 8  # fonts + 2 pages + 2 streams + tree + catalog
    assert b"/Count 2" in data
    assert b"3 Tr" in data  # invisible render mode
    spans = extract_text(data)
    texts = [t for t, _ in spans]
    # horizontal words draw whole; vertical 'col1' -> full-width chars
    # drawn one at a time, in column order
    assert "alpha" in texts and "日本語" in texts
    assert [t for t in texts if len(t) == 1] == list("ｃｏｌ１")
    # fitted font size survives the round trip (centi -> PDF units)
    by_text = {t: s for t, s in spans}
    font_row = {r.text: r.font_centi for r in layer.collect()}
    assert by_text["alpha"] == font_row["alpha"] / 100.0


def test_render_pdf_refuses_orphan_pages(spark, tmp_path):
    """Text-layer rows on a page absent from page_sizes raise instead
    of silently vanishing from the written PDF (r6 review finding)."""
    import pytest as _pytest

    from yomitoku_spark.plans import searchable_pdf as SPDF

    containers = spark.createDataFrame(
        [(7, 0, 0, False, 0, 0, 600, 100)],
        "page int, order int, sub_order int, vertical boolean, "
        "x1 int, y1 int, x2 int, y2 int",
    )
    words = spark.createDataFrame(
        [(7, "w", "hello", 10, 10, 110, 30)],
        "page int, word_id string, content string, x1 int, y1 int, x2 int, y2 int",
    )
    layer = SPDF.text_layer(containers, words)
    with _pytest.raises(ValueError, match="absent from"):
        SPDF.render_pdf(layer, {0: (800, 1000)}, str(tmp_path / "x.pdf"))


def test_searchable_pdf_no_int32_overflow_and_boundary_containment(spark):
    """550·len·h·rate must be bigint (a 100-char word in a 400px box
    passes 2^31 under ANSI mode), and a word exactly 70%-contained is
    kept (>= convention, spatial.contains)."""
    from yomitoku_spark.plans import searchable_pdf as SPDF

    containers = spark.createDataFrame(
        [(0, 0, 0, False, 0, 0, 1000, 500)],
        "page int, order int, sub_order int, vertical boolean, "
        "x1 int, y1 int, x2 int, y2 int",
    )
    words = spark.createDataFrame(
        [
            (0, "w_long", "x" * 100, 10, 10, 900, 410),
            # 10x10 word, overlap exactly 70 of area 100 → kept (>=)
            (0, "w_edge", "e", 993, 10, 1003, 20),
        ],
        "page int, word_id string, content string, x1 int, y1 int, x2 int, y2 int",
    )
    rows = SPDF.text_layer(containers, words).orderBy("seq").collect()
    assert [r.text for r in rows] == ["x" * 100, "e"]
    assert rows[0].font_centi == 400 * 50  # stub metric overshoots → min rate


def test_ivf_probe_clamp(spark):
    from yomitoku_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(5)
    out = SIM.ivf_flat_topk(emb, n_cells=8, n_probe=10, k=2)
    assert out.count() > 0  # no executor IndexError
