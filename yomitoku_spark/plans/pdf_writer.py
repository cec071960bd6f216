"""Minimal pure-Python searchable-PDF writer (no reportlab, no pip).

The reference renders the invisible OCR text layer with a reportlab
canvas (utils/searchable_pdf.py:74-229: transparent fill, per-word
``drawString``, per-char rotated draws for vertical text). This module
hand-rolls the same artifact as raw PDF objects:

* a classic xref-table PDF 1.4 skeleton (catalog → pages → page →
  content stream);
* one non-embedded Identity-H Type0 font (``/BaseFont /MPLUS1p-Medium``
  — the reference's bundled face by name) with an Identity ToUnicode
  CMap, so CJK text survives extraction: string operands are UTF-16BE
  code units used directly as CIDs (BMP only — a documented limit);
* invisible text via render mode 3 (``3 Tr``) — the standard
  searchable-PDF trick, equivalent to the reference's alpha-0 fill;
* the reference's placement math verbatim: horizontal words draw at
  ``(x1, H - y2 + (box_h - font)/2)``; vertical words draw one rotated
  char at a time centered in the column (:198-216).

Deliberate deviation, documented: the reference paints the page JPEG
under the layer; this environment has no raster codecs for the page
images, so pages carry only the text layer (a valid, extractable PDF —
the image XObject is the single piece that would need a codec).
"""

from __future__ import annotations


def _num(v: float) -> str:
    """PDF number: trim trailing zeros, keep 2 decimals max."""
    s = f"{v:.2f}".rstrip("0").rstrip(".")
    return s if s else "0"


def _hex16(text: str) -> str:
    """UTF-16BE hex string operand (code units as Identity-H CIDs)."""
    return "<" + text.encode("utf-16-be").hex().upper() + ">"


_TOUNICODE = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 >> def
/CMapName /Adobe-Identity-UCS def
/CMapType 2 def
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
1 beginbfrange
<0000> <FFFF> <0000>
endbfrange
endcmap
CMapName currentdict /CMap defineresource pop
end
end"""


class PdfBuilder:
    """Accumulates numbered objects; build() emits header + bodies +
    xref table + trailer with byte-exact offsets."""

    def __init__(self):
        self._bodies: list[bytes] = []

    def add(self, body: bytes) -> int:
        self._bodies.append(body)
        return len(self._bodies)  # object number (1-indexed)

    def add_stream(self, data: bytes, extra: str = "") -> int:
        return self.add(
            f"<< /Length {len(data)}{extra} >>\nstream\n".encode()
            + data
            + b"\nendstream"
        )

    def build(self, root: int) -> bytes:
        out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
        offsets = []
        for i, body in enumerate(self._bodies, 1):
            offsets.append(len(out))
            out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
        xref_off = len(out)
        n = len(self._bodies) + 1
        out += f"xref\n0 {n}\n".encode()
        out += b"0000000000 65535 f \n"
        for o in offsets:
            out += f"{o:010d} 00000 n \n".encode()
        out += (
            f"trailer\n<< /Size {n} /Root {root} 0 R >>\n"
            f"startxref\n{xref_off}\n%%EOF\n"
        ).encode()
        return bytes(out)


def _word_ops(r, page_h: float) -> str:
    """Content-stream ops for one placed word (reference drawString /
    per-char rotated-draw math, searchable_pdf.py:198-216)."""
    font = r["font_centi"] / 100.0
    ops = []
    if r["vertical"]:
        text = r["text"]
        char_h = r["box_h"] / len(text) if text else 0.0
        cx = r["x"] + (r["box_w"] - font) / 2.0
        base_y = page_h - r["y"]
        for j, ch in enumerate(text):
            cy = base_y - j * char_h - char_h / 2.0 + font / 2.0
            # translate(cx, cy) then rotate(-90): Tm = [0 -1 1 0 cx cy]
            ops.append(
                f"BT 3 Tr /F1 {_num(font)} Tf "
                f"0 -1 1 0 {_num(cx)} {_num(cy)} Tm {_hex16(ch)} Tj ET"
            )
    else:
        ty = page_h - (r["y"] + r["box_h"]) + (r["box_h"] - font) * 0.5
        ops.append(
            f"BT 3 Tr /F1 {_num(font)} Tf "
            f"1 0 0 1 {_num(r['x'])} {_num(ty)} Tm {_hex16(r['text'])} Tj ET"
        )
    return "\n".join(ops)


def build_pdf(pages: list[tuple[int, float, float, list[dict]]]) -> bytes:
    """Assemble the searchable PDF: ``pages`` is a list of
    (page_no, width, height, layer_rows) with layer_rows already in
    draw (seq) order, each row a dict with text/x/y/box_w/box_h/
    font_centi/vertical."""
    b = PdfBuilder()
    font_desc = b.add(
        b"<< /Type /FontDescriptor /FontName /MPLUS1p-Medium /Flags 4 "
        b"/FontBBox [0 -200 1000 900] /ItalicAngle 0 /Ascent 880 "
        b"/Descent -120 /CapHeight 700 /StemV 80 >>"
    )
    cid_font = b.add(
        f"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /MPLUS1p-Medium "
        f"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        f"/Supplement 0 >> /FontDescriptor {font_desc} 0 R /DW 1000 "
        f"/CIDToGIDMap /Identity >>".encode()
    )
    tounicode = b.add_stream(_TOUNICODE)
    font = b.add(
        f"<< /Type /Font /Subtype /Type0 /BaseFont /MPLUS1p-Medium "
        f"/Encoding /Identity-H /DescendantFonts [{cid_font} 0 R] "
        f"/ToUnicode {tounicode} 0 R >>".encode()
    )
    page_objs = []
    kids_holder = b.add(b"")  # placeholder for /Pages (patched below)
    for _page_no, w, h, rows in pages:
        content = "\n".join(_word_ops(r, h) for r in rows)
        cobj = b.add_stream(content.encode())
        page_objs.append(
            b.add(
                f"<< /Type /Page /Parent {kids_holder} 0 R "
                f"/MediaBox [0 0 {_num(w)} {_num(h)}] /Contents {cobj} 0 R "
                f"/Resources << /Font << /F1 {font} 0 R >> >> >>".encode()
            )
        )
    kids = " ".join(f"{p} 0 R" for p in page_objs)
    b._bodies[kids_holder - 1] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {len(page_objs)} >>".encode()
    )
    root = b.add(f"<< /Type /Catalog /Pages {kids_holder} 0 R >>".encode())
    return b.build(root)


def render_searchable_pdf(layer, page_sizes: dict[int, tuple[float, float]],
                          output_path: str) -> int:
    """Render the text-layer DataFrame (plans.searchable_pdf.text_layer
    output, plus box_w/box_h) into a real multi-page searchable PDF.

    ``page_sizes`` maps page → (width, height) in PDF units (the
    reference takes them from the page image; there is no image here).
    Driver-side single-file sink, the same class as the CLI's
    --per-file path — the distributed artifact is write_text_layer."""
    by_page: dict[int, list[dict]] = {p: [] for p in page_sizes}
    it = (
        layer.select("page", "seq", "text", "x", "y", "box_w", "box_h",
                     "font_centi", "vertical")
        .orderBy("page", "seq")
        .toLocalIterator()
    )
    for r in it:
        by_page.setdefault(r["page"], []).append(r.asDict())
    orphans = set(by_page) - set(page_sizes)
    if orphans:
        raise ValueError(
            f"text layer has rows for pages {sorted(orphans)} absent from "
            "page_sizes — refusing to silently drop their text"
        )
    pages = [
        (p, float(page_sizes[p][0]), float(page_sizes[p][1]), by_page[p])
        for p in sorted(page_sizes)
    ]
    data = build_pdf(pages)
    with open(output_path, "wb") as f:
        f.write(data)
    return len(pages)
