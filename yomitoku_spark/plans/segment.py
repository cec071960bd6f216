"""S2 segmenter: one turn payload → raw block rows (engine side).

Produces RAW blocks only — no keep/drop decisions, no ordering: those
are separate steps in :mod:`yomitoku_spark.plans.pipeline` (reading
order is numpy over the batch's block columns; featurize/classify are
Catalyst column expressions on the staged path). This mirrors the reference's separation of
detection (layout_parser.py) from filtering (document_analyzer.py:552-568)
from ordering (reading_order.py).

Block record fields (see ``BLOCK_FIELDS``):

* ``start``/``end`` — span offsets into the ORIGINAL payload string
* ``rendered`` — normalized markdown-ish rendering (NFKC applied;
  reference: text_recognizer.py:155)
* ``content_len``/``link_chars``/``visible_len`` — classifier features
* ``boiler`` — tag/class prior (reference analog: page_header/footer
  roles, configs/cfg_layout_parser_rtdtrv2_v2.py:72-89)
* ``meta`` — layout meta roles (dropped under ignore-meta semantics)
* ``x1..y2`` — layout box, −1 for non-layout blocks
"""

from __future__ import annotations

import json
import unicodedata
from itertools import zip_longest

from yomitoku_spark import spec

BLOCK_FIELDS = [
    "block_id",
    "source",
    "kind",
    "start",
    "end",
    "rendered",
    "content_len",
    "link_chars",
    "visible_len",
    "boiler",
    "meta",
    "role",
    "vertical",
    "x1",
    "y1",
    "x2",
    "y2",
]

BLOCKS_SCHEMA = (
    "conv_id string, turn_idx int, block_id int, source string, kind string, "
    "start int, end int, rendered string, content_len int, link_chars int, "
    "visible_len int, boiler boolean, meta boolean, role string, "
    "vertical boolean, x1 int, y1 int, x2 int, y2 int"
)


def _nfkc(s: str) -> str:
    # NFKC is the identity on ASCII — isascii() is a cheap C check and
    # most payload text is ASCII-dominated
    return s if s.isascii() else unicodedata.normalize("NFKC", s)


def _cws(s: str) -> str:
    return spec.WS_COLLAPSE_RE.sub(" ", s).strip()


def _mk(bid, source, kind, start, end, rendered, content_len, link_chars,
        visible_len, boiler=False, meta=False, role="", vertical=False,
        box=(-1, -1, -1, -1)):
    return (
        bid, source, kind, int(start), int(end), rendered, int(content_len),
        int(link_chars), int(visible_len), bool(boiler), bool(meta), role,
        bool(vertical), int(box[0]), int(box[1]), int(box[2]), int(box[3]),
    )


# ------------------------------------------------------------ textual


def _pipe_cells(line: str) -> list[str]:
    return [c.strip() for c in line.strip().strip("|").split("|")]


def _render_pipe_table(rows: list[list[str]]) -> str:
    if not rows:
        return ""
    padded = list(zip(*zip_longest(*rows, fillvalue="")))
    width = len(padded[0])
    lines = ["| " + " | ".join(padded[0]) + " |",
             "| " + " | ".join(["---"] * width) + " |"]
    lines += ["| " + " | ".join(r) + " |" for r in padded[1:]]
    return "\n".join(lines)


def _segment_textual(payload: str) -> list[tuple]:
    out = []
    # fenced code regions are verbatim blocks; blank-line split the gaps
    code_regions = [(m.start(), m.end()) for m in spec.FENCE_RE.finditer(payload)]
    bounds = []
    last = 0
    for cs, ce in code_regions:
        gap = payload[last:cs]
        gstart = last
        glast = 0
        for m in spec.BLANK_LINE_SPLIT_RE.finditer(gap):
            bounds.append((gstart + glast, gstart + m.start(), False))
            glast = m.end()
        bounds.append((gstart + glast, cs, False))
        bounds.append((cs, ce, True))
        last = ce
    gap = payload[last:]
    glast = 0
    for m in spec.BLANK_LINE_SPLIT_RE.finditer(gap):
        bounds.append((last + glast, last + m.start(), False))
        glast = m.end()
    bounds.append((last + glast, len(payload), False))
    bid = 0
    for start, end, is_code in bounds:
        seg = payload[start:end]
        if is_code:
            rendered = seg.strip()
            out.append(_mk(bid, "textual", spec.KIND_CODE, start, end, rendered,
                           len(rendered), 0, len(rendered)))
            bid += 1
            continue
        if not seg.strip():
            continue
        stripped = [ln.strip() for ln in seg.split("\n") if ln.strip()]
        if (
            len(stripped) >= 2
            and all(spec.MD_TABLE_LINE_RE.match(ln) for ln in stripped)
            and spec.MD_TABLE_SEP_RE.match(stripped[1])
        ):
            rows = [
                [
                    ""
                    if c in (spec.ROWSPAN_MARK, spec.COLSPAN_MARK)
                    else _nfkc(c)
                    for c in _pipe_cells(ln)
                ]
                for ln in stripped
                if not spec.MD_TABLE_SEP_RE.match(ln)
            ]
            rendered = _render_pipe_table(rows)
            out.append(_mk(bid, "textual", spec.KIND_TABLE, start, end, rendered,
                           len(rendered), 0, len(rendered)))
        elif len(stripped) == 1 and (m := spec.MD_HEADING_RE.match(stripped[0])):
            title = _nfkc(m.group(2)).strip()
            out.append(_mk(bid, "textual", spec.KIND_HEADING, start, end,
                           f"{m.group(1)} {title}", len(title), 0, len(title)))
        elif all(spec.MD_LIST_LINE_RE.match(ln) for ln in stripped):
            items = [_nfkc(spec.MD_LIST_LINE_RE.match(ln).group(1)).strip() for ln in stripped]
            rendered = "\n".join("- " + i for i in items)
            clen = sum(len(i) for i in items)
            out.append(_mk(bid, "textual", spec.KIND_LIST, start, end, rendered,
                           clen, 0, clen))
        elif len(stripped) >= 2 and all(spec.KV_LINE_RE.match(ln) for ln in stripped):
            parts = []
            for ln in stripped:
                k, v = spec.KV_LINE_RE.match(ln).groups()
                parts.append(f"- **{_cws(k)}**: {_nfkc(v).strip()}")
            rendered = "\n".join(parts)
            out.append(_mk(bid, "textual", spec.KIND_KV, start, end, rendered,
                           len(rendered), 0, len(rendered)))
        else:
            text = _nfkc(seg).strip()
            out.append(_mk(bid, "textual", spec.KIND_PARAGRAPH, start, end, text,
                           len(text), 0, len(text)))
        bid += 1
    return out


# ------------------------------------------------------------ html


def _visible(inner: str) -> str:
    s = spec.HTML_A_RE.sub(lambda m: m.group(1), inner)
    return spec.HTML_INLINE_STRIP_RE.sub("", s)


def _segment_html(payload: str) -> list[tuple]:
    out = []
    bid = 0
    li_run: list[tuple[int, int, str, int, int]] = []

    def flush():
        nonlocal bid
        if not li_run:
            return
        rendered = "\n".join("- " + it for _, _, it, _, _ in li_run)
        clen = sum(len(it) for _, _, it, _, _ in li_run)
        link = sum(r[3] for r in li_run)
        vis = sum(r[4] for r in li_run)
        out.append(_mk(bid, "html", spec.KIND_LIST, li_run[0][0], li_run[-1][1],
                       rendered, clen, link, vis))
        bid += 1
        li_run.clear()

    for m in spec.HTML_ELEMENT_RE.finditer(payload):
        tag, attrs, inner = m.group("tag"), m.group("attrs"), m.group("inner")
        vis_text = _visible(inner).strip()
        link_chars = sum(len(t) for t in spec.HTML_A_RE.findall(inner))
        if tag == "li":
            li_run.append((m.start(), m.end(), _cws(_nfkc(vis_text)), link_chars, len(vis_text)))
            continue
        flush()
        cm = spec.HTML_CLASS_RE.search(attrs)
        boiler = tag in spec.BOILER_TAGS or bool(
            cm and spec.BOILER_CLASS_RE.search(cm.group(1))
        )
        if tag == "table":
            rows = []
            for tr in spec.HTML_TR_RE.findall(inner):
                cells = [_cws(_nfkc(_visible(c))) for c in spec.HTML_TD_RE.findall(tr)]
                if cells:
                    rows.append(cells)
            rendered = _render_pipe_table(rows)
            out.append(_mk(bid, "html", spec.KIND_TABLE, m.start(), m.end(), rendered,
                           len(rendered), link_chars, len(vis_text), boiler=boiler))
        elif tag[0] == "h" and tag[1:].isdigit():
            title = _cws(_nfkc(vis_text))
            out.append(_mk(bid, "html", spec.KIND_HEADING, m.start(), m.end(),
                           "#" * int(tag[1:]) + " " + title, len(title),
                           link_chars, len(vis_text), boiler=boiler))
        else:
            text = _cws(_nfkc(vis_text))
            out.append(_mk(bid, "html", spec.KIND_PARAGRAPH, m.start(), m.end(), text,
                           len(text), link_chars, len(vis_text), boiler=boiler))
        bid += 1
    flush()
    return out


# ------------------------------------------------------------ layout


def _segment_layout(payload: str) -> list[tuple]:
    doc = json.loads(payload)
    out = []
    for bid, it in enumerate(doc.get("blocks", [])):
        role = it.get("role", spec.ROLE_PARAGRAPH)
        raw = it["text"]  # missing fields raise → caller degrades to textual
        meta = role in spec.META_ROLES
        text = _nfkc(raw).strip()
        if meta:
            rendered, kind = "", spec.KIND_PARAGRAPH
        elif role == spec.ROLE_HEADING:
            rendered, kind = "# " + text, spec.KIND_HEADING
        elif role == spec.ROLE_FIGURE:
            rendered, kind = text, spec.KIND_FIGURE
        else:
            rendered, kind = text, spec.KIND_PARAGRAPH
        idx = payload.find(raw)
        # non-meta blocks require a box (missing → raise → textual fallback);
        # meta blocks never consult it — matches the oracle's access pattern
        box = it["box"] if not meta else it.get("box", [-1, -1, -1, -1])
        vertical = it.get("direction") == "vertical"
        out.append(_mk(bid, "layout", kind, idx, idx + len(raw), rendered,
                       len(text), 0, len(text), meta=meta, role=role,
                       vertical=vertical, box=box))
    return out


# ------------------------------------------------------------ entry


def segment_turn(text: str | None, tool: str | None) -> list[tuple]:
    """Parse one turn's payload into raw block tuples (document order)."""
    payload = text if (text is not None and text != "") else (tool or "")
    if payload.strip() == "":
        return []
    if payload.lstrip().startswith(spec.LAYOUT_PREFIX):
        # bad-row tolerance: unparseable layout JSON degrades to textual
        try:
            return _segment_layout(payload)
        except Exception:
            return _segment_textual(payload)
    if spec.HTML_BLOCK_TAG_RE.search(payload):
        return _segment_html(payload)
    return _segment_textual(payload)
