"""LLM-assisted field extraction — the reference's entry point 4.

The reference's `yomitoku_extract --mode llm` chain
(extractor/pipeline.py:139-198) is: semantic parse → build a
cell-ID-annotated prompt (extractor/prompt.py) → call an
OpenAI-compatible endpoint (extractor/llm_client.py) → parse the JSON
reply → resolve the returned cell ids back to boxes/contents
(extractor/resolver.py) → apply schema normalizers → emit the output
document. Everything around the model call is DETERMINISTIC plumbing,
and that plumbing is what this module re-expresses:

* the prompt builder, response parser, resolver, normalizer pass and
  output builders are pure functions over a plain-dict semantic info
  (the shape our semantic layer already exports);
* the model call is a pluggable :class:`LLMClient`. Two ships:
  :class:`OpenAICompatClient` (stdlib urllib → any OpenAI-compatible
  /chat/completions endpoint; the container has no network, so it is
  exercised only for request construction) and
  :class:`KeyMatchStubClient`, a deterministic mock model that answers
  FROM THE PROMPT TEXT ALONE by key matching — which makes the whole
  loop (prompt → "model" → parse → resolve → normalize) reproducible
  and therefore ORACLE-CHECKABLE end to end;
* :func:`llm_extract` is the distributed form: per-document semantic
  info is assembled with collect_list aggregations and the full loop
  runs inside one `applyInPandas` batch per document group — documents
  are independent, so the stage scales embarrassingly wide, and the
  client is constructed once per executor batch (connection reuse).

Semantic info is a plain dict (ids are the join keys, mirroring
TableSemanticParserSchema)::

    {"paragraphs": [{"id", "contents", "role", "box"}],
     "words":      [{"content", "points"}],
     "tables":     [{"id", "style",
                     "cells": {cid: {"id", "role", "contents", "box"}},
                     "kv_items": [{"key": [cids] | cid, "value": cid}],
                     "grids": [{"id", "col_headers": [[cids]],
                                "data": [[cid|None]]}]}]}
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field as dc_field

from yomitoku_spark.functions.normalize_scalar import apply_normalize

# ===================================================================
# schema (reference extractor/schema.py:7-58)
# ===================================================================


@dataclass
class LLMColumn:
    name: str
    description: str = ""
    cell_id: str | None = None
    bbox: list | None = None
    type: str = "string"
    normalize: str | None = None


@dataclass
class LLMField:
    name: str
    description: str = ""
    cell_id: str | None = None
    bbox: list | None = None
    regex: str | None = None
    type: str = "string"
    structure: str = "scalar"  # scalar | kv | table
    normalize: str | None = None
    merge_values: bool = False
    separator: str = "\n"
    columns: list[LLMColumn] | None = None


@dataclass
class LLMSchema:
    fields: list[LLMField]

    @classmethod
    def from_dict(cls, d: dict) -> "LLMSchema":
        out = []
        for fd in d["fields"]:
            fd = dict(fd)
            cols = fd.pop("columns", None)
            f = LLMField(**fd)
            if cols is not None:
                f.columns = [LLMColumn(**c) for c in cols]
            out.append(f)
        return cls(fields=out)

    @classmethod
    def from_yaml(cls, path_or_text: str) -> "LLMSchema":
        from yomitoku_spark.extractor import read_yaml

        return cls.from_dict(read_yaml(path_or_text))


# ===================================================================
# resolver (reference extractor/resolver.py)
# ===================================================================


@dataclass
class ResolvedElement:
    id: str
    box: list
    contents: str
    label: str = ""


@dataclass
class ResolvedField:
    name: str
    value: object
    raw_text: str
    elements: list = dc_field(default_factory=list)
    confidence: str = "low"
    source: str = "cell_search"


def build_lookup(info: dict) -> dict:
    """Reference build_lookup (resolver.py:29-45): cell ids from every
    table, paragraph ids (``p{i}`` when unset), word ids ``w{i}``."""
    lookup: dict = {}
    for table in info.get("tables", []):
        for cid, cell in table.get("cells", {}).items():
            lookup[cid] = cell
    for i, p in enumerate(info.get("paragraphs", [])):
        lookup[p.get("id") or f"p{i}"] = p
    for i, w in enumerate(info.get("words", [])):
        lookup[f"w{i}"] = w
    return lookup


def _quad_to_xyxy(points) -> list:
    xs = [p[0] for p in points]
    ys = [p[1] for p in points]
    return [min(xs), min(ys), max(xs), max(ys)]


def _resolve_element(eid: str, lookup: dict) -> ResolvedElement | None:
    """Reference _resolve_element (resolver.py:48-62): words carry
    quads, cells/paragraphs carry boxes."""
    obj = lookup.get(eid)
    if obj is None:
        return None
    if "points" in obj:
        return ResolvedElement(
            id=eid, box=_quad_to_xyxy(obj["points"]), contents=obj.get("content") or ""
        )
    return ResolvedElement(
        id=eid, box=list(obj.get("box") or []), contents=obj.get("contents") or ""
    )


def resolve_fields(llm_results: list, lookup: dict) -> list[ResolvedField]:
    """Reference resolve_fields (resolver.py:65-118): one ResolvedField
    per well-formed result entry. A list value (table) resolves every
    column's nested cell_ids with the column name as label; a dict
    value (LLM returned the KV as an object) promotes its nested
    "cell_ids"/"value"; a plain value resolves the top-level cell_ids.
    Non-dict entries are skipped."""
    out = []
    for item in llm_results:
        if not isinstance(item, dict):
            continue
        name = item.get("name", "")
        value = item.get("value", "")
        raw_text = item.get("raw_text", "")
        confidence = item.get("confidence", "low")
        source = item.get("source", "cell_search")
        cell_ids = item.get("cell_ids", [])
        elements: list[ResolvedElement] = []

        if isinstance(value, list):
            for row in value:
                if not isinstance(row, dict):
                    continue
                for col_name, col_val in row.items():
                    if not isinstance(col_val, dict):
                        continue
                    for cid in col_val.get("cell_ids", []):
                        elem = _resolve_element(cid, lookup)
                        if elem:
                            elem.label = col_name
                            elements.append(elem)
        elif isinstance(value, dict):
            nested = value.get("cell_ids", [])
            for cid in nested:
                elem = _resolve_element(cid, lookup)
                if elem:
                    elements.append(elem)
            if not cell_ids:
                cell_ids = nested
            value = value.get("value", "")
        else:
            for cid in cell_ids:
                elem = _resolve_element(cid, lookup)
                if elem:
                    elements.append(elem)

        out.append(
            ResolvedField(
                name=name, value=value, raw_text=raw_text, elements=elements,
                confidence=confidence, source=source,
            )
        )
    return out


# ===================================================================
# normalizer pass + output builders (reference extractor/pipeline.py)
# ===================================================================


def normalize_resolved_fields(
    fields: list[ResolvedField], schema: LLMSchema, skip_normalize: bool = False
) -> list[ResolvedField]:
    """Reference _normalize_resolved_fields (pipeline.py:19-55):
    scalar/kv string values through the field's rule, table columns
    through each column's rule."""
    if skip_normalize:
        return fields
    by_name = {f.name: f for f in schema.fields}
    for rf in fields:
        fs = by_name.get(rf.name)
        if fs is None:
            continue
        if fs.structure in ("scalar", "kv"):
            if isinstance(rf.value, str) and fs.normalize:
                rf.value = apply_normalize(rf.value, fs.normalize)
        elif fs.structure == "table" and isinstance(rf.value, list):
            col_map = {c.name: c for c in (fs.columns or [])}
            for row in rf.value:
                if not isinstance(row, dict):
                    continue
                for col_name, col_val in row.items():
                    cs = col_map.get(col_name)
                    if cs and cs.normalize and isinstance(col_val, dict):
                        col_val["value"] = apply_normalize(
                            col_val.get("value", ""), cs.normalize
                        )
    return fields


def build_output(fields: list[ResolvedField]) -> dict:
    """Reference _build_output (pipeline.py:58-111): rich form with
    per-field structure tag, bboxes and cell ids from the resolved
    elements."""
    output: dict = {"fields": {}, "metadata": {"schema_version": "1.0"}}
    for rf in fields:
        box_of = {e.id: e.box for e in rf.elements}
        text_of = {e.id: e.contents for e in rf.elements}
        if isinstance(rf.value, list):
            records = []
            for row in rf.value:
                if not isinstance(row, dict):
                    records.append(row)
                    continue
                enriched = {}
                for col_name, col_val in row.items():
                    if isinstance(col_val, dict):
                        cids = col_val.get("cell_ids", [])
                        enriched[col_name] = {
                            **col_val,
                            "raw_text": " ".join(
                                text_of[c] for c in cids if c in text_of
                            ),
                            "bboxes": [box_of[c] for c in cids if c in box_of],
                        }
                    else:
                        enriched[col_name] = col_val
                records.append(enriched)
            output["fields"][rf.name] = {
                "structure": "table", "records": records, "source": rf.source,
            }
        else:
            output["fields"][rf.name] = {
                "structure": "kv",
                "value": rf.value,
                "raw_text": rf.raw_text,
                "confidence": rf.confidence,
                "source": rf.source,
                "cell_ids": [e.id for e in rf.elements],
                "bboxes": [e.box for e in rf.elements],
            }
    return output


def build_simple_output(fields: list[ResolvedField]) -> dict:
    """Reference _build_simple_output (pipeline.py:114-137): values
    only — table rows flattened to {col: value}, dict values to their
    "value" key."""
    out: dict = {}
    for rf in fields:
        if isinstance(rf.value, list):
            records = []
            for row in rf.value:
                if not isinstance(row, dict):
                    records.append(row)
                    continue
                records.append(
                    {
                        k: (v.get("value", "") if isinstance(v, dict) else v)
                        for k, v in row.items()
                    }
                )
            out[rf.name] = records
        elif isinstance(rf.value, dict):
            out[rf.name] = rf.value.get("value", "")
        else:
            out[rf.name] = rf.value
    return out


# ===================================================================
# prompt (reference extractor/prompt.py)
# ===================================================================

# Same contract as the reference SYSTEM_PROMPT (prompt.py:11-33): the
# asserted invariants are the "results" envelope, the per-entry keys,
# the structure=kv / structure=table value shapes, and bracketed cell
# ids as the citation currency.
SYSTEM_PROMPT = """\
You are a document data extraction assistant.
You receive OCR-analyzed document data and extract information according to a schema.
Respond with valid JSON only. No explanation outside JSON.

CRITICAL RULES:
1. Return a JSON object with a single key "results" containing an array.
2. The array MUST have exactly one entry per schema field, in the same order as the schema.
3. Each entry MUST have these exact keys: "name", "value", "raw_text", "cell_ids", "confidence", "source".
4. For structure=kv fields:
   - "value" MUST be a plain string. NEVER an object or array.
   - "cell_ids" is a list of IDs where the value was found.
5. For structure=table fields:
   - "value" MUST be a list of row objects. Each row has column names as keys.
   - Each column value is an object with "value" (string) and "cell_ids" (list).
6. "confidence": "high", "medium", or "low".
7. "source": one of "kv", "grid", "cell_search", "paragraph", "word".
8. If a value cannot be found, return "value": "", "cell_ids": [], "confidence": "low", "source": "not_found".
9. Cell IDs are listed in brackets [id1,id2,...] at the end of each entry. Use these IDs directly in your response.
10. For structure=table: each column entry shows "header: value [id1,id2,...]". Use the value text as "value" and the bracketed IDs as "cell_ids".
"""


def _flat(text) -> str:
    return (text or "").replace("\n", " ")


def _build_paragraphs_section(info: dict) -> str:
    """prompt.py:36-46."""
    lines = []
    for i, p in enumerate(info.get("paragraphs", [])):
        pid = p.get("id") or f"p{i}"
        lines.append(
            f"  {pid}: contents={_flat(p.get('contents'))!r}, "
            f"role={(p.get('role') or '')!r}, box={list(p.get('box') or [])}"
        )
    return "\n".join(lines)


def _safe_contents(table: dict, cid) -> str:
    """prompt.py:126-131."""
    cell = table.get("cells", {}).get(cid)
    return _flat(cell.get("contents")) if cell else ""


def _merge_row_by_header(row, col_header_texts, col_header_ids, table, referenced):
    """prompt.py:134-174 — columns sharing a header TEXT merge into one
    (header, value_texts, value_ids) entry, preserving first-seen
    order."""
    merged: dict = {}
    order: list = []
    for ci, cid in enumerate(row):
        htext = col_header_texts[ci] if ci < len(col_header_texts) else "?"
        hids = col_header_ids[ci] if ci < len(col_header_ids) else []
        if htext not in merged:
            merged[htext] = {"h_ids": list(hids), "val_texts": [], "val_ids": []}
            order.append(htext)
        else:
            for hid in hids:
                if hid not in merged[htext]["h_ids"]:
                    merged[htext]["h_ids"].append(hid)
        if cid is not None:
            merged[htext]["val_texts"].append(_safe_contents(table, cid))
            merged[htext]["val_ids"].append(cid)
            referenced.add(cid)
    return [
        (h, merged[h]["h_ids"], merged[h]["val_texts"], merged[h]["val_ids"])
        for h in order
    ]


def _build_tables_section(tables: list, table_id_filter: str | None = None) -> str:
    """prompt.py:49-123 — per table: KV lines ``- key: value
    [key_ids,value_id]``, grid rows ``Row N: header: value [ids] |
    ...`` with same-header columns merged, then the cells no KV/grid
    line referenced (groups excluded)."""
    sections = []
    for table in tables:
        if table_id_filter and table.get("id") != table_id_filter:
            continue
        parts = [f"--- Table {table.get('id')} (style={table.get('style')}) ---"]
        referenced: set = set()

        kv_items = table.get("kv_items", [])
        if kv_items:
            parts.append("KV Items:")
            for kv in kv_items:
                key_ids = kv["key"] if isinstance(kv["key"], list) else [kv["key"]]
                key_ids = [k for k in key_ids if k]
                key_str = "".join(_safe_contents(table, k) for k in key_ids)
                referenced.update(key_ids)
                referenced.add(kv["value"])
                all_ids = ",".join([*key_ids, kv["value"]])
                parts.append(
                    f"  - {key_str}: {_safe_contents(table, kv['value'])} [{all_ids}]"
                )

        for grid in table.get("grids", []):
            parts.append(f"Grid {grid.get('id') or 'g?'}:")
            col_header_texts, col_header_ids = [], []
            for col_ids in grid.get("col_headers", []):
                col_header_texts.append(
                    "".join(_safe_contents(table, c) for c in col_ids)
                )
                col_header_ids.append(list(col_ids))
                referenced.update(col_ids)
            for ri, row in enumerate(grid.get("data", [])):
                merged = _merge_row_by_header(
                    row, col_header_texts, col_header_ids, table, referenced
                )
                parts.append(
                    f"  Row {ri}: "
                    + " | ".join(
                        f"{h}: {''.join(vt)} [{','.join(vi)}]"
                        for h, _hi, vt, vi in merged
                    )
                )

        unassigned = [
            f"  {cid}: contents={_flat(cell.get('contents'))!r}, "
            f"role={(cell.get('role') or '')!r}"
            for cid, cell in table.get("cells", {}).items()
            if cell.get("role") != "group" and cid not in referenced
        ]
        if unassigned:
            parts.append("Unassigned Cells:")
            parts.extend(unassigned)
        sections.append("\n".join(parts))
    return "\n\n".join(sections)


def _build_schema_section(schema: LLMSchema) -> str:
    """prompt.py:190-203 — scalar/kv fields render as structure=kv."""
    lines = ["Fields to extract:"]
    for f in schema.fields:
        desc = f.description or f.name
        if f.structure == "table":
            col_info = ""
            if f.columns:
                cols = ", ".join(f"{c.name}(type={c.type})" for c in f.columns)
                col_info = f", columns=[{cols}]"
            lines.append(f"  - {f.name}: {desc} (structure=table{col_info})")
        else:
            lines.append(f"  - {f.name}: {desc} (structure=kv, type={f.type})")
    return "\n".join(lines)


def _build_response_format(schema: LLMSchema) -> str:
    """prompt.py:206-238 — a fully-worked example envelope using the
    schema's real field and column names."""
    results = []
    for f in schema.fields:
        if f.structure == "table" and f.columns:
            row = {c.name: {"value": "...", "cell_ids": ["c0"]} for c in f.columns}
            results.append(
                {"name": f.name, "value": [row], "raw_text": "", "cell_ids": [],
                 "confidence": "high", "source": "grid"}
            )
        else:
            results.append(
                {"name": f.name, "value": "extracted text here",
                 "raw_text": "original text here", "cell_ids": ["c0"],
                 "confidence": "high", "source": "kv"}
            )
    return (
        "You MUST return JSON in exactly this structure "
        "(one entry per field, same order as schema):\n"
        + json.dumps({"results": results}, ensure_ascii=False, indent=2)
    )


def build_messages(
    info: dict, schema: LLMSchema, table_id: str | None = None
) -> list[dict]:
    """Reference build_messages (prompt.py:241-260). The words section
    builder exists in the reference but is NOT wired into the user
    prompt (dead code there) — mirrored by omission."""
    user = f"""\
## Paragraphs
{_build_paragraphs_section(info)}

## Tables
{_build_tables_section(info.get("tables", []), table_id)}

## Extraction Schema
{_build_schema_section(schema)}

## Response Format
{_build_response_format(schema)}
"""
    return [
        {"role": "system", "content": SYSTEM_PROMPT},
        {"role": "user", "content": user},
    ]


# ===================================================================
# clients (reference extractor/llm_client.py)
# ===================================================================


def parse_json_response(text: str) -> object:
    """Reference _parse_json_response (llm_client.py:11-16): strip an
    optional ``` / ```json fence, then strict json.loads."""
    text = text.strip()
    m = re.search(r"```(?:json)?\s*([\s\S]*?)```", text)
    if m:
        text = m.group(1).strip()
    return json.loads(text)


class OpenAICompatClient:
    """POST /chat/completions against any OpenAI-compatible endpoint
    with stdlib urllib (the reference depends on the openai package for
    the same call, llm_client.py:19-56; this container has neither the
    package nor network, so only request construction is testable).
    Falls back to a plain request when the endpoint rejects
    response_format, like the reference."""

    def __init__(self, model: str, api_base: str = "http://localhost:8000/v1",
                 api_key: str = "", temperature: float = 0.0,
                 max_tokens: int = 4096, timeout: float = 120.0):
        self.model = model
        self.api_base = api_base.rstrip("/")
        self.api_key = api_key
        self.temperature = temperature
        self.max_tokens = max_tokens
        self.timeout = timeout

    def build_request(self, messages: list[dict], json_mode: bool = True) -> tuple:
        body = {
            "model": self.model,
            "messages": messages,
            "temperature": self.temperature,
            "max_tokens": self.max_tokens,
        }
        if json_mode:
            body["response_format"] = {"type": "json_object"}
        headers = {"Content-Type": "application/json"}
        if self.api_key:
            headers["Authorization"] = f"Bearer {self.api_key}"
        return f"{self.api_base}/chat/completions", headers, body

    def complete(self, messages: list[dict]) -> str:
        import urllib.error
        import urllib.request

        for json_mode in (True, False):
            url, headers, body = self.build_request(messages, json_mode)
            req = urllib.request.Request(
                url, data=json.dumps(body).encode(), headers=headers, method="POST"
            )
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                    payload = json.loads(resp.read().decode())
                return payload["choices"][0]["message"]["content"]
            except urllib.error.HTTPError as e:
                if json_mode and e.code in (400, 422):
                    continue  # response_format unsupported → plain retry
                raise
        raise RuntimeError("unreachable")


_KV_LINE = re.compile(r"^  - (.*): (.*) \[([^\]]*)\]$")
_ROW_LINE = re.compile(r"^  Row (\d+): (.*)$")
_ROW_PART = re.compile(r"^(.*?): (.*) \[([^\]]*)\]$")
_SCHEMA_LINE = re.compile(r"^  - ([^:]+): (.*) \(structure=(kv|table)(?:, type=\w+)?"
                          r"(?:, columns=\[(.*)\])?\)$")


class KeyMatchStubClient:
    """A deterministic mock model: answers using ONLY the user prompt
    text, exactly as a (perfectly literal-minded) LLM would.

    For each schema field, in schema order:

    * structure=kv → the FIRST ``KV Items`` line whose space-stripped
      key contains the space-stripped field description (or name);
      value = the line's value text, cell_ids = [the line's LAST
      bracketed id] (the value cell — rule 9's citation contract),
      confidence high, source kv.
    * structure=table → every ``Row N:`` line becomes one row object;
      each schema column takes the first row entry whose merged header
      contains the column name (fallback ""/[]); source grid.
    * no match → the rule-8 not-found entry.

    The reply is wrapped in a ```json fence to exercise the parser's
    fence stripping. Because the answer is a pure function of the
    prompt, the composed pipeline is deterministic and DuckDB-
    refereeable (queries.llm_extract_kv)."""

    def complete(self, messages: list[dict]) -> str:
        user = next(m["content"] for m in messages if m["role"] == "user")
        kv, rows, fields = [], [], []
        for line in user.splitlines():
            m = _KV_LINE.match(line)
            if m and " (structure=" not in line:
                kv.append((m.group(1), m.group(2), m.group(3).split(",")))
                continue
            m = _ROW_LINE.match(line)
            if m:
                rows.append(
                    [
                        _ROW_PART.match(part).groups()
                        for part in m.group(2).split(" | ")
                        if _ROW_PART.match(part)
                    ]
                )
                continue
            m = _SCHEMA_LINE.match(line)
            if m:
                cols = None
                if m.group(3) == "table" and m.group(4) is not None:
                    cols = [c.split("(")[0].strip() for c in m.group(4).split(",")]
                fields.append((m.group(1).strip(), m.group(2), m.group(3), cols))

        def squash(s):
            return re.sub(r"[\s　]+", "", s)

        results = []
        for name, desc, structure, cols in fields:
            if structure == "table" and cols is not None:
                value = []
                for row in rows:
                    obj = {}
                    for col in cols:
                        hit = next(
                            (p for p in row if squash(col) in squash(p[0])), None
                        )
                        obj[col] = (
                            {"value": hit[1], "cell_ids": hit[2].split(",")}
                            if hit and hit[2]
                            else {"value": "", "cell_ids": []}
                        )
                    value.append(obj)
                if value:
                    results.append(
                        {"name": name, "value": value, "raw_text": "",
                         "cell_ids": [], "confidence": "high", "source": "grid"}
                    )
                    continue
            else:
                probe = squash(desc)
                hit = next((k for k in kv if probe and probe in squash(k[0])), None)
                if hit is not None:
                    results.append(
                        {"name": name, "value": hit[1], "raw_text": hit[1],
                         "cell_ids": [hit[2][-1]], "confidence": "high",
                         "source": "kv"}
                    )
                    continue
            results.append(
                {"name": name, "value": "", "raw_text": "", "cell_ids": [],
                 "confidence": "low", "source": "not_found"}
            )
        return "```json\n" + json.dumps({"results": results}, ensure_ascii=False) + "\n```"


# ===================================================================
# end-to-end (reference run_extraction, pipeline.py:139-198)
# ===================================================================


LLM_EXTRACT_SCHEMA = (
    "doc_id bigint, field string, record_idx int, col string, value string, "
    "raw_text string, confidence string, source string, cell_id string"
)


def llm_extract(cells, kv_items, schema: LLMSchema, client=None, paragraphs=None,
                headers=None, data=None):
    """Distributed run_extraction: the reference loops documents on one
    process (pipeline.py:139-198 is called per image); here every
    document runs the full prompt → client → resolve loop inside ONE
    ``applyInPandas`` group, so the stage parallelizes across the
    corpus and the only shuffle is the doc_id hash partition of the
    union-tagged input (cells ∪ kv items ∪ paragraphs in one tall
    frame — one exchange, not one per relation).

    ``cells`` is the (doc_id, cell_id, role, contents, x1..y2) layout
    frame; ``kv_items`` is :func:`operators.kv_graph.parse_kv_items`
    output. KV prompt order is the value cell's (y1, x1, cell_id) —
    the deterministic geometric order the reference's parser emits its
    list in. ``client`` must be picklable (default: the deterministic
    :class:`KeyMatchStubClient`, which makes this oracle-checkable —
    queries.llm_extract_kv).

    ``headers``/``data`` (optional) are the
    :func:`operators.grid_headers.derive_grid_headers` frames; they
    become the prompt's Grid sections so structure=table fields work
    distributed. Their integer positions ride the tall frame's x1/y1
    slots (hdr: x1=col, y1=hdr_pos; dat: x1=row, y1=col) — the union
    stays one exchange wide.

    Output is long-form: scalar fields at (record_idx=-1, col=''),
    table fields one row per (record_idx, col); cell_id is the first
    resolved element of the entry."""
    import pandas as pd
    from pyspark.sql import functions as F

    client = client or KeyMatchStubClient()
    tall = cells.select(
        "doc_id", F.lit("cell").alias("kind"), "cell_id",
        F.coalesce("role", F.lit("")).alias("role"),
        F.coalesce("contents", F.lit("")).alias("contents"),
        "x1", "y1", "x2", "y2", F.lit("").alias("key_cells"),
    ).unionByName(
        kv_items.select(
            "doc_id", F.lit("kv").alias("kind"),
            F.col("value_cell").alias("cell_id"), F.lit("").alias("role"),
            F.lit("").alias("contents"),
            F.lit(0).alias("x1"), F.lit(0).alias("y1"),
            F.lit(0).alias("x2"), F.lit(0).alias("y2"),
            F.coalesce("key_cells", F.lit("")).alias("key_cells"),
        )
    )
    if paragraphs is not None:
        tall = tall.unionByName(
            paragraphs.select(
                "doc_id", F.lit("para").alias("kind"),
                F.col("par_id").alias("cell_id"), F.lit("").alias("role"),
                F.coalesce("contents", F.lit("")).alias("contents"),
                "x1", "y1", "x2", "y2", F.lit("").alias("key_cells"),
            )
        )
    if headers is not None:
        tall = tall.unionByName(
            headers.select(
                "doc_id", F.lit("hdr").alias("kind"), "cell_id",
                F.lit("").alias("role"), F.lit("").alias("contents"),
                F.col("col").cast("int").alias("x1"),
                F.col("hdr_pos").cast("int").alias("y1"),
                F.lit(0).alias("x2"), F.lit(0).alias("y2"),
                F.col("grid_id").alias("key_cells"),
            )
        )
    if data is not None:
        tall = tall.unionByName(
            data.select(
                "doc_id", F.lit("dat").alias("kind"), "cell_id",
                F.lit("").alias("role"), F.lit("").alias("contents"),
                F.col("row").cast("int").alias("x1"),
                F.col("col").cast("int").alias("y1"),
                F.lit(0).alias("x2"), F.lit(0).alias("y2"),
                F.col("grid_id").alias("key_cells"),
            )
        )

    field_order = [f.name for f in schema.fields]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        doc = int(pdf["doc_id"].iloc[0])
        cells_d, kv, paras = {}, [], []
        hdr_cells: dict = {}  # grid_id -> [(col, hdr_pos, cell_id)]
        dat_cells: dict = {}  # grid_id -> [(row, col, cell_id)]
        for r in pdf.itertuples():
            if r.kind == "cell":
                cells_d[r.cell_id] = {
                    "id": r.cell_id, "role": r.role, "contents": r.contents,
                    "box": [int(r.x1), int(r.y1), int(r.x2), int(r.y2)],
                }
            elif r.kind == "kv":
                kv.append({"key": [k for k in r.key_cells.split("/") if k],
                           "value": r.cell_id})
            elif r.kind == "hdr":
                hdr_cells.setdefault(r.key_cells, []).append(
                    (int(r.x1), int(r.y1), r.cell_id))
            elif r.kind == "dat":
                dat_cells.setdefault(r.key_cells, []).append(
                    (int(r.x1), int(r.y1), r.cell_id))
            else:
                paras.append({"id": r.cell_id, "contents": r.contents,
                              "role": None,
                              "box": [int(r.x1), int(r.y1), int(r.x2), int(r.y2)]})

        grids = []
        for gid in sorted(set(hdr_cells) | set(dat_cells)):
            hs, ds = hdr_cells.get(gid, []), dat_cells.get(gid, [])
            n_col = max([c for c, _, _ in hs] + [c for _, c, _ in ds],
                        default=-1) + 1
            col_headers: list = [[] for _ in range(n_col)]
            for c, pos, cid in sorted(hs):
                col_headers[c].append(cid)
            rows_ix = sorted({r for r, _, _ in ds})
            data_m = []
            for ri in rows_ix:
                row = [None] * n_col
                for r2, c2, cid in ds:
                    if r2 == ri:
                        row[c2] = cid
                data_m.append(row)
            grids.append({"id": gid, "col_headers": col_headers,
                          "data": data_m})

        def vpos(item):
            c = cells_d.get(item["value"])
            return (c["box"][1], c["box"][0], item["value"]) if c else (0, 0, item["value"])

        kv.sort(key=vpos)
        paras.sort(key=lambda p: (p["box"][1], p["box"][0], p["id"]))
        info = {
            "tables": [{"id": f"t{doc}", "style": "border", "cells": cells_d,
                        "kv_items": kv, "grids": grids}],
            "paragraphs": paras, "words": [],
        }
        rich = run_extraction_doc(info, schema, client)
        rows = []
        for name in field_order:
            entry = rich["fields"].get(name)
            if entry is None:
                continue
            if entry["structure"] == "table":
                for ri, record in enumerate(entry["records"]):
                    for col, cv in record.items():
                        if not isinstance(cv, dict):
                            continue
                        cids = cv.get("cell_ids", [])
                        rows.append((doc, name, ri, col, cv.get("value", ""),
                                     cv.get("raw_text", ""), "high",
                                     entry.get("source", "grid"),
                                     cids[0] if cids else None))
            else:
                cids = entry.get("cell_ids", [])
                rows.append((doc, name, -1, "", entry.get("value", ""),
                             entry.get("raw_text", ""),
                             entry.get("confidence", "low"),
                             entry.get("source", ""),
                             cids[0] if cids else None))
        return pd.DataFrame(
            rows, columns=["doc_id", "field", "record_idx", "col", "value",
                           "raw_text", "confidence", "source", "cell_id"],
        )

    return tall.groupBy("doc_id").applyInPandas(run, LLM_EXTRACT_SCHEMA)


def run_extraction_doc(
    info: dict,
    schema: LLMSchema,
    client,
    table_id: str | None = None,
    no_normalize: bool = False,
    simple: bool = False,
) -> dict:
    """The reference's run_extraction for ONE document (pipeline.py:
    139-198, minus file/visualizer I/O): prompt → client → parse →
    resolve → normalize → output dict."""
    messages = build_messages(info, schema, table_id=table_id)
    reply = parse_json_response(client.complete(messages))
    results = reply.get("results", []) if isinstance(reply, dict) else []
    lookup = build_lookup(info)
    resolved = resolve_fields(results, lookup)
    resolved = normalize_resolved_fields(resolved, schema, skip_normalize=no_normalize)
    return build_simple_output(resolved) if simple else build_output(resolved)
