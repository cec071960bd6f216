"""The library is what its entry points reach.

A pure-``ast`` scan (no Spark): every top-level ``def``/``class`` in
``yomitoku_spark/`` must be reached from a root, or be named in
``ALLOWED`` with the COVERAGE.md row that keeps it. Code that only the
tests call is a referee and lives in the test beside its twin test.

* Roots: the module-level statements of library modules (imports and
  docstrings excepted), definitions registered by a decorator call to a
  function of their own module (the ``NORMALIZERS`` tables), and every
  non-test ``.py`` under ``tools/``, ``jobs/`` and ``perfbench/``, plus
  ``bench*.py`` and ``__spark_entry__.py``.
* Edges: names, attributes and import aliases, resolved through
  re-exports; an attribute on anything but an imported module matches
  every definition of that name. Identifier tokens inside string
  literals that are not docstrings count as uses of the definitions of
  the module holding the string, so in-module string dispatch
  (``getattr``, SQL text naming a helper) is followed, while a registry
  key or SQL column elsewhere that shares a name keeps nothing alive.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "yomitoku_spark"
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# Reference-parity features no entry point calls yet: each is the
# reference's own function, pinned by tests against its behaviour. The
# value names the COVERAGE.md §2 row that lists it.
_MD = "COVERAGE §2.1 sink: Markdown"
_HTML = "COVERAGE §2.1 sink: HTML"
_PDF = "COVERAGE §2.1 sink: searchable PDF"
_RUBY = "COVERAGE §2.2 ruby filter (log-histogram valley + MAD)"
_QUAD = "COVERAGE §2.7 quad→bbox, norms, log-histogram, quad validation"
_SINKS = "COVERAGE §2.4 semantic file sinks"
ALLOWED = {
    # reference export function-level parity (export vectors)
    "plans.export.table_cells_md": _MD,
    "plans.export.paragraph_md": _MD,
    "plans.export.md_escape": _MD,
    "plans.export._block_body": _MD,
    "plans.export.table_cells_html": _HTML,
    "plans.export.paragraph_html": _HTML,
    # the searchable-PDF text layer and its hand-rolled writer
    "plans.searchable_pdf.text_layer": _PDF,
    "plans.searchable_pdf.fitted_font_centi": _PDF,
    "plans.searchable_pdf.to_full_width": _PDF,
    "plans.searchable_pdf.write_text_layer": _PDF,
    "plans.searchable_pdf.render_pdf": _PDF,
    "plans.pdf_writer.render_searchable_pdf": _PDF,
    "plans.pdf_writer.build_pdf": _PDF,
    "plans.pdf_writer.PdfBuilder": _PDF,
    "plans.pdf_writer._word_ops": _PDF,
    "plans.pdf_writer._num": _PDF,
    "plans.pdf_writer._hex16": _PDF,
    # general-quad geometry (the reference's analyzer vectors)
    "operators.spatial.quad_is_noise": "COVERAGE §2.2 is_noise small-box filter",
    "operators.spatial.quad_is_vertical": "COVERAGE §2.2 is_vertical aspect + page-direction test",
    "operators.spatial._edge_sq": "COVERAGE §2.2 is_noise small-box filter",
    "operators.spatial.quad_to_xyxy": _QUAD,
    "operators.spatial.quad_valid": _QUAD,
    # ruby (furigana) size filter
    "operators.sizefilter.valley_threshold_numpy": _RUBY,
    "operators.sizefilter.mad_outliers": _RUBY,
    "operators.sizefilter.ruby_filter_blocks": _RUBY,
    # the reference's semantic file sinks and their per-document helpers
    "semantic.semantic_to_json": _SINKS,
    "semantic.kv_items_to_json": _SINKS,
    "semantic.grids_to_json": _SINKS,
    "semantic.grids_to_csv": _SINKS,
    "semantic._dump_json": _SINKS,
    "semantic._per_doc": _SINKS,
    "semantic._kv_dict_by_doc": _SINKS,
    "semantic._grids_list_by_doc": _SINKS,
    "semantic.filter_grid_columns": "COVERAGE §2.4 grid column filter by header query",
    "semantic.template_to_json": "COVERAGE §2.9 template override (apply saved template)",
    "semantic.template_from_json": "COVERAGE §2.9 template override (apply saved template)",
    # the reference's grid parser headers/data view (dag mode)
    "operators.grid_dag.dag_headers_and_data": "COVERAGE §2.3 DAG grid unit expansion",
    # the reference's OpenAI-compatible client boundary
    "extractor_llm.OpenAICompatClient": "COVERAGE §2.9 LLM-assisted extraction",
    # pipe-table → row records
    "extractor.table_cells": "COVERAGE §2.7 table→dict w/ headers",
}


def _modname(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    def __init__(self, path: Path, name: str):
        self.name = name
        self.is_pkg = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(encoding="utf-8"))
        self.docs = set()
        self.imports = {}  # local name -> (module, attribute or None)
        for node in ast.walk(self.tree):
            if isinstance(node, (ast.Module, *DEFS)):
                first = node.body[0] if node.body else None
                if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) \
                        and isinstance(first.value.value, str):
                    self.docs.add(id(first.value))
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.imports[a.asname] = (a.name, None)
                    else:
                        self.imports[a.name.split(".")[0]] = (a.name.split(".")[0], None)
            elif isinstance(node, ast.ImportFrom):
                for a in node.names:
                    self.imports[a.asname or a.name] = (self.source(node), a.name)
        self.defs = {n.name: n for n in self.tree.body if isinstance(n, DEFS)}

    def source(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module
        pkg = self.name.split(".")[: None if self.is_pkg else -1]
        pkg = pkg[: len(pkg) - node.level + 1]
        return ".".join(pkg + ([node.module] if node.module else []))


def scan() -> tuple[set[str], set[str]]:
    """(every library definition, the ones a root reaches), as
    ``module.name`` without the package prefix."""
    lib = {}
    for p in sorted((ROOT / PKG).rglob("*.py")):
        lib[_modname(p)] = _Module(p, _modname(p))
    by_name: dict[str, set] = {}
    for m in lib.values():
        for n in m.defs:
            by_name.setdefault(n, set()).add((m.name, n))

    def resolve(mod: str, attr: str, depth: int = 0) -> set:
        m = lib.get(mod)
        if m is None or depth > 8:
            return set()
        if attr in m.defs:
            return {(mod, attr)}
        base, a = m.imports.get(attr, (None, None))
        return resolve(base, a, depth + 1) if a else set()

    def refs(m: _Module, node: ast.AST) -> set:
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                if n.id in m.defs and m.name in lib:
                    out.add((m.name, n.id))
                elif n.id in m.imports:
                    out |= resolve(*m.imports[n.id])
            elif isinstance(n, ast.ImportFrom):
                for a in n.names:
                    out |= resolve(m.source(n), a.name)
            elif isinstance(n, ast.Attribute):
                chain, cur = [], n
                while isinstance(cur, ast.Attribute):
                    chain.append(cur.attr)
                    cur = cur.value
                if isinstance(cur, ast.Name) and cur.id in m.imports:
                    base, a = m.imports[cur.id]
                    target = f"{base}.{a}" if a else base
                    if target.split(".")[0] != PKG:
                        continue  # np.dot, F.col: not ours
                    for at in reversed(chain):  # descend through submodules
                        if f"{target}.{at}" not in lib:
                            out |= resolve(target, at)
                            break
                        target = f"{target}.{at}"
                    continue
                out |= by_name.get(n.attr, set())
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                    and id(n) not in m.docs and m.name in lib:
                out |= {(m.name, tok) for tok in IDENT.findall(n.value) if tok in m.defs}
        return out

    edges, roots = {}, set()
    for m in lib.values():
        for name, node in m.defs.items():
            edges[(m.name, name)] = refs(m, node)
            if any(isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
                   and d.func.id in m.defs for d in getattr(node, "decorator_list", ())):
                roots.add((m.name, name))
        for stmt in m.tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom, *DEFS)):
                continue
            if isinstance(stmt, ast.Expr) and id(stmt.value) in m.docs:
                continue
            roots |= refs(m, stmt)
    scripts = [p for d in ("tools", "jobs", "perfbench") for p in (ROOT / d).rglob("*.py")
               if "tests" not in p.relative_to(ROOT).parts]
    for p in scripts + sorted(ROOT.glob("bench*.py")) + [ROOT / "__spark_entry__.py"]:
        m = _Module(p, "__root__")
        roots |= refs(m, m.tree)

    reached, stack = set(), list(roots)
    while stack:
        d = stack.pop()
        if d not in reached and d in edges:
            reached.add(d)
            stack.extend(edges[d])
    strip = len(PKG) + 1
    return ({f"{mod[strip:]}.{n}" for mod, n in edges},
            {f"{mod[strip:]}.{n}" for mod, n in reached})


_DEFS, _REACHED = scan()


def test_every_definition_is_reached_or_allowed():
    test_only = sorted(_DEFS - _REACHED - ALLOWED.keys())
    assert not test_only, (
        "reached only from tests; move each referee into its test file, "
        f"or delete it: {test_only}"
    )


def test_allow_list_is_not_stale():
    missing = sorted(ALLOWED.keys() - _DEFS)
    assert not missing, f"allow-listed but not defined: {missing}"
    reached = sorted(ALLOWED.keys() & _REACHED)
    assert not reached, f"allow-listed but reached from a root, drop the entry: {reached}"


def test_allow_list_names_coverage_rows():
    coverage = (ROOT / "COVERAGE.md").read_text(encoding="utf-8")
    sections = dict(re.findall(r"^## (§2\.\d)[^\n]*\n(.*?)(?=^## |\Z)", coverage, re.M | re.S))
    for name, ref in ALLOWED.items():
        m = re.fullmatch(r"COVERAGE (§2\.[1-79]) (.+)", ref)
        assert m, f"{name}: {ref!r} does not name a COVERAGE §2.1-2.7/§2.9 row"
        section, row = m.groups()
        assert f"\n| {row}" in "\n" + sections.get(section, ""), \
            f"{name}: no row {row!r} in COVERAGE {section}"
