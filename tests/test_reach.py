"""Reachability lint: every top-level function or class in the package is
reached, or it is a declared capability in KEPT with its reason.

Reached means named — as an `ast.Name`, an `ast.Attribute` or an import
alias, so a docstring mention does not count — from a root, or from the
body of a reached definition. The roots are every module-level statement
of the package other than a plain def/class or an import (so every
`@register(...)` query fn, its oracle and the `register_checksum`
calls), and every module of perfbench/, tools/, bench.py and
__spark_entry__.py. A package module-level import is not a root: a name
that is only imported or re-exported is not reached. Its `as` alias maps
back to the imported name, so a reached use of the alias reaches the
definition. Tests are not roots: a second implementation that only its
own unit test calls is what this lint exists to find.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "rag_pipelines_spark"
ENTRY_POINTS = [
    *sorted((ROOT / "perfbench").rglob("*.py")),
    *sorted((ROOT / "tools").rglob("*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]

# Declared capabilities that only their own tests reach. Their callees
# count as reached. An entry that becomes reached, or whose definition is
# deleted, fails the lint, so this list can only shrink.
KEPT = {
    "scd2_merge": "SURVEY §2.11 warehouse family: the batch-sized "
    "incremental form of scd2_from_events",
    "write_zordered": "SURVEY §2.11 z-order layout: the Morton-key "
    "writer behind multi-column file skipping",
    "compact_ann_postings": "cell-clustered rewrite of the accreted ANN "
    "postings state",
    "compact_neardup_state": "bounded rewrite of the accreted near-dup "
    "key state",
    "pdf_enrich_pipeline": "SURVEY §3.3 PDF chain: PubMed metadata "
    "attach + verify with the S13 dead-letter split",
    "publish_projection": "P1/P3: final RAG-record projection with "
    "defaults",
    "retrying_transport": "T4: fetch retry with exponential backoff",
    "split_on_expectations": "S13: quarantine routing of rows that "
    "fail an expectation",
    "pil_resizer": "real image decode+resize where Pillow is installed",
    "stdlib_png_resizer": "real PNG decode+resize with no dependencies",
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _is_register(dec: ast.AST) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return getattr(f, "id", getattr(f, "attr", None)) == "register"


def _scan():
    """(defs: name -> [(module, node)], root names, alias -> imported
    names of the package's module-level imports)."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    aliases: dict[str, set[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = str(path.relative_to(PKG))
        for node in ast.parse(path.read_text()).body:
            plain_def = isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not any(_is_register(d) for d in node.decorator_list)
            if plain_def:
                defs.setdefault(node.name, []).append((mod, node))
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    if a.asname:
                        aliases.setdefault(a.asname, set()).add(
                            a.name.rsplit(".", 1)[-1]
                        )
            else:
                roots |= _names(node)
    for path in ENTRY_POINTS:
        roots |= _names(ast.parse(path.read_text()))
    return defs, roots, aliases


def _closure(defs, aliases, start: set[str]) -> set[str]:
    reached, todo = set(), list(start)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        todo.extend(aliases.get(name, ()))
        for _, node in defs.get(name, []):
            todo.extend(_names(node) - reached)
    return reached


def test_kept_stays_small():
    assert len(KEPT) <= 10, (
        f"KEPT has {len(KEPT)} entries; a declared capability that no "
        "query, pipeline or tool reaches is deleted, not kept"
    )


def test_every_package_definition_is_reached_or_kept():
    defs, roots, aliases = _scan()
    reached = _closure(defs, aliases, roots)
    kept_reach = _closure(defs, aliases, roots | set(KEPT))
    unreached = sorted(
        f"{mod}::{name}"
        for name, locs in defs.items()
        if name not in kept_reach
        for mod, _ in locs
    )
    assert not unreached, (
        "unreached package definitions (delete them, or add each to KEPT "
        f"with its reason): {unreached}"
    )
    stale = sorted(n for n in KEPT if n not in defs or n in reached)
    assert not stale, (
        f"KEPT entries that are now reached or no longer exist: {stale}"
    )
