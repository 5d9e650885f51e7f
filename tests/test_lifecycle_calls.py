"""Lifecycle guard: every cache and every session memo is declared.

A raw `.persist(...)`, `.cache()` or `.localCheckpoint(...)` keeps its
blocks until something releases them, and a `catalog.session_memo`
keeps its values for the session's life, so a timed pass can reuse work
that an earlier pass paid for. Tracked persists and checkpoints live in
`persistence.py`, which releases them per query; the only other raw
persists are the two session memos that own their blocks
(`fixtures.reference_table`, `graph.copurchase_edges`). The memo kinds
are the five in `_MEMO_KINDS`. Any other call site fails this test, and
so does an allowlist entry that no call uses any more.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "mini_hive_server_spark"

# a module name allows every call in it; `module::function` allows the
# calls inside that function only
_PERSIST_SITES = {
    "persistence.py",
    "fixtures.py::reference_table",
    "operators/graph.py::copurchase_edges",
}
_MEMO_KINDS = {"tables", "scan_partitions", "reference_tables", "copurchase_edges", "routes"}


def _calls(node: ast.AST, site: str):
    """(site, call) for each call under `node`; the site is
    `module::function` of the innermost enclosing def."""
    for child in ast.iter_child_nodes(node):
        inner = site
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inner = f"{site.split('::')[0]}::{child.name}"
        if isinstance(child, ast.Call):
            yield inner, child
        yield from _calls(child, inner)


def _package_calls():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield from _calls(ast.parse(path.read_text(), str(path)), path.relative_to(PACKAGE).as_posix())


def _name(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else f.id if isinstance(f, ast.Name) else None


def _declared(site: str) -> str | None:
    """The _PERSIST_SITES entry that allows calls at `site`, if any."""
    return next((d for d in (site, site.split("::")[0]) if d in _PERSIST_SITES), None)


def test_raw_persists_only_at_declared_sites():
    sites = [
        (site, call.lineno)
        for site, call in _package_calls()
        if isinstance(call.func, ast.Attribute)
        and (_name(call) in ("persist", "localCheckpoint") or (_name(call) == "cache" and not call.args))
    ]
    assert [s for s in sites if _declared(s[0]) is None] == [], "raw persist outside the declared sites"
    assert {_declared(s) for s, _ in sites} == _PERSIST_SITES, "stale allowlist entry"


def test_session_memo_kinds_are_declared():
    kinds = [
        (site, call.lineno, arg.value if isinstance(arg, ast.Constant) else None)
        for site, call in _package_calls()
        if _name(call) in ("session_memo", "session_memos")
        for arg in call.args[-1:]
    ]
    assert [k for k in kinds if k[2] not in _MEMO_KINDS] == [], "undeclared memo kind"
    assert {k for _, _, k in kinds} == _MEMO_KINDS, "stale allowlist entry"
