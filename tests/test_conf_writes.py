"""Conf-write guard: no query writes its caller's session conf.

The driver, the HTTP facade and Thrift each hand the engine a session
they reuse, so a conf a query sets leaks into every later caller. Every
`.conf.set(...)` / `.conf.unset(...)` call and every SQL `SET` statement
in `mini_hive_server_spark/` fails this test, except the legacy ns
fixture read (`spark.sql.legacy.parquet.nanosAsLong` in
`catalog.events_ts_micros`), which no per-read option replaces. A query
that needs another conf runs in a clone of its caller's session
(`catalog.session_with`). The session builders' `.config(...)` calls
build a session and are not conf writes.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "mini_hive_server_spark"

_ALLOWED = {("catalog.py", "spark.sql.legacy.parquet.nanosAsLong")}


def _first_str(node: ast.Call) -> str | None:
    arg = node.args[0] if node.args else None
    return arg.value if isinstance(arg, ast.Constant) and isinstance(arg.value, str) else None


def _conf_writes():
    """(module, line, key or statement) of each conf write in the package."""
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            owner, attr = node.func.value, node.func.attr
            on_conf = isinstance(owner, ast.Attribute) and owner.attr == "conf"
            sql_set = attr == "sql" and (_first_str(node) or "").lstrip().upper().startswith("SET ")
            if (on_conf and attr in ("set", "unset")) or sql_set:
                yield path.relative_to(PACKAGE).as_posix(), node.lineno, _first_str(node)


def test_no_query_writes_its_callers_session_conf():
    writes = list(_conf_writes())
    offenders = [w for w in writes if (w[0], w[2]) not in _ALLOWED]
    assert not offenders, f"conf writes outside catalog.session_with: {offenders}"
    assert {(m, k) for m, _, k in writes} == _ALLOWED, "stale allowlist entry"
