"""Dead-code guard: every top-level name the package defines is used.

Each top-level `def`, `class` and `NAME =` / `NAME: T =` assignment in
`mini_hive_server_spark/` must occur as a whole word somewhere outside
its own definition's lines: in the package, `bench.py`, `tools_*.py`,
`__spark_entry__.py`, `perfbench/` or `tests/`. Functions decorated with
`@register` are exempt (the registry is their only caller), and so are
dunders. The match is textual, so a name a docstring or a test mentions
counts as used; the guard catches definitions nothing names at all, such
as a constant a rewrite stopped reading.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "mini_hive_server_spark"

# A maximal run of word characters equal to `name` is exactly a `\bname\b`
# match, so counting word tokens counts whole-word occurrences.
_WORD = re.compile(r"\w+")


def _corpus() -> list[Path]:
    files = [
        *PACKAGE.rglob("*.py"),
        *REPO.glob("tools_*.py"),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
        *(REPO / "perfbench").rglob("*.py"),
        *(REPO / "tests").rglob("*.py"),
    ]
    return sorted(p for p in set(files) if p.is_file())


def _is_register(decorator: ast.expr) -> bool:
    target = decorator.func if isinstance(decorator, ast.Call) else decorator
    name = target.attr if isinstance(target, ast.Attribute) else getattr(target, "id", "")
    return name == "register"


def _definitions(tree: ast.Module):
    """(name, first line, last line) of each top-level definition."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if any(_is_register(d) for d in node.decorator_list):
                continue
            first = min([node.lineno, *(d.lineno for d in node.decorator_list)])
            yield node.name, first, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                if isinstance(target, ast.Name):
                    yield target.id, node.lineno, node.end_lineno


def test_every_top_level_name_is_used_outside_its_definition():
    texts = {path: path.read_text(encoding="utf-8") for path in _corpus()}
    everywhere = Counter()
    for text in texts.values():
        everywhere.update(_WORD.findall(text))

    unused = []
    for path in sorted(PACKAGE.rglob("*.py")):
        lines = texts[path].splitlines()
        for name, first, last in _definitions(ast.parse(texts[path])):
            if name.startswith("__") and name.endswith("__"):
                continue
            own = sum(_WORD.findall(line).count(name) for line in lines[first - 1 : last])
            if everywhere[name] - own == 0:
                unused.append(f"{path.relative_to(REPO)}:{first} {name}")
    assert not unused, "defined but never used:\n" + "\n".join(unused)
