"""Dead-code guards: every top-level name the package defines is used,
and every defaulted parameter is set by some call.

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


# Defaulted parameters that stay parameters although no call in the
# corpus sets them: each maps to why.
_SETTINGS = {
    ("session.py", "get_spark", "master"): (
        "deployment setting: the cluster URL; local[cores] suits one host only"
    ),
    ("server.py", "serve_fixtures", "warehouse_dir"): (
        "deployment setting: where a served instance keeps its tables"
    ),
    ("server.py", "serve_fixtures", "metastore_dir"): (
        "deployment setting: embedded Derby is single-process, so a second"
        " instance needs its own metastore"
    ),
    ("scans.py", "dynamic_optional_filter", "status"): (
        "the query reproduces the reference endpoint's optional request"
        " parameter, whose absence drops the filter"
    ),
}


def _snippets(tree: ast.AST):
    """Python source held in the string constants (and f-strings, their
    fields read as 0) of `tree`, parsed: the scripts tests run in
    subprocesses call package functions too."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            text = node.value
        elif isinstance(node, ast.JoinedStr):
            text = "".join(
                v.value if isinstance(v, ast.Constant) else "0" for v in node.values
            )
        else:
            continue
        if "(" not in text:
            continue
        try:
            yield ast.parse(text)
        except (SyntaxError, ValueError):
            continue


def _calls(trees):
    """callee name -> [(n positional args, keyword names, star/dstar used)]
    over every call in `trees`. A class's calls count for its __init__."""
    calls: dict[str, list] = {}
    for tree in trees:
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name is None:
                continue
            calls.setdefault(name, []).append(
                (
                    sum(not isinstance(a, ast.Starred) for a in node.args),
                    {k.arg for k in node.keywords if k.arg},
                    any(isinstance(a, ast.Starred) for a in node.args)
                    or any(k.arg is None for k in node.keywords),
                )
            )
    return calls


def _defaulted_params(tree: ast.Module):
    """(function, parameter, call name, position or None if keyword-only)
    of every defaulted parameter of a package function, skipping
    closure-capture defaults (`x=x`) and methods of classes that subclass
    another class (their signature is the base class's contract)."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        owner = parents.get(node)
        in_class = isinstance(owner, ast.ClassDef)
        if in_class and owner.bases:
            continue
        a = node.args
        positional = a.posonlyargs + a.args
        pairs = [
            *zip(positional[len(positional) - len(a.defaults) :], a.defaults),
            *((k, d) for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None),
        ]
        call_name = owner.name if in_class and node.name == "__init__" else node.name
        for arg, default in pairs:
            if isinstance(default, ast.Name) and default.id == arg.arg:
                continue
            pos = positional.index(arg) - in_class if arg in positional else None
            yield node.name, arg.arg, call_name, pos


def test_every_defaulted_parameter_is_set_by_some_call():
    trees = [ast.parse(p.read_text(encoding="utf-8")) for p in _corpus()]
    calls = _calls([*trees, *(s for t in trees for s in _snippets(t))])
    unset, allowed = [], set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for fn, param, call_name, pos in _defaulted_params(tree):
            if any(
                param in kws or star or (pos is not None and n_pos > pos)
                for n_pos, kws, star in calls.get(call_name, [])
            ):
                continue
            key = (path.name, fn, param)
            if key in _SETTINGS:
                allowed.add(key)
            else:
                unset.append(f"{path.relative_to(REPO)} {fn}({param}=...)")
    assert not unset, "defaulted parameters no call sets:\n" + "\n".join(unset)
    stale = set(_SETTINGS) - allowed
    assert not stale, f"_SETTINGS entries that are set by a call or gone: {stale}"
