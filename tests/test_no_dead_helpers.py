"""Every top-level function of the package is used by the program itself,
and every column-name option of the package is set by some caller.

A helper that only tests call is dead weight: it is kept working, documented
and reviewed, yet no query, job or benchmark runs it.  The first guard
parses the program's own sources (the package, ``__spark_entry__.py``, the
bench and job scripts, ``tools/`` and ``perfbench/``) and counts each
top-level ``def`` name's code references: names, attribute accesses,
imports, and string entries of an ``__all__`` list.  References inside the
function's own body do not count, and neither do mentions in docstrings,
comments or message strings.  A ``def`` two modules share is alive when
either name is referenced.

A column-name parameter with a default (a name ending in ``_col`` or
``_cols``, and ``asof_join``'s output ``prefix``) that no call in the
program or the tests sets is an option every run leaves at its default:
the second guard reports each one, so the default is written where the
column is read instead.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_DIRS = ("html2text_spark", "tools", "perfbench")
PROGRAM_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py", "run_job.py")


def _trees(root: str, dirs) -> dict:
    """path -> parsed module for the program files and ``dirs``."""
    paths = [os.path.join(root, f) for f in PROGRAM_FILES]
    for top in dirs:
        for d, _dirs, files in os.walk(os.path.join(root, top)):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    out = {}
    for p in paths:
        if os.path.exists(p):
            with open(p, encoding="utf-8") as f:
                out[p] = ast.parse(f.read())
    return out


def _in_package(root: str, path: str) -> bool:
    return path.startswith(os.path.join(root, "html2text_spark") + os.sep)


def _code_refs(node) -> list:
    """Every name ``node`` refers to in code: loaded or stored names,
    attribute names, imported names, and ``__all__`` string entries."""
    refs = []
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            refs.append(n.id)
        elif isinstance(n, ast.Attribute):
            refs.append(n.attr)
        elif isinstance(n, ast.alias):
            refs.append(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            refs += [
                e.value
                for e in ast.walk(n.value)
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            ]
    return refs


def unreferenced_defs(root: str = ROOT) -> list:
    trees = _trees(root, PROGRAM_DIRS)
    total = {}
    for tree in trees.values():
        for name in _code_refs(tree):
            total[name] = total.get(name, 0) + 1
    dead = []
    for path, tree in sorted(trees.items()):
        if not _in_package(root, path):
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            own = _code_refs(node).count(node.name)
            if total.get(node.name, 0) - own <= 0:
                dead.append(f"{os.path.relpath(path, root)}:{node.name}")
    return dead


def _column_params(node) -> list:
    """(name, positional index or None) of each defaulted column-name
    parameter of ``node``; the index counts from the first argument a
    caller passes (``self``/``cls`` skipped)."""
    a = node.args
    pos = a.posonlyargs + a.args
    skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
    cands = [
        (p.arg, i - skip)
        for i, p in enumerate(pos)
        if i >= len(pos) - len(a.defaults)
    ]
    cands += [
        (p.arg, None)
        for p, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return [
        (name, i)
        for name, i in cands
        if name.endswith(("_col", "_cols"))
        or (node.name == "asof_join" and name == "prefix")
    ]


def unset_column_params(root: str = ROOT) -> list:
    trees = _trees(root, PROGRAM_DIRS + ("tests",))
    calls = {}
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name:
                    calls.setdefault(name, []).append(n)

    def sets(call, param, index) -> bool:
        if any(k.arg in (param, None) for k in call.keywords):
            return True  # by keyword, or possibly through **kwargs
        if any(isinstance(x, ast.Starred) for x in call.args):
            return True
        return index is not None and len(call.args) > index

    unset = []
    for path, tree in sorted(trees.items()):
        if not _in_package(root, path):
            continue
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for param, index in _column_params(node):
                if not any(
                    sets(c, param, index) for c in calls.get(node.name, ())
                ):
                    rel = os.path.relpath(path, root)
                    unset.append(f"{rel}:{node.name}({param})")
    return unset


def test_every_package_function_is_used_by_the_program():
    assert unreferenced_defs() == []


def test_every_column_parameter_is_set_by_a_caller():
    assert unset_column_params() == []
