"""Every top-level function of the package is used by the program itself.

A helper that only tests call is dead weight: it is kept working, documented
and reviewed, yet no query, job or benchmark runs it.  This guard searches
the program's own sources (the package, ``__spark_entry__.py``, the bench
and job scripts, ``tools/`` and ``perfbench/``) for each top-level ``def``
name on a word boundary, less every ``def <name>`` line in those sources; a
name found nowhere but on ``def`` lines is reported, so two same-named
functions in different modules do not keep each other alive.  Mentions
inside strings count, so names exported through ``__all__`` pass.
"""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "html2text_spark")
PROGRAM_DIRS = ("html2text_spark", "tools", "perfbench")
PROGRAM_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py", "run_job.py")


def _program_sources() -> dict:
    paths = [os.path.join(ROOT, f) for f in PROGRAM_FILES]
    for top in PROGRAM_DIRS:
        for d, _dirs, files in os.walk(os.path.join(ROOT, top)):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    out = {}
    for p in paths:
        if os.path.exists(p):
            with open(p, encoding="utf-8") as f:
                out[p] = f.read()
    return out


def unreferenced_defs() -> list:
    sources = _program_sources()
    dead = []
    for path, text in sorted(sources.items()):
        if not path.startswith(PACKAGE + os.sep):
            continue
        for node in ast.parse(text).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            name = re.escape(node.name)
            word = re.compile(r"\b%s\b" % name)
            define = re.compile(r"\bdef\s+%s\b" % name)
            # def lines are the only hits a dead name still has
            uses = sum(
                len(word.findall(t)) - len(define.findall(t))
                for t in sources.values()
            )
            if uses <= 0:
                dead.append(f"{os.path.relpath(path, ROOT)}:{node.name}")
    return dead


def test_every_package_function_is_used_by_the_program():
    assert unreferenced_defs() == []
