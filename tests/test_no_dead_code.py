"""No zero-caller helpers in the package (ROADMAP aim 2).

Every top-level ``def``/``class`` in ``bravewebcrawler_spark`` must be named
somewhere else: in another ``.py`` file of the repo (tests, tools, the entry
module, the benchmark), or in its own file outside its own definition. A
text match on word boundaries is enough, so string references such as
``tracer.wrap(mod, "run_round")`` count. Hidden directories are skipped:
``.git`` and the files the benchmark writes under ``perfbench/.work/``.
"""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "bravewebcrawler_spark")


def _py_files() -> list[str]:
    out = []
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith(".")]
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return out


def unreferenced_names() -> list[str]:
    sources = {p: Path(p).read_text(encoding="utf-8") for p in _py_files()}
    dead = []
    for path, src in sources.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        lines = src.splitlines(keepends=True)
        for node in ast.parse(src).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            start = (node.decorator_list[0] if node.decorator_list else node).lineno
            rest = "".join(lines[: start - 1] + lines[node.end_lineno :])
            if word.search(rest) or any(word.search(s) for p, s in sources.items() if p != path):
                continue
            dead.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {node.name}")
    return dead


def test_every_package_definition_is_referenced():
    dead = unreferenced_names()
    assert not dead, "zero-reference definitions (delete them or call them):\n" + "\n".join(dead)
