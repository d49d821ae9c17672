"""The package holds what the engine runs (ROADMAP aim 2).

A reachability scan over names. Its roots are every statement of every
non-test ``.py`` file outside the package and ``__spark_entry__.py`` (tools,
``bench.py``, ``BENCH/``, ``perfbench/``) plus the module-level statements of
the package and the entry module that are not definitions. Its candidates are
the non-dunder top-level ``def``/``class``/assignments of the package and the
entry module. A candidate is reached when a root or a reached candidate names
it; reached candidates add the names in their own bodies, up to a fixed point.

A name is a ``Name``, an ``Attribute.attr``, an import alias, or a string
constant that is exactly an identifier, so ``tracer.wrap(ckpt, "load_state")``
counts. Docstrings and comments do not; a bare import is not a use. Tests
(``tests/``, ``test_*.py``, ``conftest.py``) and hidden directories are never
roots: a definition only tests reach moves into the tests, is deleted, or is
named on ``ALLOW`` with its reason.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

ALLOW = {
    ("search_candidates", "wikidata_homepage", "shape_candidates"):
        "the reference's S3-S6 discovery; tested against a loopback server, the engine has no network",
    ("facts_per_seed_from_crawl",): "the reference workflow's extraction step",
    ("load_seeds",): "S1+S2 seed-CSV ingestion",
    ("run_stream_to_memory",): "the streaming twin of the batch stream_window_counts registry row",
    ("extract_media_features",):
        "the decode pass; the oracle cannot compare its features, so multimodal_meta checks only the plumbing",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST, docs: set[int]) -> set[str]:
    """Every name ``node`` refers to, leaving out the constants in ``docs``."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docs:
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    """The names a top-level definition binds; [] for any other statement."""
    if isinstance(stmt, _DEFS):
        return [stmt.name]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [getattr(stmt, "target", None)]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)) and all(isinstance(t, ast.Name) for t in targets):
        return [t.id for t in targets]
    return []


def unreferenced_names(root: Path, allow=ALLOW) -> list[str]:
    """``path:line name`` of every candidate under ``root`` no root reaches."""
    reached, candidates = set().union(*allow), []
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if not x.startswith("."))
        for rel in sorted((Path(d) / f).relative_to(root) for f in files if f.endswith(".py")):
            if rel.parts[0] == "tests" or rel.name.startswith("test_") or rel.name == "conftest.py":
                continue
            owned = rel.parts[0] == "bravewebcrawler_spark" or str(rel) == "__spark_entry__.py"
            module = ast.parse((Path(root) / rel).read_text(encoding="utf-8"))
            docs = {id(n.body[0].value) for n in ast.walk(module) if isinstance(n, (ast.Module, *_DEFS))
                    and n.body and isinstance(n.body[0], ast.Expr)}
            for stmt in module.body:
                if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    continue
                names = _defined(stmt) if owned else []
                if not names:
                    reached |= _names(stmt, docs)
                elif not all(n.startswith("__") and n.endswith("__") for n in names):
                    candidates.append((f"{rel}:{stmt.lineno}", names, _names(stmt, docs) - set(names)))
    grew = True
    while grew:  # a reached candidate reaches what its body names
        grew = False
        for _, names, refs in candidates:
            if not reached.isdisjoint(names) and not refs <= reached:
                reached |= refs
                grew = True
    return [f"{where} {' '.join(names)}" for where, names, _ in candidates if reached.isdisjoint(names)]


def test_every_package_definition_is_referenced():
    dead = unreferenced_names(ROOT)
    assert not dead, "definitions only tests reach (move them into tests/, delete them, or name them on ALLOW):\n" + "\n".join(dead)


def test_guard_follows_reachability_not_text(tmp_path):
    """Only a non-test root reaches a definition: a test call, a chain from a
    test-only definition and a docstring mention do not; a string constant
    in a tool does."""
    files = {
        "bravewebcrawler_spark/mod.py": (
            "def used_by_test():\n    return reached_via_test_only()\n\n\n"
            "def reached_via_test_only():\n    return 1\n\n\n"
            "def named_by_tool_string():\n    return 2\n\n\n"
            "def in_docstring_only():\n    return 3\n"
        ),
        "tools/tool.py": (
            '"""in_docstring_only"""\n'
            "from bravewebcrawler_spark import mod\n\n\n"
            'def main():\n    """in_docstring_only"""\n    print(getattr(mod, "named_by_tool_string")())\n'
        ),
        "tests/test_mod.py": "from bravewebcrawler_spark.mod import used_by_test\n\nassert used_by_test()\n",
    }
    for rel, src in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(src)
    found = {line.split()[-1] for line in unreferenced_names(tmp_path, {})}
    assert found == {"used_by_test", "reached_via_test_only", "in_docstring_only"}
