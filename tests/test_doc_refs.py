"""Docs cite only what exists.

Every repo path under ``scripts/``, ``perfbench/``, ``tests/`` or
``statschat_ke_spark/`` cited in the living docs (README, COVERAGE, ROADMAP,
the verify skill) or in a module docstring under ``statschat_ke_spark/``
must exist, and every ``tests/x.py::name`` must name a function or class in
that file. History files (BASELINE.md, VERDICT.md, CHANGES.md, BENCH_*.json)
record what once existed and are not checked.
"""

from __future__ import annotations

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = (
    "README.md",
    "COVERAGE.md",
    "ROADMAP.md",
    os.path.join(".claude", "skills", "verify", "SKILL.md"),
)
# a repo-relative path: not the tail of an absolute or longer path
PATH_RE = re.compile(
    r"(?<![\w/.-])((?:scripts|perfbench|tests|statschat_ke_spark)/[\w./*-]*)"
    r"(?:::(\w+))?"
)


def _sources() -> list[tuple[str, str]]:
    out = []
    for rel in DOCS:
        path = os.path.join(REPO, rel)
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                out.append((rel, f.read()))
    pkg = os.path.join(REPO, "statschat_ke_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path, encoding="utf-8") as f:
            doc = ast.get_docstring(ast.parse(f.read()))
        if doc:
            out.append((os.path.relpath(path, REPO), doc))
    return out


def _top_level_names(path: str) -> set[str]:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    return {
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }


def dangling_refs(sources) -> list[str]:
    bad = []
    for where, text in sources:
        for m in PATH_RE.finditer(text):
            ref, name = m.group(1).rstrip("./"), m.group(2)
            full = os.path.join(REPO, ref)
            if "*" in ref:
                ok = bool(glob.glob(full))
            else:
                ok = os.path.exists(full)
            if ok and name:
                ok = ref.endswith(".py") and name in _top_level_names(full)
            if not ok:
                bad.append(f"{where}: {m.group(0)}")
    return bad


def test_doc_refs_resolve():
    sources = _sources()
    assert len(sources) > len(DOCS)  # the docs and some module docstrings
    assert dangling_refs(sources) == []


def test_dangling_refs_are_reported():
    text = (
        "see scripts/no_such_script.py, tests/test_codec.py::no_such_test, "
        "perfbench/*.nope; fine: tests/test_codec.py::test_empty, perfbench/, "
        "statschat_ke_spark/index/build.py:91-99, /tmp/scripts/x.py"
    )
    assert dangling_refs([("doc", text)]) == [
        "doc: scripts/no_such_script.py",
        "doc: tests/test_codec.py::no_such_test",
        "doc: perfbench/*.nope",
    ]
