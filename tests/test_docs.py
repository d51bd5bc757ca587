"""The hand-written docs name only files and functions that exist.

Every backticked repo path (``*.py``, ``*.md``, ``*.json``) must be a
tracked file, and every ``path.py::name`` (or ``path.py:name``) must
name a top-level ``def`` or ``class`` in that file. A bare or
package-relative path (``session.py``, ``operators/ranking.py``)
resolves to the tracked file it ends. Paths inside a
``git show <rev>:<path>`` pointer name history, not the tree, and are
exempt. Pure Python: starts no Spark.
"""

from __future__ import annotations

import ast
import re
import subprocess
from functools import lru_cache
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
DOCS = [
    "README.md",
    "DEVNOTES.md",
    "COVERAGE.md",
    "SCALE.md",
    "MIGRATION.md",
    ".claude/skills/verify/SKILL.md",
]

_FENCE = re.compile(r"```.*?```", re.S)
_SPAN = re.compile(r"`([^`]+)`")
_GIT_SHOW = re.compile(r"git show \S+")
_PATH = re.compile(r"[\w./-]+\.(?:py|md|json)\b")
_DEF_REF = re.compile(r"([\w./-]+\.py)::?([A-Za-z_]\w*)")


@lru_cache(maxsize=None)
def _tracked() -> frozenset[str]:
    out = subprocess.run(
        ["git", "ls-files"], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout
    return frozenset(out.splitlines())


def _resolve(path: str) -> list[str]:
    return [t for t in _tracked() if t == path or t.endswith("/" + path)]


@lru_cache(maxsize=None)
def _top_level_names(path: str) -> frozenset[str]:
    tree = ast.parse((ROOT / path).read_text(encoding="utf-8"))
    return frozenset(
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef))
    )


def _spans(doc: str) -> list[str]:
    text = _FENCE.sub("", (ROOT / doc).read_text(encoding="utf-8"))
    return [_GIT_SHOW.sub("", s) for s in _SPAN.findall(text)]


@pytest.mark.parametrize("doc", DOCS)
def test_doc_references_resolve(doc):
    missing = []
    for span in _spans(doc):
        for path in _PATH.findall(span):
            if not _resolve(path):
                missing.append(f"`{span}`: no tracked file {path}")
        for path, name in _DEF_REF.findall(span):
            files = _resolve(path)
            if files and not any(name in _top_level_names(f) for f in files):
                missing.append(f"`{span}`: no top-level {name} in {path}")
    assert not missing, f"{doc} names what does not exist:\n" + "\n".join(missing)
