"""No top-level function or class in the package is dead code.

Every top-level ``def``/``class`` name in ``gather_datawarehouse_sync_spark``
must appear somewhere outside its own definition: in the package, the
tests, the tools, the workflow benchmark, ``bench.py`` or
``__spark_entry__.py``.  A name referenced nowhere else is code nobody
runs — delete it rather than keep it.  The scan is textual (whole-word matches), so
``__all__`` strings, registry names and lazy imports all count as uses.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PACKAGE = os.path.join(_REPO, "gather_datawarehouse_sync_spark")
_SEARCHED = ("gather_datawarehouse_sync_spark", "tests", "tools", "perfbench")
_SEARCHED_FILES = ("bench.py", "__spark_entry__.py")


def _py_files() -> list[str]:
    out = [os.path.join(_REPO, f) for f in _SEARCHED_FILES]
    for d in _SEARCHED:
        for root, _dirs, files in os.walk(os.path.join(_REPO, d)):
            out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return out


def _words(text: str) -> Counter:
    return Counter(re.findall(r"\w+", text))


def test_every_top_level_name_is_referenced_outside_its_definition():
    sources = {path: open(path, encoding="utf-8").read() for path in _py_files()}
    uses = sum((_words(src) for src in sources.values()), Counter())
    unreferenced = []
    for path, src in sources.items():
        if not path.startswith(_PACKAGE + os.sep):
            continue
        lines = src.splitlines()
        for node in ast.parse(src).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            # the definition's own lines (decorators included) do not count
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = _words("\n".join(lines[first - 1 : node.end_lineno]))
            if uses[node.name] == own[node.name]:
                rel = os.path.relpath(path, _REPO)
                unreferenced.append(f"{rel}:{node.lineno} {node.name}")
    assert not unreferenced, unreferenced


def test_oracle_tokenizer_pattern_is_spelled_once():
    """The oracle tokenizer's split pattern is one string constant in
    the package (``functions.text.ascii_tokens``): every other consumer
    calls that function, so the cross-engine tokenization contract has
    one definition.  SQL oracle strings carry the pattern inside longer
    literals and do not count."""
    sites = []
    for path in _py_files():
        if not path.startswith(_PACKAGE + os.sep):
            continue
        tree = ast.parse(open(path, encoding="utf-8").read())
        sites += [
            f"{os.path.relpath(path, _REPO)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant) and node.value == "[^a-z0-9]+"
        ]
    assert len(sites) == 1, sites
