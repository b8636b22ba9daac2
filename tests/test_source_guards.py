"""Static guards over the source tree (pure AST, no Spark)."""

from __future__ import annotations

import ast
import collections
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_no_module_level_name_defined_twice():
    # A second module-level def/class silently shadows the first: the
    # first body never runs and, for tests, is never collected.
    dupes = {}
    for top in ("martech_pipelines_spark", "tools", "tests"):
        for root, _, files in os.walk(os.path.join(REPO, top)):
            for name in files:
                if not name.endswith(".py"):
                    continue
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read(), path)
                counts = collections.Counter(
                    node.name
                    for node in tree.body
                    if isinstance(
                        node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                    )
                )
                shadowed = sorted(n for n, c in counts.items() if c > 1)
                if shadowed:
                    dupes[os.path.relpath(path, REPO)] = shadowed
    assert not dupes, dupes
