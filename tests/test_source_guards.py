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


def _plans_imports(path):
    """(line, module) of every import of the query corpus in a file,
    at module level or inside a function."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            mods = [node.module] + [
                f"{node.module}.{a.name}" for a in node.names
            ]
        elif isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        else:
            continue
        for mod in mods:
            if mod == "martech_pipelines_spark.plans" or mod.startswith(
                "martech_pipelines_spark.plans."
            ):
                found.append((node.lineno, mod))
                break
    return found


def test_library_never_imports_the_query_corpus():
    # Library code (operators/, streaming/, ...) must not depend on the
    # query corpus: each incremental capability's state/merge/readout
    # lives in operators/ and the corpus imports it, never the reverse.
    pkg = os.path.join(REPO, "martech_pipelines_spark")
    bad = {}
    for root, _, files in os.walk(pkg):
        if os.path.relpath(root, pkg).split(os.sep)[0] == "plans":
            continue
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                hits = _plans_imports(path)
                if hits:
                    bad[os.path.relpath(path, REPO)] = hits
    assert not bad, bad


# Every list of query names the tools and the bench keep: (file, variable).
# A dict contributes its keys; a tuple element or key contributes its
# first item (the query name).
_NAME_LISTS = (
    ("bench.py", "HEADLINE"),
    ("tools/bench_sf1.py", "HEAVY"),
    ("tools/bench_sf1.py", "RECALL_QUERIES"),
    ("tools/dump_plans.py", "SHOWCASE"),
    ("tools/audit_rounding.py", "EXACT_INPUT"),
    ("martech_pipelines_spark/plans/__init__.py", "_WINDOW_PRIORITY"),
)


def _listed_names(path, var):
    with open(os.path.join(REPO, path), encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    for node in tree.body:
        target = node.targets[0] if isinstance(node, ast.Assign) else getattr(
            node, "target", None
        )
        if isinstance(target, ast.Name) and target.id == var:
            if isinstance(node.value, ast.Dict):
                items = [ast.literal_eval(k) for k in node.value.keys]
            else:
                items = ast.literal_eval(node.value)
            return [i[0] if isinstance(i, tuple) else i for i in items]
    raise AssertionError(f"{path} has no module-level {var}")


def test_every_listed_query_name_is_registered():
    # A name left behind in a tool list after its query is deleted makes
    # that tool fail (or silently skip) only when someone runs it.
    from martech_pipelines_spark.plans import QUERIES

    dangling = {
        f"{path}:{var}": missing
        for path, var in _NAME_LISTS
        if (missing := sorted(set(_listed_names(path, var)) - set(QUERIES)))
    }
    assert not dangling, dangling
