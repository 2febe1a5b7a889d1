"""Static checks of the driver contract file ``__spark_entry__.py`` (no
Spark session): oracle rows match query rows, every ``kgpipe`` import in
the file resolves (including the lazy ones inside query closures, which
otherwise fail only when that row runs), no module-level helper, query
closure or ``queries()`` import is left behind unreferenced, and every row
``bench.py`` times is a query row."""

from __future__ import annotations

import ast
import importlib
import os

import __spark_entry__ as contract

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONTRACT = os.path.join(ROOT, "__spark_entry__.py")
BENCH = os.path.join(ROOT, "bench.py")
ROOTS = ("entry", "queries", "oracle_sql")


def _tree(path: str = CONTRACT) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _loads(node: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(node)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}


def test_every_oracle_row_is_a_query_row():
    assert set(contract.oracle_sql()) - set(contract.queries()) == set()


def test_every_kgpipe_import_resolves():
    missing = []
    for node in ast.walk(_tree()):
        if not (isinstance(node, ast.ImportFrom) and node.module
                and node.module.split(".")[0] == "kgpipe"):
            continue
        try:
            mod = importlib.import_module(node.module)
        except ImportError as exc:
            missing.append(f"line {node.lineno}: {node.module} ({exc})")
            continue
        for alias in node.names:
            if not hasattr(mod, alias.name):
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ImportError:
                    missing.append(
                        f"line {node.lineno}: {node.module}.{alias.name}")
    assert missing == []


def test_every_helper_is_reachable_from_the_contract():
    defs = {}
    for node in _tree().body:
        if isinstance(node, ast.FunctionDef):
            defs[node.name] = node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    defs[t.id] = node
    seen = set(ROOTS)
    todo = list(ROOTS)
    while todo:
        for name in _loads(defs[todo.pop()]) & defs.keys() - seen:
            seen.add(name)
            todo.append(name)
    helpers = {name for name, node in defs.items()
               if isinstance(node, ast.FunctionDef) or name.startswith("_SQL_")}
    assert helpers - seen == set()


def test_every_query_closure_and_import_is_used():
    fn = next(n for n in _tree().body
              if isinstance(n, ast.FunctionDef) and n.name == "queries")
    local = {n.name for n in fn.body if isinstance(n, ast.FunctionDef)}
    for node in fn.body:
        if isinstance(node, ast.ImportFrom):
            local |= {a.asname or a.name for a in node.names}
    assert local - _loads(fn) == set()


def test_every_bench_row_is_a_query_row():
    rows = []
    for node in ast.walk(_tree(BENCH)):
        if (isinstance(node, ast.For) and isinstance(node.iter, ast.List)
                and any(isinstance(n, ast.Subscript)
                        and isinstance(n.value, ast.Name) and n.value.id == "qs"
                        for n in ast.walk(node))):
            rows += [e.value for e in node.iter.elts]
    assert rows
    assert set(rows) - set(contract.queries()) == set()
