"""``session.local_frame``: driver rows → a DataFrame decoded in the JVM,
and the guard that keeps list-built frames off the KG path."""

from __future__ import annotations

import ast
import os
from collections import Counter

import pytest

from conftest import MINI_OBO, perfbench_obo_paths
from kgpipe import schemas
from kgpipe.session import local_frame

KG_MODULES = ("detect", "canon", "lineage", "pipeline", "fused", "disambig",
              "triples")


def _python_rdd(df) -> bool:
    """True when evaluating *df* unpickles rows in Python workers."""
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def _dictionary_row(**overrides):
    row = {"ontology": "CL", "concept_id": "CL:1", "canonical": "neuron",
           "variant": "nerve cell", "is_official": False,
           "variant_norm": "nerve cell"}
    row.update(overrides)
    return row


def test_local_frame_schema_and_empty(spark):
    for schema in (schemas.DICTIONARY, schemas.LINEAGE):
        df = local_frame(spark, [], schema)
        # select("*") re-derives the schema in the JVM, nullability included
        assert df.select("*").schema == schema
        assert df.count() == 0
    df = local_frame(spark, [_dictionary_row()], schemas.DICTIONARY)
    assert df.select("*").schema == schemas.DICTIONARY
    assert [r.asDict() for r in df.collect()] == [_dictionary_row()]
    tuples = local_frame(spark, [tuple(_dictionary_row().values())],
                         schemas.DICTIONARY)
    assert tuples.collect() == df.collect()


def test_local_frame_rows_equal_list_frame(spark, tmp_path):
    """Same rows as ``createDataFrame(list)`` on the mini fixture and on the
    benchmark generator's ontologies, and no Python worker behind it
    (the list-built frame has one)."""
    from kgpipe.detect import build_dictionary_df, collect_dictionary

    cases = [{"CL": MINI_OBO}]
    cases += [perfbench_obo_paths(tmp_path, seed) for seed in (1, 2)]
    for obo_paths in cases:
        ddf = build_dictionary_df(spark, obo_paths)
        rows = collect_dictionary(ddf)
        listed = spark.createDataFrame(rows, schema=schemas.DICTIONARY)
        got = Counter(tuple(r) for r in ddf.collect())
        assert got == Counter(tuple(r) for r in listed.collect())
        assert sum(got.values()) == len(rows) > 0
        assert not _python_rdd(ddf)
        assert _python_rdd(listed)


def test_local_frame_names_bad_field(spark):
    with pytest.raises(ValueError, match="'ontology'"):
        local_frame(spark, [_dictionary_row(ontology=None)], schemas.DICTIONARY)
    with pytest.raises((TypeError, ValueError), match="'is_official'"):
        local_frame(spark, [_dictionary_row(is_official="x")],
                    schemas.DICTIONARY)
    with pytest.raises(TypeError, match="'variant'"):
        local_frame(spark, [_dictionary_row(variant=3)], schemas.DICTIONARY)


def test_component_frames_skip_python_workers(spark, monkeypatch):
    """The component-map frames canonicalize builds are JVM-decoded, on the
    driver-rows path and on the edge-collect path."""
    from kgpipe import canon
    from kgpipe.detect import build_dictionary_df

    built = []

    def recording(*args):
        built.append(local_frame(*args))
        return built[-1]

    monkeypatch.setattr(canon, "local_frame", recording)
    ddf = build_dictionary_df(spark, {"SYN": MINI_OBO})
    mentions = ddf.select("concept_id").distinct()
    for dictionary in (ddf, ddf.select("*")):
        canon.canonicalize(mentions, dictionary)
    canon.canonicalize_with_map(mentions, {"SYN:0000002": "SYN:0000001"})
    assert len(built) == 3
    assert built[0].count() > 0  # mini.obo has one shared-synonym merge
    assert not any(_python_rdd(f) for f in built)


def _create_dataframe_calls(tree: ast.AST, inside: str | None = None):
    """(line, enclosing function) of every ``.createDataFrame`` attribute."""
    for node in ast.iter_child_nodes(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _create_dataframe_calls(node, node.name)
            continue
        if isinstance(node, ast.Attribute) and node.attr == "createDataFrame":
            yield node.lineno, inside
        yield from _create_dataframe_calls(node, inside)


def test_kg_path_builds_no_list_frames():
    """No KG-path module calls ``createDataFrame`` except through
    ``local_frame``: a frame built from a Python list runs Python workers
    on every evaluation."""
    import kgpipe

    root = os.path.dirname(os.path.abspath(kgpipe.__file__))
    offenders = []
    for mod in KG_MODULES:
        path = os.path.join(root, f"{mod}.py")
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        offenders += [f"{mod}.py:{line}" for line, fn in
                      _create_dataframe_calls(tree) if fn != "local_frame"]
    assert offenders == []
    # the scan itself finds calls, including ones nested in functions
    probe = ast.parse("def f():\n    return s.createDataFrame([], 'a int')\n")
    assert list(_create_dataframe_calls(probe)) == [(2, "f")]
