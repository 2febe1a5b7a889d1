from __future__ import annotations

from kgpipe.canon import canonicalize, connected_components, synonym_edges


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("z", "z")], "src string, dst string"
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["z"] == "z"


def test_canonicalize_shared_synonym(spark):
    # SYN:0000001 and SYN:0000002 share variant "shared gadget" (mini.obo
    # union-find case) → both canonicalize to SYN:0000001
    d_rows = [
        ("SYN", "SYN:0000001", "alpha widget", "shared gadget", True, "shared gadget"),
        ("SYN", "SYN:0000002", "beta widget", "shared gadget", True, "shared gadget"),
        ("SYN", "SYN:0000002", "beta widget", "beta widget", True, "beta widget"),
        ("CL", "CL:0000540", "neuron", "neuron", True, "neuron"),
    ]
    dictionary = spark.createDataFrame(
        d_rows,
        "ontology string, concept_id string, canonical string, variant string,"
        " is_official boolean, variant_norm string",
    )
    m_rows = [
        ("c1", 0, "SYN", "SYN:0000002", 0, 4, "beta widget", None),
        ("c1", 1, "CL", "CL:0000540", 0, 6, "neuron", None),
    ]
    mentions = spark.createDataFrame(
        m_rows,
        "conv_id string, turn_idx int, ontology string, concept_id string,"
        " begin int, end int, covered_text string, error string",
    )
    out = {(r.concept_id, r.canonical_id) for r in
           canonicalize(mentions, dictionary).collect()}
    assert ("SYN:0000002", "SYN:0000001") in out
    assert ("CL:0000540", "CL:0000540") in out  # unmerged id maps to itself


def test_canonicalize_driver_edge_bound(spark, monkeypatch):
    """canonicalize(driver_side=True) refuses corpus-sized edge lists (the
    driver-side contract is ontology-sized); driver_side=False handles the
    same edges through distributed connected_components."""
    import pytest

    from kgpipe import canon

    dictionary = spark.createDataFrame(
        [("SYN", "SYN:1", "a", "a gadget", True, "a gadget")],
        "ontology string, concept_id string, canonical string, variant string,"
        " is_official boolean, variant_norm string",
    )
    mentions = spark.createDataFrame(
        [("c1", 0, "SYN", f"X:{i}", 0, 1, "x", None) for i in range(6)],
        "conv_id string, turn_idx int, ontology string, concept_id string,"
        " begin int, end int, covered_text string, error string",
    )
    extra = spark.createDataFrame(
        [(f"X:{i}", f"X:{i + 1}") for i in range(5)], "src string, dst string"
    )
    monkeypatch.setattr(canon, "MAX_DRIVER_EDGES", 3)
    with pytest.raises(ValueError, match="driver_side=False"):
        canon.canonicalize(mentions, dictionary, extra_edges=extra).collect()
    out = {(r.concept_id, r.canonical_id) for r in
           canon.canonicalize(mentions, dictionary, extra_edges=extra,
                              driver_side=False).collect()}
    assert out == {(f"X:{i}", "X:0") for i in range(6)}


def test_synonym_edges_star_topology(spark):
    d_rows = [
        ("O", f"O:{i}", "x", "shared", True, "shared") for i in range(5)
    ]
    dictionary = spark.createDataFrame(
        d_rows,
        "ontology string, concept_id string, canonical string, variant string,"
        " is_official boolean, variant_norm string",
    )
    edges = synonym_edges(dictionary).collect()
    assert len(edges) == 4  # star: n-1 edges, not n*(n-1)/2
    assert all(e.src == "O:0" for e in edges)


def test_connected_components_long_chain_converges(spark):
    """Pointer jumping (path doubling): a 100-node chain resolves within
    max_iter=12 rounds (~log2 diameter), where plain one-hop min-label
    propagation would need ~100."""
    from kgpipe.canon import connected_components

    edges = spark.createDataFrame(
        [(f"N{i:03d}", f"N{i+1:03d}") for i in range(99)],
        "src string, dst string",
    )
    got = {r.node: r.component
           for r in connected_components(edges, max_iter=12).collect()}
    assert len(got) == 100
    assert set(got.values()) == {"N000"}


def test_rewrite_triples(spark):
    from kgpipe.canon import rewrite_triples

    tri = spark.createDataFrame(
        [("x", "p", "y", 7), ("y", "p", "z", 8), ("a", "q", "x", 9),
         ("x", "p", "y", 10)],  # duplicate pattern -> multiset kept
        ["subj", "pred", "obj", "extra"])
    m = spark.createDataFrame([("y", "x"), ("z", "x")], ["id", "canon"])
    got = [(r["subj"], r["pred"], r["obj"], r["extra"])
           for r in rewrite_triples(tri, m).collect()]
    assert sorted(got) == sorted([
        ("x", "p", "x", 7), ("x", "p", "x", 8), ("a", "q", "x", 9),
        ("x", "p", "x", 10)])


def _canonical_ids(mentions, dictionary, **kw) -> dict[str, str]:
    return {r.concept_id: r.canonical_id
            for r in canonicalize(mentions, dictionary, **kw).collect()}


def test_canonicalize_driver_rows_equal_edge_paths(spark, tmp_path):
    """The map computed from a built dictionary's driver rows gives every
    mention the same canonical_id as the Spark edge paths: the collected
    edge list (a transformed copy carries no driver rows) and the
    distributed connected_components."""
    from conftest import MINI_OBO, perfbench_obo_paths
    from kgpipe.detect import build_dictionary_df

    for obo_paths, n_merged in (({"SYN": MINI_OBO}, 1),
                                (perfbench_obo_paths(tmp_path, 1), 1076)):
        ddf = build_dictionary_df(spark, obo_paths)
        mentions = ddf.select("concept_id").distinct()
        got = _canonical_ids(mentions, ddf)
        assert sum(c != rep for c, rep in got.items()) == n_merged
        assert _canonical_ids(mentions, ddf.select("*")) == got
        assert _canonical_ids(mentions, ddf.select("*"),
                              driver_side=False) == got


def test_canonicalize_built_dictionary_starts_no_job(spark):
    """canonicalize over a build_dictionary_df dictionary computes its map
    from the driver rows: no Spark job until the caller's action.  The
    same call on a copy without driver rows collects the edge list."""
    import time

    from conftest import MINI_OBO
    from kgpipe.detect import build_dictionary_df

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ddf = build_dictionary_df(spark, {"SYN": MINI_OBO})
    mentions = ddf.select("concept_id").distinct()
    try:
        sc.setJobGroup("canon-driver-rows", "canonicalize, driver rows")
        canonicalize(mentions, ddf)
        sc.setJobGroup("canon-edge-collect", "canonicalize, edge collect")
        canonicalize(mentions, ddf.select("*"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the tracker asynchronously and in order: once the
    # later group's job shows, any job of the earlier group would too
    deadline = time.monotonic() + 30
    while (not tracker.getJobIdsForGroup("canon-edge-collect")
           and time.monotonic() < deadline):
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup("canon-edge-collect")
    assert tracker.getJobIdsForGroup("canon-driver-rows") == []
