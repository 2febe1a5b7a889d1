from __future__ import annotations

import pytest

from kgpipe.graph import (
    degree_topk,
    predicate_stats,
    triangle_count,
    two_hop_reach,
)


@pytest.fixture()
def triples(spark):
    rows = [
        # a small star + a chain; duplicate triple on purpose (multiset
        # input, distinct-edge semantics)
        ("a", "p1", "b"), ("a", "p1", "b"), ("a", "p1", "c"),
        ("a", "p2", "d"), ("b", "p1", "e"), ("c", "p2", "e"),
        ("e", "p1", "a"),
    ]
    return spark.createDataFrame(rows, ["subj", "pred", "obj"])


def test_predicate_stats(triples):
    got = {r["pred"]: r for r in predicate_stats(triples).collect()}
    assert got["p1"]["n_triples"] == 5  # multiset count includes the dup
    assert got["p1"]["n_subj"] == 3     # a, b, e
    assert got["p1"]["n_obj"] == 4      # b, c, e, a
    assert got["p2"]["n_triples"] == 2


def test_degree_topk(triples):
    top = degree_topk(triples, k=3).collect()
    assert [r["rank"] for r in top] == [1, 2, 3]
    by_entity = {r["entity"]: r for r in top}
    # distinct edges: a->b,a->c,a->d,b->e,c->e,e->a
    assert by_entity["a"]["out_deg"] == 3 and by_entity["a"]["in_deg"] == 1
    assert top[0]["entity"] == "a" and top[0]["total_deg"] == 4
    # e: out 1, in 2 → total 3 ranks second; b/c/d tie at 2 → "b" wins
    assert top[1]["entity"] == "e"
    assert top[2]["entity"] == "b"


def test_two_hop_reach(triples):
    got = {r["entity"]: r["n_two_hop"] for r in two_hop_reach(triples).collect()}
    # a -> b -> e, a -> c -> e  (e counted once); a -> d has no out-edge
    assert got["a"] == 1
    # b -> e -> a, c -> e -> a
    assert got["b"] == 1 and got["c"] == 1
    # e -> a -> {b,c,d}, excluding e itself (none of them is e)
    assert got["e"] == 3


def test_triangle_count(spark):
    # K4 on {a,b,c,d} = 4 triangles; edges given with mixed directions and
    # a duplicate + a self-loop + a pendant edge that must not count
    k4 = ["ab", "ac", "ad", "bc", "bd", "cd"]
    rows = [(e[0], "p", e[1]) for e in k4]
    rows += [("b", "q", "a"), ("x", "p", "x"), ("d", "p", "e")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    assert triangle_count(t).collect()[0]["n_triangles"] == 4


def test_triangle_count_none(spark):
    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d")],
        ["subj", "pred", "obj"],
    )
    assert triangle_count(t).collect()[0]["n_triangles"] == 0


def test_triangle_count_brute_parity(spark):
    # deterministic pseudo-random graph vs a brute-force combinations check
    import hashlib
    from itertools import combinations

    n = 24
    names = [f"v{i}" for i in range(n)]
    edges = set()
    for u, v in combinations(range(n), 2):
        if hashlib.md5(f"{u}-{v}".encode()).digest()[0] < 64:  # ~25%
            edges.add((names[u], names[v]))
    adj = set(edges) | {(b, a) for a, b in edges}
    expected = sum(
        1
        for a, b, c in combinations(names, 3)
        if (a, b) in adj and (b, c) in adj and (a, c) in adj
    )
    t = spark.createDataFrame(
        [(a, "p", b) for a, b in edges], ["subj", "pred", "obj"]
    )
    assert triangle_count(t).collect()[0]["n_triangles"] == expected


def test_two_hop_hub_guard(spark):
    rows = [("x%d" % i, "p", "hub") for i in range(5)]
    rows += [("hub", "p", "y%d" % i) for i in range(4)]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    full = {r["entity"]: r["n_two_hop"] for r in two_hop_reach(t).collect()}
    assert full["x0"] == 4
    # cap below the hub's out-degree: hub is excluded as a mid, and it is
    # the only entity with out-edges from a mid position → no 2-paths left
    assert two_hop_reach(t, max_mid_out=3).collect() == []


def test_two_hop_planted_hub_bounded_intermediate(spark):
    from kgpipe.graph import _edges, _mid_bounded_edges

    # 10^3-degree planted hub: 20 sources -> hub -> 1000 sinks.  Unguarded,
    # the 2-path join emits 20 * 1000 = 20k rows; with the guard the hub
    # is removed from the mid position and the intermediate is bounded by
    # |E| * max_mid_out.
    rows = [(f"s{i}", "p", "hub") for i in range(20)]
    rows += [("hub", "p", f"t{i}") for i in range(1000)]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    e = _edges(t)

    def n_intermediate(cap):
        right = _mid_bounded_edges(e, cap).selectExpr(
            "subj AS mid_subj", "obj AS mid_obj"
        )
        return e.join(right, e["obj"] == right["mid_subj"]).count()

    max_mid_out = 50
    assert n_intermediate(None) == 20 * 1000
    bounded = n_intermediate(max_mid_out)
    assert bounded == 0  # the hub was the only mid with out-edges
    assert bounded <= e.count() * max_mid_out
    # the DEFAULT call carries the guard (100k cap — a no-op here, but the
    # quadratic path needs an explicit opt-out)
    got = {r["entity"]: r["n_two_hop"] for r in two_hop_reach(t).collect()}
    assert got["s0"] == 1000

    # guard drops are accountable (ADVICE r4): the hub mid is counted
    from kgpipe.graph import hub_guard_report

    rep = hub_guard_report(t, max_mid_out=max_mid_out).first()
    assert rep["n_dropped_mids"] == 1 and rep["max_out_deg"] == 1000
    assert hub_guard_report(t).first()["n_dropped_mids"] == 0  # default cap


def test_ego_network_directed_dedupes_multiset(spark):
    from kgpipe.graph import ego_network

    # duplicate (subj, pred, obj) triples (two mentions of the same fact)
    # must collapse to ONE row with min hop in BOTH modes
    rows = [("seed", "p", "a"), ("seed", "p", "a"), ("a", "p", "b"),
            ("a", "p", "b"), ("a", "q", "b")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    for directed in (True, False):
        out = ego_network(t, "seed", hops=2, directed=directed).collect()
        keys = [(r["subj"], r["pred"], r["obj"]) for r in out]
        assert len(keys) == len(set(keys)) == 3
        hops = {(r["subj"], r["pred"], r["obj"]): r["hop"] for r in out}
        assert hops[("seed", "p", "a")] == 1
        assert hops[("a", "p", "b")] == 2 and hops[("a", "q", "b")] == 2


def test_ego_network_frontier_guard(spark):
    from kgpipe.graph import ego_network

    rows = [("seed", "p", "hub")] + [
        ("hub", "p", f"t{i}") for i in range(50)
    ]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    # hop-1 frontier is {hub} (size 1): fine; raising the hop count pulls
    # the 50 hub targets into the frontier and trips a tight bound
    assert ego_network(t, "seed", hops=2, max_frontier=10).count() > 0
    with pytest.raises(ValueError, match="max_frontier"):
        ego_network(t, "seed", hops=3, max_frontier=10)
    # explicit opt-out restores the unbounded behavior
    assert ego_network(t, "seed", hops=3, max_frontier=None).count() == 51


def test_pagerank_matches_power_iteration(spark):
    from kgpipe.graph import pagerank

    # mixed graph with a dangling node (d) and a cycle
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("b", "d")]
    t = spark.createDataFrame(
        [(s, "p", o) for s, o in edges], ["subj", "pred", "obj"]
    )
    got = {r["entity"]: r["rank"] for r in pagerank(t, iters=12).collect()}

    # dense reference: same model (uniform teleport + dangling spread)
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out = {}
    for s, o in set(edges):
        out.setdefault(s, []).append(o)
    rank = {x: 1.0 / n for x in nodes}
    d = 0.85
    for _ in range(12):
        dang = sum(rank[x] for x in nodes if x not in out)
        new = {x: (1 - d) / n + d * dang / n for x in nodes}
        for s, outs in out.items():
            for o in outs:
                new[o] += d * rank[s] / len(outs)
        rank = new
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for x in nodes:
        assert abs(got[x] - rank[x]) < 1e-9, (x, got[x], rank[x])


def test_pagerank_empty(spark):
    from kgpipe.graph import pagerank

    t = spark.createDataFrame([], "subj string, pred string, obj string")
    assert pagerank(t).count() == 0


def test_ego_network(spark):
    from kgpipe.graph import ego_network

    #   seed -> a -> b -> c ;  x -> seed ;  far: c -> d (outside 2 hops)
    rows = [("seed", "p", "a"), ("a", "p", "b"), ("b", "p", "c"),
            ("x", "q", "seed"), ("c", "p", "d")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    got = {(r["subj"], r["obj"]): r["hop"]
           for r in ego_network(t, "seed", hops=2).collect()}
    # hop 1: edges incident to seed; hop 2: edges whose nearer endpoint
    # is at distance 1 (a->b via a; x->seed also hop1 via seed side)
    assert got[("seed", "a")] == 1
    assert got[("x", "seed")] == 1
    assert got[("a", "b")] == 2
    assert ("b", "c") not in got  # b is at distance 2, edge needs d(b)<2
    assert ("c", "d") not in got

    directed = {(r["subj"], r["obj"]): r["hop"]
                for r in ego_network(t, "seed", hops=2, directed=True).collect()}
    assert directed[("seed", "a")] == 1 and directed[("a", "b")] == 2
    # x -> seed is NOT reachable following subj->obj from seed
    assert ("x", "seed") not in directed

    with pytest.raises(ValueError):
        ego_network(t, "seed", hops=0)


def test_k_core(spark):
    from kgpipe.graph import k_core

    rows = [
        # triangle a-b-c with a pendant chain c-d-e
        ("a", "p", "b"), ("a", "p", "c"), ("b", "p", "c"),
        ("c", "p", "d"), ("d", "p", "e"),
    ]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    got = {r["entity"]: r["degree"] for r in k_core(t, k=2).collect()}
    # peeling: e (deg 1) drops, then d (deg 1) drops; the triangle stays
    assert got == {"a": 2, "b": 2, "c": 2}
    # k=3: the triangle's induced degrees are 2 -> everything peels away
    assert k_core(t, k=3).count() == 0


def test_k_core_iteration_bound(spark):
    from kgpipe.graph import k_core

    # a path of 5 nodes needs 2 peel rounds to empty at k=2; with
    # iters=1 only the endpoints have been removed so far
    rows = [("n1", "p", "n2"), ("n2", "p", "n3"),
            ("n3", "p", "n4"), ("n4", "p", "n5")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    one = {r["entity"] for r in k_core(t, k=2, iters=1).collect()}
    assert one == {"n2", "n3", "n4"}
    assert k_core(t, k=2, iters=8).count() == 0


def test_label_propagation_two_communities(spark):
    from kgpipe.graph import label_propagation

    rows = [
        ("a", "p", "b"), ("a", "p", "c"), ("b", "p", "c"),
        ("x", "p", "y"), ("x", "p", "z"), ("y", "p", "z"),
        ("c", "p", "x"),  # bridge
    ]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    got = {r["entity"]: r["label"] for r in
           label_propagation(t, iters=4).collect()}
    # deterministic sync LPA with min-label tie-break: the two triangles
    # settle on their own communities despite the bridge
    assert got == {"a": "a", "b": "a", "c": "a",
                   "x": "c", "y": "c", "z": "c"}


def test_label_propagation_deterministic(spark):
    from kgpipe.graph import label_propagation

    rows = [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    r1 = sorted(map(tuple, label_propagation(t, iters=3).collect()))
    r2 = sorted(map(tuple, label_propagation(t, iters=3).collect()))
    assert r1 == r2


def test_local_clustering_k4_with_pendant(spark):
    from kgpipe.graph import local_clustering

    # K4 on {a,b,c,d} (every node: deg 3, 3 triangles) + pendant d-e
    k4 = ["ab", "ac", "ad", "bc", "bd", "cd"]
    rows = [(e[0], "p", e[1]) for e in k4] + [("d", "p", "e")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    got = {r["entity"]: (r["degree"], r["n_triangles"])
           for r in local_clustering(t).collect()}
    assert got["a"] == (3, 3) and got["b"] == (3, 3)
    assert got["c"] == (3, 3) and got["d"] == (4, 3)
    assert got["e"] == (1, 0)
    # global count == sum of corner credits / 3
    assert sum(v[1] for v in got.values()) == 3 * 4


def test_local_clustering_matches_global(spark):
    from kgpipe.graph import local_clustering, triangle_count

    rows = [(f"n{(7 * i) % 23}", "p", f"n{(11 * i + 3) % 23}")
            for i in range(60)]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    total = triangle_count(t).collect()[0]["n_triangles"]
    per_node = local_clustering(t).collect()
    assert sum(r["n_triangles"] for r in per_node) == 3 * total


def test_degree_histogram(spark):
    from kgpipe.graph import degree_histogram

    # star: hub h with 9 leaves (deg 9 -> bucket 3); leaves deg 1 ->
    # bucket 0; plus a 4-cycle (degrees 2 -> bucket 1)
    rows = [("h", "p", f"l{i}") for i in range(9)]
    rows += [("c0", "p", "c1"), ("c1", "p", "c2"), ("c2", "p", "c3"),
             ("c3", "p", "c0")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    got = {r["bucket"]: (r["n_nodes"], r["min_degree"], r["max_degree"])
           for r in degree_histogram(t).collect()}
    assert got[0] == (9, 1, 1)
    assert got[1] == (4, 2, 2)
    assert got[3] == (1, 9, 9)
    assert set(got) == {0, 1, 3}


def test_link_features(spark, triples):
    from kgpipe.graph import link_features

    # undirected simple graph: a-b, a-c, a-d, b-e, c-e, a-e
    got = {(r["a"], r["b"]): r for r in link_features(triples).collect()}
    # b and c share neighbors {a, e} and are NOT adjacent -> proposal
    r = got[("b", "c")]
    assert r["n_common"] == 2
    assert r["deg_a"] == 2 and r["deg_b"] == 2  # b:{a,e}, c:{a,e}
    assert r["n_union"] == 2  # full overlap
    # b and d share only {a}; d's degree is 1
    assert got[("b", "d")]["n_common"] == 1
    assert got[("b", "d")]["n_union"] == 2
    # adjacent pairs are anti-joined away by default
    assert ("a", "b") not in got
    with_adj = {(r["a"], r["b"]) for r in
                link_features(triples, include_existing=True).collect()}
    assert ("a", "b") in with_adj


def test_link_features_center_cap(spark, triples):
    from kgpipe.graph import link_features

    # cap below a's degree (4): wedges through a vanish; b-c survives
    # through e (degree 3 <= 3)
    got = {(r["a"], r["b"]): r["n_common"]
           for r in link_features(triples, max_center_degree=3).collect()}
    assert got[("b", "c")] == 1  # only e remains as shared neighbor
    assert ("b", "d") not in got  # its only center was a


def test_hits(spark, triples):
    from kgpipe.graph import hits
    import numpy as np

    rows = hits(triples, iters=8).collect()
    ent = sorted({r["entity"] for r in rows})
    h = {r["entity"]: r["hub"] for r in rows}
    a = {r["entity"]: r["authority"] for r in rows}
    # L1-normalized halves
    assert abs(sum(h.values()) - 1.0) < 1e-9
    assert abs(sum(a.values()) - 1.0) < 1e-9
    # dense reference with identical normalization
    idx = {e: i for i, e in enumerate(ent)}
    M = np.zeros((len(ent), len(ent)))
    for s, o in {("a", "b"), ("a", "c"), ("a", "d"), ("b", "e"),
                 ("c", "e"), ("e", "a")}:
        M[idx[s], idx[o]] = 1.0
    hv = np.ones(len(ent))
    for _ in range(8):
        av = M.T @ hv
        av /= av.sum()
        hv = M @ av
        hv /= hv.sum()
    for e in ent:
        assert abs(h[e] - hv[idx[e]]) < 1e-9
        assert abs(a[e] - av[idx[e]]) < 1e-9


def test_hits_rejects_zero_iters(spark, triples):
    from kgpipe.graph import hits

    with pytest.raises(ValueError, match="iters"):
        hits(triples, iters=0)


def test_hits_empty_edge_set(spark):
    from kgpipe.graph import hits

    empty = spark.createDataFrame([], "subj string, pred string, obj string")
    out = hits(empty, iters=3)
    assert out.columns == ["entity", "hub", "authority"]
    assert out.count() == 0


def test_reciprocity(spark):
    from kgpipe.graph import reciprocity

    rows = [
        ("a", "p", "b"), ("b", "p", "a"),      # reciprocal pair
        ("a", "q", "b"),                        # dup edge after distinct
        ("a", "p", "c"),                        # one-way
        ("d", "p", "d"),                        # self-loop dropped
    ]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    r = reciprocity(t).collect()[0]
    # distinct non-loop edges: a->b, b->a, a->c
    assert r["n_edges"] == 3
    assert r["n_reciprocal"] == 2
