"""Graph analytics over the materialized (subj, pred, obj) triple table:
per-predicate statistics, entity degree ranking, and 2-hop reachability.

The reference pipeline stops at RDF serialization
(nlp-pipelines-runner/.../RdfSerialization, PmcOaDocumentRdfGenerator) —
downstream graph inspection happens in its Neo4j catalog out-of-band.
These operators give the Spark-side equivalent over the triple DataFrame
the kgpipe pipeline materializes, so KG quality checks (predicate mix,
hub entities, connectivity fan-out) run in the same job as construction.

Most ops are integer-valued aggregations/equi-joins — no floats, so each
is DuckDB-oracle hashable with no driver-side collection.  ``pagerank`` and
``hits`` are float-valued and iterative (one in-plan scalar aggregate per
round); their oracle rows hash 1e-6-rounded scores against SQL that
unrolls the same iterations, and pytest checks them against dense
power-iteration references.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window, functions as F


def predicate_stats(triples: DataFrame) -> DataFrame:
    """Per-predicate triple counts and distinct subject/object
    cardinalities: ``(pred, n_triples, n_subj, n_obj)``.

    One partial-aggregated shuffle keyed on pred (predicate vocabularies
    are tiny, so the reduce side is a handful of rows; the two distinct
    counts rehash within the same exchange via Spark's expand — at
    10^12-triple scale swap exact distincts for approx_count_distinct,
    which this function exposes via the same plan shape).
    """
    return triples.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
    )


def _edges(triples: DataFrame, checkpoint: bool = True) -> DataFrame:
    """Distinct (subj, obj) entity edges — degree/reach semantics are
    defined on the distinct graph, not the triple multiset.

    ``checkpoint`` (default) materializes the edge set eagerly via
    ``localCheckpoint`` so operators that reference it from several join
    branches don't re-execute the whole upstream triple-construction
    plan per branch (same rationale as the persisted symmetric edge set
    in kgpipe.canon.connected_components)."""
    e = triples.select("subj", "obj").distinct()
    return e.localCheckpoint(eager=True) if checkpoint else e


def degree_topk(triples: DataFrame, k: int = 20) -> DataFrame:
    """Top-``k`` entities by total degree over the distinct edge set:
    ``(entity, out_deg, in_deg, total_deg, rank)``, ties broken by entity
    string ascending so the result is deterministic.

    Single-pass degree aggregate: each edge contributes one (subj, out)
    and one (obj, in) row, summed in ONE key-width exchange — no
    full-outer join of two aggregates.  The final top-k is a
    single-partition window over the (small) degree table — at KG scale,
    pre-filter with an approximate threshold before ranking if the
    entity count itself is huge.
    """
    e = _edges(triples)
    contrib = e.select(
        F.col("subj").alias("entity"),
        F.lit(1).alias("o"), F.lit(0).alias("i"),
    ).unionAll(e.select(
        F.col("obj").alias("entity"),
        F.lit(0).alias("o"), F.lit(1).alias("i"),
    ))
    deg = (
        contrib.groupBy("entity")
        .agg(F.sum("o").alias("out_deg"), F.sum("i").alias("in_deg"))
        .withColumn("total_deg", F.col("out_deg") + F.col("in_deg"))
    )
    w = Window.orderBy(F.desc("total_deg"), F.asc("entity"))
    return (
        deg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _mid_bounded_edges(e: DataFrame, max_mid_out: Optional[int]) -> DataFrame:
    """The right side of a 2-path join with hub mids removed: edges whose
    SOURCE has out-degree <= ``max_mid_out`` (None = unbounded).  Factored
    out so the hub-guard bound is directly testable: after this filter the
    2-path join emits at most ``|E| * max_mid_out`` rows regardless of
    skew.

    Guard-drop accounting lives in ``hub_guard_report`` — an explicit
    tiny aggregation rather than a ``DataFrame.observe`` riding this
    plan, because a CollectMetrics node upstream of the final distinct
    aggregate does not surface its metrics row reliably (observed
    empirically on Spark 4.1; the MinHash cap, whose downstream has no
    distinct aggregate, does use the observe seam)."""
    if max_mid_out is None:
        return e
    small_mids = (
        e.groupBy(F.col("subj").alias("mid"))
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") <= max_mid_out)
        .select("mid")
    )
    return e.join(small_mids, e["subj"] == small_mids["mid"], "left_semi")


def hub_guard_report(
    triples: DataFrame, max_mid_out: int = 100_000
) -> DataFrame:
    """One-row accounting of the 2-hop hub guard's recall trade (ADVICE
    r4: no silent truncation): ``(n_dropped_mids, n_mids, max_out_deg)``
    for the distinct edge set at the given cap.  An explicit aggregation
    job — degree aggregate only, no join, so it costs seconds at any
    corpus size — run alongside ``two_hop_reach`` when drop accounting is
    required (a ``DataFrame.observe`` on the reach plan itself does not
    surface metrics under the final distinct aggregate)."""
    deg = _edges(triples).groupBy("subj").agg(
        F.count(F.lit(1)).alias("d"))
    return deg.agg(
        F.sum((F.col("d") > max_mid_out).cast("long"))
        .alias("n_dropped_mids"),
        F.count(F.lit(1)).alias("n_mids"),
        F.max("d").alias("max_out_deg"),
    )


def two_hop_reach(
    triples: DataFrame, max_mid_out: Optional[int] = 100_000
) -> DataFrame:
    """Per-entity count of distinct entities reachable in exactly two
    hops (``a → mid → b``, ``b != a``): ``(entity, n_two_hop)``.

    The self-join keys on the mid entity — the classic hub-skew join.
    ``max_mid_out`` (DEFAULT 100 000 — the safe path is the default
    path): mids whose out-degree exceeds it are dropped before the join
    (documented recall trade, the standard triangle/2-path bound), so a
    10^8-degree celebrity entity cannot turn the join quadratic — the
    intermediate is bounded by ``|E| * max_mid_out``.  Pass ``None`` to
    opt out explicitly when exact counts through hubs are required and
    the skew is known to be manageable.  Both join sides are the
    distinct edge set, never the triple multiset.
    """
    e = _edges(triples)
    right = _mid_bounded_edges(e, max_mid_out)
    stepped = (
        e.alias("e1")
        .join(right.alias("e2"), F.col("e1.obj") == F.col("e2.subj"))
        .filter(F.col("e2.obj") != F.col("e1.subj"))
        .select(F.col("e1.subj").alias("entity"), F.col("e2.obj").alias("b"))
    )
    return stepped.groupBy("entity").agg(
        F.countDistinct("b").alias("n_two_hop"))


def triangle_count(triples: DataFrame) -> DataFrame:
    """Global triangle count of the *undirected* distinct entity graph:
    a single row ``(n_triangles:long)``.

    Uses the degree-orientation trick (Schank & Wagner 2005; the same
    scheme Spark's GraphX TriangleCount uses): undirect + distinct the
    edge set, then orient every edge from the lower-(degree, id) endpoint
    to the higher one.  The oriented graph is a DAG where every vertex
    has out-degree O(sqrt(m)), so the wedge self-join — the step that
    explodes on hub skew in the naive formulation — is bounded even when
    a celebrity entity has degree 10^8.  Each triangle is counted exactly
    once (its unique cyclic orientation under the total order), so no /3
    or /6 correction is needed.

    Plan: 2 aggregations + 2 joins, all keyed on entity ids; no driver
    collection; counts are integers so the result is oracle-hashable.
    """
    _deg, closed = _closed_wedges(triples)
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def _closed_wedges(triples: DataFrame):
    """Shared body of ``triangle_count`` / ``local_clustering``: returns
    ``(deg, closed)`` where ``deg`` is ``(x, d)`` simple-graph degrees
    and ``closed`` is one row per triangle with all three corner ids
    ``(a, m, c)`` (its unique cyclic orientation under the (degree, id)
    total order — each triangle appears exactly once)."""
    und = (
        _edges(triples, checkpoint=False)
        .filter(F.col("subj") != F.col("obj"))
        .select(
            F.least("subj", "obj").alias("u"),
            F.greatest("subj", "obj").alias("v"),
        )
        .distinct()
        # referenced by the degree aggregate and both sides of the
        # orientation join — materialize once
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("u").alias("x"))
        .unionAll(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    oriented = (
        und.join(du, "u").join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
            .alias("e")
        )
        .select("e.a", "e.b")
        # three references below (wedge e1/e2 + closing edge) — without
        # this the whole orientation subtree runs three times
        .localCheckpoint(eager=True)
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("m"),
                F.col("e2.b").alias("c"))
    )
    # inner (not semi) join: distinct oriented edges close each wedge at
    # most once, and wedges with the same (a, c) but different mids are
    # distinct triangles that must each survive
    closed = wedges.join(
        oriented.select(F.col("a"), F.col("b").alias("c")), ["a", "c"]
    )
    return deg, closed


def local_clustering(triples: DataFrame) -> DataFrame:
    """Per-node triangle participation over the undirected simple entity
    graph: ``(entity, degree, n_triangles)`` for every node with at
    least one edge.  The local clustering coefficient is
    ``2*n_triangles / (degree*(degree-1))`` — left to callers as a
    float; the output stays exact-integer so it is oracle-hashable
    (same policy as ``lp_metrics``).

    Same degree-oriented plan as ``triangle_count`` (wedge join bounded
    by O(sqrt(m)) out-degree, hub-skew-proof), plus one corner explode —
    3 rows per triangle — and one entity-keyed count joined back to the
    degree table.  No step is quadratic in any node's degree.
    """
    deg, closed = _closed_wedges(triples)
    corners = closed.select(
        F.explode(F.array("a", "m", "c")).alias("entity")
    )
    tc = corners.groupBy("entity").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    return (
        deg.select(F.col("x").alias("entity"),
                   F.col("d").cast("long").alias("degree"))
        .join(tc, "entity", "left")
        .fillna(0, subset=["n_triangles"])
    )


def pagerank(
    triples: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over the distinct directed entity graph:
    ``(entity, rank)`` after ``iters`` power iterations with uniform
    teleport and dangling-mass redistribution (the full random-surfer
    model, so ranks sum to 1 every iteration).

    Iterative joins keyed on entity ids — the same shape as
    kgpipe.canon.connected_components: the edge set and per-iteration
    rank frames are ``localCheckpoint``ed so plans stay O(1) deep
    instead of growing per round.  The per-iteration scalar (dangling
    mass) stays INSIDE the plan as a broadcast 1-row aggregate joined
    onto the rank update — no driver-side ``.first()`` per round, so
    each iteration is exactly ONE job (the eager checkpoint), not two.
    Float-valued: the oracle row hashes 1e-6-rounded ranks against SQL
    that unrolls the same iterations; pytest also checks a dense
    power-iteration reference.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    e = _edges(triples)
    nodes = (
        e.select(F.col("subj").alias("id"))
        .unionAll(e.select(F.col("obj").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("id", F.lit(0.0).alias("rank")).withColumnRenamed(
            "id", "entity")
    out_deg = (
        e.groupBy(F.col("subj").alias("id"))
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select("id", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        with_deg = ranks.join(out_deg, "id", "left")
        # rank mass parked on dangling nodes teleports uniformly; the
        # 1-row aggregate broadcast-joins back instead of round-tripping
        # through the driver
        dang_df = (
            with_deg.filter(F.col("d").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        contribs = (
            e.join(with_deg.filter(F.col("d").isNotNull()),
                   e["subj"] == F.col("id"))
            .select(
                F.col("obj").alias("id"),
                (F.col("rank") / F.col("d")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("c"))
        )
        base = (
            F.lit((1.0 - damping) / n)
            + F.lit(damping / n) * F.col("_dang")
        )
        ranks = (
            nodes.join(contribs, "id", "left")
            .join(F.broadcast(dang_df))
            .select(
                "id",
                (base
                 + F.lit(damping) * F.coalesce("c", F.lit(0.0))).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.withColumnRenamed("id", "entity")


def ego_network(
    triples: DataFrame,
    entity: str,
    hops: int = 2,
    directed: bool = False,
    max_frontier: Optional[int] = 5_000_000,
) -> DataFrame:
    """The ``hops``-neighborhood subgraph around ``entity``: every triple
    incident to an entity within ``hops - 1`` steps of the seed, as
    ``(subj, pred, obj, hop:int)`` where ``hop`` = 1 + the nearer
    endpoint's distance from the seed (the step on which a BFS from the
    seed first crosses that edge).  ``directed=False`` (default) measures
    distance over undirected edges — the usual ego-net semantics;
    ``directed=True`` follows subj→obj only (and tags by subject
    distance).  Both modes return the DISTINCT edge set of the
    neighborhood — duplicate (subj, pred, obj) triples collapse to one
    row with the minimum hop.

    Frontier expansion by semi-join, one round per hop (hops is small
    and fixed — 1–3 in practice); the triple set and each frontier are
    localCheckpointed so plan depth stays constant.  Frontiers are
    entity-id sets (tiny next to the edge set), so at cluster scale
    every round is one broadcast-capable equi-join.  ``max_frontier``
    (default 5M) is the hub guard: expanding through a celebrity entity
    can make the next frontier graph-sized, at which point "the ego net"
    is no longer a subgraph worth materializing — if a frontier exceeds
    the bound the call fails fast with ``ValueError`` (the frontier is
    already checkpointed, so the size check is one cheap count) instead
    of silently joining a graph-scale frontier.  Pass ``None`` to opt
    out explicitly.
    """
    if hops < 1:
        raise ValueError(f"hops must be >= 1, got {hops}")
    e = triples.select("subj", "pred", "obj").localCheckpoint(eager=True)
    dist = e.sparkSession.createDataFrame(
        [(entity, 0)], "id string, d int"
    ).localCheckpoint(eager=True)
    frontier = dist
    for h in range(1, hops):
        fwd = e.join(
            frontier.withColumnRenamed("id", "subj"), "subj", "left_semi"
        ).select(F.col("obj").alias("id"))
        step = fwd
        if not directed:
            bwd = e.join(
                frontier.withColumnRenamed("id", "obj"), "obj", "left_semi"
            ).select(F.col("subj").alias("id"))
            step = fwd.unionAll(bwd)
        frontier = (
            step.distinct()
            .join(dist.select("id"), "id", "left_anti")
            .select("id", F.lit(h).alias("d"))
            .localCheckpoint(eager=True)
        )
        if max_frontier is not None:
            n_frontier = frontier.count()
            if n_frontier > max_frontier:
                raise ValueError(
                    f"ego_network frontier at hop {h} has {n_frontier} "
                    f"entities (> max_frontier={max_frontier}); the seed "
                    "reaches a hub — raise max_frontier explicitly (or pass "
                    "None) if materializing a graph-scale neighborhood is "
                    "intended"
                )
        dist = dist.unionAll(frontier).localCheckpoint(eager=True)
    out = e.join(
        dist.withColumnRenamed("id", "subj"), "subj"
    ).select("subj", "pred", "obj", (F.col("d") + 1).alias("hop"))
    if directed:
        return (
            out.groupBy("subj", "pred", "obj")
            .agg(F.min("hop").cast("int").alias("hop"))
        )
    rev = e.join(
        dist.select(F.col("id").alias("obj"), "d"), "obj"
    ).select("subj", "pred", "obj", (F.col("d") + 1).alias("hop"))
    return (
        out.unionAll(rev)
        .groupBy("subj", "pred", "obj")
        .agg(F.min("hop").cast("int").alias("hop"))
    )


def bfs_distances(
    triples: DataFrame,
    seeds: list[str],
    max_hops: int = 3,
    directed: bool = False,
    max_frontier: Optional[int] = 5_000_000,
) -> DataFrame:
    """Minimum hop distance from a SEED SET: ``(entity, dist:int)`` for
    every entity within ``max_hops`` of any seed (seeds themselves at
    dist 0; unreachable entities are absent).  ``directed=True`` follows
    subj→obj edges only; the default measures over undirected edges.

    Level-synchronous BFS by frontier semi-join — the same shape as
    ``ego_network`` but multi-seed and returning the distance table
    itself (the input to distance-bucketed features / locality joins).
    One round per hop over the distinct edge set; frontiers are entity-id
    sets joined as semi-joins (broadcast-capable at cluster scale), each
    round ``localCheckpoint``ed so plan depth stays O(1), with the empty-
    frontier early stop making ``max_hops`` a bound, not a cost floor.
    ``max_frontier`` is the same fail-fast hub guard as ``ego_network``
    (a frontier beyond it means the BFS has gone graph-scale).
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    if not seeds:
        raise ValueError("bfs_distances requires at least one seed")
    e = _edges(triples)
    dist = e.sparkSession.createDataFrame(
        [(s, 0) for s in sorted(set(seeds))], "entity string, dist int"
    ).localCheckpoint(eager=True)
    frontier = dist
    for h in range(1, max_hops + 1):
        fwd = e.join(
            frontier.withColumnRenamed("entity", "subj"), "subj", "left_semi"
        ).select(F.col("obj").alias("entity"))
        step = fwd
        if not directed:
            bwd = e.join(
                frontier.withColumnRenamed("entity", "obj"), "obj", "left_semi"
            ).select(F.col("subj").alias("entity"))
            step = fwd.unionAll(bwd)
        frontier = (
            step.distinct()
            .join(dist.select("entity"), "entity", "left_anti")
            .select("entity", F.lit(h).cast("int").alias("dist"))
            .localCheckpoint(eager=True)
        )
        n_frontier = frontier.count()
        if n_frontier == 0:
            break
        if max_frontier is not None and n_frontier > max_frontier:
            raise ValueError(
                f"bfs_distances frontier at hop {h} has {n_frontier} "
                f"entities (> max_frontier={max_frontier}); raise it (or "
                "pass None) if a graph-scale sweep is intended"
            )
        dist = dist.unionAll(frontier).localCheckpoint(eager=True)
    return dist


def _und_edges(triples: DataFrame) -> DataFrame:
    """Symmetric distinct edge set ``(a, b)`` of the entity graph with
    self-loops dropped — the degree domain for ``k_core`` and
    ``label_propagation`` (both are defined on the undirected simple
    graph).  Distinct + union keeps each undirected edge exactly twice
    (once per direction), so a node's degree is its row count as ``a``.
    localCheckpointed: both consumers re-join it every round."""
    e = triples.select("subj", "obj").filter(
        F.col("subj") != F.col("obj")
    )
    und = (
        e.select(F.col("subj").alias("a"), F.col("obj").alias("b"))
        .unionAll(e.select(F.col("obj").alias("a"), F.col("subj").alias("b")))
        .distinct()
    )
    return und.localCheckpoint(eager=True)


def k_core(triples: DataFrame, k: int = 2, iters: int = 8) -> DataFrame:
    """The ``k``-core of the undirected entity graph after at most
    ``iters`` peeling rounds: ``(entity, degree)`` — nodes surviving
    iterative removal of every node with induced degree < ``k``, with
    their degree in the FINAL induced subgraph.

    Each round is one aggregation + two semi-joins, all hash-partitioned
    on entity id, with the survivor set localCheckpointed so plan depth
    stays O(1).  The loop early-stops when a round removes nothing
    (fixpoint — identical output to running the remaining rounds), so
    ``iters`` is a determinism bound, not a cost floor; real graphs peel
    in a handful of rounds.  Survivor sets shrink monotonically, so at
    cluster scale every round after the first joins against a
    smaller-than-edges frame (AQE broadcast-converts the late rounds).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    und = _und_edges(triples)
    alive = und.select(F.col("a").alias("id")).distinct()
    alive = alive.localCheckpoint(eager=True)
    n_alive = alive.count()
    for _ in range(iters):
        induced = und.join(
            alive.withColumnRenamed("id", "a"), "a", "left_semi"
        ).join(alive.withColumnRenamed("id", "b"), "b", "left_semi")
        nxt = (
            induced.groupBy(F.col("a").alias("id"))
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("id")
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        alive = nxt
        if n_nxt == n_alive:
            break
        n_alive = n_nxt
    final = und.join(
        alive.withColumnRenamed("id", "a"), "a", "left_semi"
    ).join(alive.withColumnRenamed("id", "b"), "b", "left_semi")
    return final.groupBy(F.col("a").alias("entity")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def label_propagation(triples: DataFrame, iters: int = 4) -> DataFrame:
    """Synchronous label propagation (community detection, Raghavan et
    al. 2007) over the undirected entity graph: ``(entity, label)``
    after exactly ``iters`` rounds.  Every node starts labelled with its
    own id; each round it adopts its neighbors' most frequent label,
    ties broken by label ascending — fully deterministic, unlike the
    randomized asynchronous original, so the result is oracle-hashable
    (the DuckDB mirror unrolls the same rounds).

    Per round: one equi-join (edge × label, keyed on entity id), one
    (node, label) count aggregate, and one row_number window — the
    aggregate and window share the node-id hash partitioning, so a round
    costs two exchanges of label-width rows regardless of graph size.
    Labels are node ids (fixed width); per-round state is one row per
    node, localCheckpointed to keep lineage flat.
    """
    und = _und_edges(triples)
    labels = und.select(F.col("a").alias("id"), F.col("a").alias("lbl"))
    labels = labels.distinct().localCheckpoint(eager=True)
    w = Window.partitionBy("id").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(iters):
        neigh = und.join(
            labels.withColumnRenamed("id", "b"), "b"
        ).groupBy(F.col("a").alias("id"), "lbl").agg(
            F.count(F.lit(1)).alias("c")
        )
        labels = (
            neigh.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("id", "lbl")
            .localCheckpoint(eager=True)
        )
    return labels.select(
        F.col("id").alias("entity"), F.col("lbl").alias("label")
    )


def degree_histogram(triples: DataFrame) -> DataFrame:
    """Log2-bucketed degree distribution of the undirected simple
    entity graph: ``(bucket, n_nodes, min_degree, max_degree)`` where
    ``bucket = floor(log2(degree))`` — the one-page skew profile that
    says whether hub guards (two_hop/ego caps) will bite BEFORE the
    expensive jobs run.

    The bucket is computed as ``len(binary(degree)) - 1`` — exact
    integer arithmetic (no float log2, whose rounding at power-of-2
    boundaries is engine-dependent).  One degree aggregation + one
    ~60-row bucket aggregate; nothing scales past the node count.
    """
    deg = _und_edges(triples).groupBy("a").agg(
        F.count(F.lit(1)).alias("d"))
    bucket = (F.length(F.conv(F.col("d").cast("string"), 10, 2)) - 1)
    return (
        deg.select(F.col("d"), bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("d").cast("long").alias("min_degree"),
            F.max("d").cast("long").alias("max_degree"),
        )
    )


def link_features(
    triples: DataFrame,
    max_center_degree: Optional[int] = 10_000,
    include_existing: bool = False,
) -> DataFrame:
    """Common-neighbor / Jaccard link-prediction features (Liben-Nowell
    & Kleinberg, CIKM 2003) over the undirected simple entity graph:
    ``(a, b, n_common, deg_a, deg_b, n_union)`` for every unordered
    candidate pair ``a < b`` sharing >= 1 neighbor, with
    ``n_union = deg_a + deg_b - n_common`` (= |N(a) U N(b)|).  The
    output stays exact-integer so it is oracle-hashable; the Jaccard /
    common-neighbor scores are one caller-side division away (same
    integer-output policy as lp_metrics / local_clustering).

    ``include_existing=False`` (default — the link-PREDICTION setting)
    anti-joins currently-adjacent pairs away, leaving only proposals;
    ``True`` keeps them (the similarity-scoring setting).

    Plan: one wedge self-join keyed on the shared CENTER node + one
    (a, b) count aggregate + one two-sided degree attach (degree table
    is node-count-sized; AQE broadcasts it).  A center of degree d
    emits d*(d-1)/2 candidate pairs, so mega-hub centers are the skew
    risk — ``max_center_degree`` (default 10k, same default-on hub
    policy as two_hop_reach / ego_network) drops wedge centers above
    the cap.  The recall cost is only pairs whose EVERY shared
    neighbor is a mega-hub — the least informative common-neighbor
    evidence (Adamic-Adar downweights exactly these).  Opt out with
    ``None``.
    """
    und = _und_edges(triples)
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    deg = deg.localCheckpoint(eager=True)
    nbrs = und.select(F.col("a").alias("n"), F.col("b").alias("x"))
    if max_center_degree is not None:
        ok = deg.filter(F.col("d") <= int(max_center_degree)).select(
            F.col("a").alias("n"))
        nbrs = nbrs.join(ok, "n")
    left = nbrs.select("n", F.col("x").alias("pa"))
    right = nbrs.select("n", F.col("x").alias("pb"))
    cn = (
        left.join(right, "n")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy(F.col("pa").alias("a"), F.col("pb").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    if not include_existing:
        cn = cn.join(und, ["a", "b"], "left_anti")
    da = deg.select(F.col("a"), F.col("d").cast("long").alias("deg_a"))
    db = deg.select(F.col("a").alias("b"),
                    F.col("d").cast("long").alias("deg_b"))
    return (
        cn.join(da, "a").join(db, "b")
        .select(
            "a", "b", "n_common", "deg_a", "deg_b",
            (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
            .alias("n_union"),
        )
    )


def hits(triples: DataFrame, iters: int = 5) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, JACM 1999) over the
    distinct directed entity graph: ``(entity, hub, authority)`` after
    ``iters`` mutual-reinforcement rounds, each half-step L1-normalized
    (scores sum to 1 — the sum-normalized variant; L2 differs only by
    a per-round scalar and needs a sqrt the SQL mirror would have to
    replicate bit-for-bit, so L1 is the deterministic choice).

    Same iterative shape as ``pagerank``: per round, ONE edge join +
    aggregate per half-step, with the normalization scalar kept
    IN-PLAN as a broadcast 1-row aggregate (no driver round-trip), and
    each score frame localCheckpointed so plan depth stays O(1) across
    rounds.  Float-valued; the oracle row hashes 1e-6-rounded scores
    against unrolled MATERIALIZED-CTE SQL (the pagerank precedent).
    ``iters`` must be >= 1.  An empty edge set has no nodes, so every
    score frame and the result are empty (no NULL scores).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = _edges(triples)
    nodes = (
        e.select(F.col("subj").alias("id"))
        .unionAll(e.select(F.col("obj").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = nodes.select("id", F.lit(1.0).alias("s"))
    auth = None
    for _ in range(iters):
        # authority(v) = sum of hub over in-neighbors, then L1-normalize
        araw = (
            e.join(hub, e["subj"] == hub["id"])
            .groupBy(F.col("obj").alias("id"))
            .agg(F.sum("s").alias("c"))
        )
        atot = araw.agg(F.sum("c").alias("_t"))
        auth = (
            nodes.join(araw, "id", "left")
            .join(F.broadcast(atot))
            .select(
                "id",
                (F.coalesce("c", F.lit(0.0)) / F.col("_t")).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
        # hub(u) = sum of authority over out-neighbors, L1-normalized
        hraw = (
            e.join(auth, e["obj"] == auth["id"])
            .groupBy(F.col("subj").alias("id"))
            .agg(F.sum("s").alias("c"))
        )
        htot = hraw.agg(F.sum("c").alias("_t"))
        hub = (
            nodes.join(hraw, "id", "left")
            .join(F.broadcast(htot))
            .select(
                "id",
                (F.coalesce("c", F.lit(0.0)) / F.col("_t")).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        hub.select(F.col("id"), F.col("s").alias("hub"))
        .join(auth.select(F.col("id"), F.col("s").alias("authority")),
              "id")
        .withColumnRenamed("id", "entity")
    )


def reciprocity(triples: DataFrame) -> DataFrame:
    """Directed-graph reciprocity summary over the distinct entity edge
    set (self-loops dropped): one row ``(n_edges, n_reciprocal)`` where
    ``n_reciprocal`` counts edges whose reverse edge also exists —
    the standard dyad census numerator (reciprocity ratio =
    n_reciprocal / n_edges, left to callers as the float).  For a
    transcript KG this flags symmetric-by-construction predicate
    families (cooccursWith) versus genuinely directional structure.

    One left-semi self-join on the distinct edge set + one global
    count — both partial-aggregated; nothing exceeds the edge count.
    """
    e = _edges(triples).filter(F.col("subj") != F.col("obj"))
    rev = e.select(F.col("obj").alias("subj"), F.col("subj").alias("obj"))
    recip = e.join(rev, ["subj", "obj"], "left_semi")
    return e.agg(F.count(F.lit(1)).cast("long").alias("n_edges")).join(
        recip.agg(F.count(F.lit(1)).cast("long").alias("n_reciprocal"))
    )
