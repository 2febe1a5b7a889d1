"""KG inference and conjunctive querying over the (subj, pred, obj)
triple table: transitive closure, RDFS-style type entailment, and basic
graph-pattern (BGP) matching.

The reference pipeline emits RDF and leaves inference/query to its
out-of-band Neo4j catalog (``Neo4jRunCatalog`` queries,
``PmcAnnotationRdfPipeline.java:126-142`` emission); OBO subsumption is
consumed only as the pre-computed subtree in dictionary filtering
(``OboUtil`` usage).  These operators close that loop Spark-side so the
entailed KG and its queries are built in the same job as construction:

- ``transitive_closure``: iterative *doubling* — round ``k`` holds every
  ancestor path of length <= 2**k, so a depth-``d`` hierarchy closes in
  ceil(log2(d)) self-joins rather than ``d`` edge-joins.  Each round is
  one equi-join keyed on the closing node + one distinct, both
  hash-partitioned on fixed-width ids; per-round state is
  ``localCheckpoint``ed so plan depth stays O(1).  Output size is the
  closure itself (|V| * avg-ancestor-count — for ontology DAGs ~|V| *
  depth), never the quadratic join intermediate: cycles converge to the
  same fixpoint because the pair set is monotone and bounded.
- ``rdfs_entail``: rdfs2 (domain), rdfs3 (range), rdfs9/11 (type
  propagation up the subClassOf closure).  Schema-side inputs (domain /
  range declarations, class hierarchy) are vocabulary-sized, so every
  schema join is an explicit ``broadcast`` — the only exchange touching
  instance data is the final distinct on (entity, cls).
- ``match_pattern``: a conjunctive triple-pattern matcher (the SPARQL
  BGP core).  Patterns compile to a chain of equi-joins over the
  DISTINCT triple set; join order is greedy most-constants-first, and
  disconnected patterns (which would require a cartesian product) are
  rejected loudly rather than planned.  Catalyst/AQE pick the physical
  join (selective constant-bound patterns broadcast under AQE).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from .graph import _fixpoint
from .triples import RDF_TYPE

__all__ = ["transitive_closure", "rdfs_entail", "match_pattern"]


def transitive_closure(
    edges: DataFrame,
    src: str = "child",
    dst: str = "parent",
    max_iters: int = 20,
) -> DataFrame:
    """Transitive closure of a directed edge set: every ``(node, anc)``
    pair where ``anc`` is reachable from ``node`` along one or more
    ``src -> dst`` edges (strictly positive path length; a node is its
    own ancestor only if it lies on a cycle).

    Iterative doubling with a count-based fixpoint stop: ``max_iters``
    bounds rounds (2**20 path length is beyond any real hierarchy), and
    the loop exits as soon as a round adds no pairs, so the cost is
    ceil(log2(diameter)) joins.  Each round self-joins the closure on a
    single id column and distincts — both shuffles key on fixed-width
    node ids, and the frame is ``localCheckpoint``ed so lineage stays
    flat.  Safe on cycles: the pair universe is finite and monotone.
    """
    e = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("anc"))
        .filter(F.col("node").isNotNull() & F.col("anc").isNotNull())
        .distinct()
    )
    return _fixpoint(e, _double, max_iters)


def _double(pairs: DataFrame) -> DataFrame:
    """One doubling round: ``pairs`` plus every two-pair concatenation
    ``(node, mid) · (mid, anc)``, distinct."""
    stepped = (
        pairs.alias("l")
        .join(pairs.alias("r"), F.col("l.anc") == F.col("r.node"))
        .select(F.col("l.node").alias("node"), F.col("r.anc").alias("anc"))
    )
    return pairs.unionAll(stepped).distinct()


def closure_delta(
    closure: DataFrame,
    new_edges: DataFrame,
    src: str = "child",
    dst: str = "parent",
    max_iters: int = 20,
) -> DataFrame:
    """Incrementally maintain a transitive closure under edge INSERTION:
    given ``closure`` = transitive_closure(E) already materialized and a
    batch of new edges ``ΔE``, return transitive_closure(E ∪ ΔE) without
    re-walking E — the daily-ingest path for a continuously built KG,
    where |ΔE| is thousands of edges against a closure of billions of
    pairs.

    Semi-naive evaluation: every NEW ancestor pair uses >= 1 Δ-edge, so
    first absorb old-closure paths onto both ends of each Δ-edge
    (``C.ΔE`` and ``.C`` — two joins against the existing closure), then
    close over multi-Δ paths by the same log-round doubling as
    ``transitive_closure`` — but iterating only the Δ-derived pair set,
    whose size tracks the update, not the KG.  The old closure is
    touched by exactly two equi-joins (broadcast-able when ΔE is small
    after AQE sizes the absorbed frame) plus the final distinct union.
    """
    c = closure.select("node", "anc").distinct().localCheckpoint(eager=True)
    d = (
        new_edges.select(F.col(src).alias("node"), F.col(dst).alias("anc"))
        .filter(F.col("node").isNotNull() & F.col("anc").isNotNull())
        .distinct()
    )
    # paths (old*)·Δ — old-closure prefix onto each Δ edge
    pre = d.unionAll(
        c.alias("l").join(d.alias("r"), F.col("l.anc") == F.col("r.node"))
        .select(F.col("l.node").alias("node"), F.col("r.anc").alias("anc"))
    ).distinct()
    # paths (old*)·Δ·(old*) — old-closure suffix
    delta = pre.unionAll(
        pre.alias("l").join(c.alias("r"), F.col("l.anc") == F.col("r.node"))
        .select(F.col("l.node").alias("node"), F.col("r.anc").alias("anc"))
    ).distinct()
    # multi-Δ paths: doubling over the Δ-derived set only (each element
    # already absorbs old-closure runs at both ends, so concatenation at
    # the shared endpoint covers every interleaving)
    delta = _fixpoint(delta, _double, max_iters)
    return c.unionAll(delta).distinct()


def rdfs_entail(
    triples: DataFrame,
    domains: Optional[DataFrame] = None,
    ranges: Optional[DataFrame] = None,
    subclass_edges: Optional[DataFrame] = None,
    type_pred: str = RDF_TYPE,
    max_iters: int = 20,
) -> DataFrame:
    """Materialize the RDFS-entailed type table ``(entity, cls)``:

    - asserted: ``(s, rdf:type, C)`` triples;
    - rdfs2: ``(s, p, o)`` with ``domain(p, C)``  ->  ``(s, C)``;
    - rdfs3: ``(s, p, o)`` with ``range(p, C)``   ->  ``(o, C)``;
    - rdfs9 (+11 via closure): ``(s, C)`` with ``C subClassOf+ D``
      ->  ``(s, D)``.

    ``domains`` / ``ranges`` are ``(pred, cls)`` declaration frames;
    ``subclass_edges`` is ``(child, parent)`` over classes.  All three
    are schema vocabulary — broadcast by construction, so the instance
    scan is joined map-side and the only wide exchange is the final
    distinct on (entity, cls).  The subclass closure reuses
    ``transitive_closure`` (log-depth doubling) before broadcasting.
    """
    typed = triples.filter(F.col("pred") == type_pred).select(
        F.col("subj").alias("entity"), F.col("obj").alias("cls")
    )
    parts = [typed]
    if domains is not None:
        parts.append(
            triples.join(F.broadcast(domains), "pred").select(
                F.col("subj").alias("entity"), F.col("cls")
            )
        )
    if ranges is not None:
        parts.append(
            triples.join(F.broadcast(ranges), "pred").select(
                F.col("obj").alias("entity"), F.col("cls")
            )
        )
    base = parts[0]
    for p in parts[1:]:
        base = base.unionAll(p)
    if subclass_edges is not None:
        clo = transitive_closure(
            subclass_edges, src="child", dst="parent", max_iters=max_iters
        ).select(F.col("node").alias("cls"), F.col("anc").alias("sup"))
        up = base.join(F.broadcast(clo), "cls").select(
            "entity", F.col("sup").alias("cls")
        )
        base = base.unionAll(up)
    return base.distinct()


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def match_pattern(
    triples: DataFrame,
    patterns: Sequence[tuple[str, str, str]],
) -> DataFrame:
    """Match a conjunctive set of triple patterns against the DISTINCT
    (subj, pred, obj) set and return one column per variable (SPARQL BGP
    semantics, set projection).  Pattern terms starting with ``?`` are
    variables; anything else is a constant equality filter.  A variable
    repeated inside one pattern constrains equality (e.g. ``(?x, p, ?x)``).

    Join order is greedy: the pattern with the most constants seeds the
    chain, then any pattern sharing a variable with the bound set joins
    next (most-constants-first among candidates).  Pattern sets whose
    variable graph is disconnected would need a cartesian product — at
    KG scale that is always a mistake, so they raise ``ValueError``
    instead of planning.  Every join is an equi-join on variable
    columns; constant-heavy patterns filter-before-join so AQE can
    broadcast the selective side.
    """
    pats = list(patterns)
    if not pats:
        raise ValueError("match_pattern requires at least one pattern")
    for p in pats:
        if len(p) != 3:
            raise ValueError(f"pattern must be a (s, p, o) triple, got {p!r}")
        if not any(_is_var(t) for t in p):
            raise ValueError(
                f"pattern {p!r} has no variables; all-constant existence "
                "checks are not supported (filter the triple frame instead)"
            )

    t = (
        triples.select("subj", "pred", "obj")
        .distinct()
        .localCheckpoint(eager=True)
    )

    def pattern_frame(p):
        df = t
        rename: dict[str, str] = {}  # var -> first position column
        for term, col in zip(p, ("subj", "pred", "obj")):
            if _is_var(term):
                v = term[1:]
                if v in rename:
                    df = df.filter(F.col(col) == F.col(rename[v]))
                else:
                    rename[v] = col
            else:
                df = df.filter(F.col(col) == term)
        return df.select(
            *[F.col(c).alias(v) for v, c in rename.items()]
        ), set(rename)

    def n_consts(p):
        return sum(0 if _is_var(term) else 1 for term in p)

    remaining = sorted(range(len(pats)), key=lambda i: (-n_consts(pats[i]), i))
    first = remaining.pop(0)
    acc, bound = pattern_frame(pats[first])
    while remaining:
        nxt = next(
            (i for i in remaining
             if bound & {term[1:] for term in pats[i] if _is_var(term)}),
            None,
        )
        if nxt is None:
            raise ValueError(
                "patterns are disconnected (no shared variable between "
                f"{sorted(bound)} and the remaining patterns) — a BGP "
                "cartesian product is refused at KG scale"
            )
        remaining.remove(nxt)
        frame, vs = pattern_frame(pats[nxt])
        acc = acc.join(frame, sorted(bound & vs))
        bound |= vs
    return acc.distinct()


def expand_ancestors(
    mentions: DataFrame,
    isa: DataFrame,
    concept_col: str = "concept_id",
    src: str = "child",
    dst: str = "parent",
) -> DataFrame:
    """Semantic-category expansion of detected mentions: one row per
    (mention, strict ancestor) pair under the ontology's is-a DAG —
    the coarser-granularity view evaluation and rollup queries consume
    (a CL:0000540 mention also counts as its CL:0000000 ancestor; the
    reference's eval groups work at such ancestor classes via the
    subtree machinery mirrored in kgpipe.filters.remove_subtree).
    Output = the mention columns + ``ancestor``; mentions whose concept
    has no ancestor produce no rows (union the originals for a
    reflexive view).

    Plan: the closure is computed once over the ONTOLOGY edge set
    (vocabulary-sized — thousands of nodes, never corpus-sized) and the
    mention join is a broadcast hash join on the concept id: zero
    shuffles of the corpus-side mentions.
    """
    closure = transitive_closure(isa, src=src, dst=dst)
    return mentions.join(
        F.broadcast(closure.select(
            F.col("node").alias(concept_col),
            F.col("anc").alias("ancestor"))),
        concept_col,
    )


def path_query(
    triples: DataFrame, steps: Sequence[Sequence[str]]
) -> DataFrame:
    """SPARQL 1.1 property-path evaluation for fixed-length paths of
    predicate ALTERNATIONS: ``steps=[["p1"], ["p2", "p3"]]`` matches
    ``?s p1/(p2|p3) ?o`` and returns the DISTINCT ``(start, end)``
    pairs.  The sequence (``/``) and alternation (``|``) operators —
    the arbitrary-length ``+``/``*`` closure operator is
    ``transitive_closure``; conjunctive patterns with shared variables
    are ``match_pattern``.

    One equi-join per step over the distinct (pred-filtered) edge set,
    with the frontier DISTINCT-ed and localCheckpointed between steps:
    duplicate path multiplicity never amplifies (the frontier is
    bounded by |V|² regardless of how many distinct paths connect a
    pair), and plan depth stays O(1).  Predicate filters push to the
    triple scan.
    """
    if not steps:
        raise ValueError("steps must name at least one predicate set")
    cur = None
    for alts in steps:
        alts = list(alts)
        if not alts:
            raise ValueError("each step needs >= 1 predicate")
        step = (
            triples.filter(F.col("pred").isin(alts))
            .select("subj", "obj")
            .distinct()
        )
        if cur is None:
            cur = step.select(
                F.col("subj").alias("start"), F.col("obj").alias("node"))
        else:
            cur = (
                cur.join(step, cur["node"] == step["subj"])
                .select("start", F.col("obj").alias("node"))
                .distinct()
            )
        cur = cur.localCheckpoint(eager=True)
    return cur.select("start", F.col("node").alias("end")).distinct()


def rule_mining_stats(
    triples: DataFrame, min_support: int = 1
) -> DataFrame:
    """AMIE-style same-argument rule statistics (Galárraga et al.,
    WWW 2013, the depth-1 case): for every ordered predicate pair
    ``p1 != p2``, the support of the rule ``p1(x,y) => p2(x,y)`` —
    ``(pred1, pred2, n_both, n_p1)`` where ``n_both`` counts distinct
    entity pairs carrying BOTH predicates and ``n_p1`` is p1's
    distinct-pair total, so standard confidence is the caller-side
    ``n_both / n_p1`` (integer-output policy).  Finds redundant /
    subsumed predicate families (e.g. a tight co-occurrence window
    implying a wide one) before they bloat the KG.

    One (subj, obj)-keyed self-join of the distinct triple set — the
    per-pair fan-out is bounded by the predicate VOCABULARY (an entity
    pair carries each predicate at most once after distinct), so the
    join is vocab²-bounded per key, never corpus-quadratic — plus one
    predicate-keyed total; the distinct edge set is localCheckpointed
    across its two references.
    """
    e = (
        triples.select("subj", "pred", "obj").distinct()
        .localCheckpoint(eager=True)
    )
    both = (
        e.alias("a").join(e.alias("b"), ["subj", "obj"])
        .filter(F.col("a.pred") != F.col("b.pred"))
        .groupBy(
            F.col("a.pred").alias("pred1"),
            F.col("b.pred").alias("pred2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .filter(F.col("n_both") >= int(min_support))
    )
    tot = e.groupBy(F.col("pred").alias("pred1")).agg(
        F.count(F.lit(1)).cast("long").alias("n_p1"))
    return both.join(tot, "pred1").select(
        "pred1", "pred2", "n_both", "n_p1")


def _path_pairs(triples: DataFrame, max_mid_out: Optional[int]):
    """Shared by path_rule_stats / apply_rules: the distinct labeled
    edge set plus the DISTINCT (x, y, pred1, pred2) endpoint pairs of
    mid-guarded length-2 paths (x != y), both localCheckpointed."""
    e = (
        triples.select("subj", "pred", "obj").distinct()
        .localCheckpoint(eager=True)
    )
    if max_mid_out is not None:
        ok_mids = (
            e.select("subj", "obj").distinct()
            .groupBy("subj").agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") <= max_mid_out)
            .select("subj")
        )
        right = e.join(ok_mids, "subj", "left_semi")
    else:
        right = e
    pairs = (
        e.alias("e1")
        .join(right.alias("e2"), F.col("e1.obj") == F.col("e2.subj"))
        .filter(F.col("e2.obj") != F.col("e1.subj"))
        .select(
            F.col("e1.subj").alias("x"), F.col("e2.obj").alias("y"),
            F.col("e1.pred").alias("pred1"),
            F.col("e2.pred").alias("pred2"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    return e, pairs


def path_rule_stats(
    triples: DataFrame,
    max_mid_out: Optional[int] = 100_000,
    min_support: int = 1,
) -> DataFrame:
    """AMIE path-rule statistics (Galárraga et al. 2013, the length-2
    horn-rule case completing ``rule_mining_stats``): for the rule
    ``p1(x,z) ∧ p2(z,y) => p3(x,y)``, the counts
    ``(pred1, pred2, pred3, n_support, n_pairs)`` where ``n_pairs`` is
    the number of distinct (x, y) entity pairs connected by a
    (p1, p2) path (x != y) and ``n_support`` counts those also
    carrying the DIRECT predicate p3 — standard confidence is the
    caller-side ``n_support / n_pairs`` (integer-output policy).
    Surfaces rules like "denotes/cooccursWith => denotes" that KG
    completion can then apply.

    A mid-guarded 2-path join (mids with entity fan-out >
    ``max_mid_out`` dropped before the join, default on), then ONE
    distinct on (x, y, p1, p2) — so the rule aggregates never see
    per-mid path multiplicity — one (x, y)-keyed join against the
    direct edge set (fan-out bounded by the predicate vocabulary), and
    two key-width aggregates.
    """
    e, pairs = _path_pairs(triples, max_mid_out)
    tot = pairs.groupBy("pred1", "pred2").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"))
    support = (
        pairs.join(
            e.select(F.col("subj").alias("x"),
                     F.col("pred").alias("pred3"),
                     F.col("obj").alias("y")),
            ["x", "y"],
        )
        .groupBy("pred1", "pred2", "pred3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_support"))
        .filter(F.col("n_support") >= int(min_support))
    )
    return support.join(tot, ["pred1", "pred2"]).select(
        "pred1", "pred2", "pred3", "n_support", "n_pairs")


def apply_rules(
    triples: DataFrame,
    rules: DataFrame,
    min_confidence_pct: int = 50,
    max_mid_out: Optional[int] = 100_000,
) -> DataFrame:
    """KG completion by horn-rule application — the consumer of
    ``path_rule_stats``: every mined rule whose exact-integer
    confidence clears ``min_confidence_pct`` (``n_support * 100 >=
    pct * n_pairs``) predicts its head predicate for each
    (pred1, pred2)-path-connected entity pair that does NOT already
    carry it — ``(subj, pred, obj, pred1, pred2)``, the provenance
    predicates kept so downstream review can audit why each triple was
    proposed (the AMIE prediction step, Galárraga et al. 2013).

    Reuses the mid-guarded distinct path-pair frame (one 2-path join,
    shared shape with path_rule_stats), broadcast-joins the
    vocabulary³-bounded qualifying-rule table onto it, and anti-joins
    the existing edge set — no step exceeds the path-pair count.
    """
    e, pairs = _path_pairs(triples, max_mid_out)
    good = rules.filter(
        F.col("n_support") * 100
        >= F.lit(int(min_confidence_pct)) * F.col("n_pairs")
    ).select("pred1", "pred2", F.col("pred3").alias("pred"))
    cand = pairs.join(F.broadcast(good), ["pred1", "pred2"])
    existing = e.select(
        F.col("subj").alias("x"), F.col("pred"), F.col("obj").alias("y"))
    return (
        cand.join(existing, ["x", "pred", "y"], "left_anti")
        .select(
            F.col("x").alias("subj"), "pred", F.col("y").alias("obj"),
            "pred1", "pred2",
        )
        .distinct()
    )
