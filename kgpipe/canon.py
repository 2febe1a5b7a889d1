"""Ontology-ID canonicalization via distributed union-find.

Concepts that share an identical normalized synonym, or that are linked by
OBO ``replaced_by``/``consider``/``xref`` edges, collapse to one canonical
id (the lexicographically smallest member).  The reference handles the
obsolete/replaced_by side driver-side during dictionary builds
(``ConceptMapperDictionaryFileFactory`` via OntologyUtil); shared-synonym
merging is our scale extension for entity canonicalization.

Algorithm: iterative min-label propagation over the edge DataFrame with a
**pointer-jumping** step each round (every node then adopts its label's
label — path doubling), so convergence is O(log diameter) rounds rather
than O(diameter): a 10^6-node chain resolves in ~20 rounds instead of
10^6.  ``localCheckpoint`` every round cuts the lineage chain so plans
don't grow exponentially (SURVEY.md §7 hard parts).  No GraphFrames
dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from .session import local_frame

#: a component map as a frame: concept id → its component representative
COMPONENTS = T.StructType([
    T.StructField("concept_id", T.StringType(), True),
    T.StructField("component", T.StringType(), True),
])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Return ``(node, component)`` where component = min node id reachable.

    Edges are undirected; self-loops and duplicates are tolerated.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # every iteration joins against sym — without a cache the whole
        # upstream edge derivation (e.g. a MinHash-LSH candidate join) is
        # re-executed per round
        .persist()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        # candidate labels via one hop
        prop = (
            sym.join(labels, sym["b"] == labels["node"])
            .select(F.col("a").alias("node"), F.col("component"))
        )
        hop = (
            labels.select("node", "component")
            .union(prop)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer jumping: adopt the label's own label (path doubling).
        # label(x) is reachable from x and labels only shrink toward the
        # component min, so composing labels stays inside the component
        # while halving the remaining chain length each round.
        jump = hop.select(
            F.col("node").alias("component"),
            F.col("component").alias("jumped"),
        )
        new_labels = (
            hop.join(jump, "component", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("jumped", "component")
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return labels


def synonym_edges(dictionary: DataFrame) -> DataFrame:
    """Concepts sharing a normalized variant → star edges to the group min.

    Star topology (every member → group minimum) yields the same connected
    components as the full clique but emits O(group) rows instead of
    O(group²) — the skew-proof choice when a generic synonym is shared by
    many concepts.
    """
    grouped = (
        dictionary.filter(F.col("variant_norm") != "")
        .groupBy("variant_norm")
        .agg(F.collect_set("concept_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.array_min("ids").alias("src"),
            F.explode("ids").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    return grouped


def _dsu_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Driver-side disjoint-set union with path compression; returns
    node → min-id component representative."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id becomes the root so the representative is deterministic
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def components_from_rows(rows: list[dict]) -> dict[str, str]:
    """Driver-side shared-synonym components straight from collected
    dictionary rows (no Spark jobs): group concept ids by variant_norm,
    star-edge each group to its min, DSU the edges."""
    by_variant: dict[str, set[str]] = {}
    for r in rows:
        vn = r.get("variant_norm") or ""
        if vn:
            by_variant.setdefault(vn, set()).add(r["concept_id"])
    edges: list[tuple[str, str]] = []
    for ids in by_variant.values():
        if len(ids) > 1:
            lo = min(ids)
            edges.extend((lo, other) for other in ids if other != lo)
    return _dsu_components(edges)


def _attach_components(mentions: DataFrame, comp: DataFrame) -> DataFrame:
    return (
        mentions.join(F.broadcast(comp), "concept_id", "left")
        .withColumn("canonical_id", F.coalesce("component", "concept_id"))
        .drop("component")
    )


def canonicalize_with_map(mentions: DataFrame, comp_map: dict[str, str]) -> DataFrame:
    """Attach canonical_id given a precomputed component map (broadcast;
    the map frame is Arrow-decoded in the JVM, so no Python worker runs
    when the broadcast is built)."""
    comp = local_frame(mentions.sparkSession, list(comp_map.items()), COMPONENTS)
    return _attach_components(mentions, comp)


#: driver-side union-find refuses edge lists past this bound (an ontology
#: synonym graph is 10^4–10^6 edges; anything bigger means a caller leaked
#: corpus-derived edges into the driver path)
MAX_DRIVER_EDGES = 5_000_000


def canonicalize(
    mentions: DataFrame,
    dictionary: DataFrame,
    extra_edges: DataFrame | None = None,
    driver_side: bool = True,
) -> DataFrame:
    """Attach ``canonical_id`` to mentions: the component representative of
    the mention's concept under shared-synonym (+ optional ontology) edges.

    The synonym graph is ontology-sized (10^4–10^6 nodes — tiny next to the
    10^12-turn corpus), so by default the union-find runs **driver-side**
    and the map ships back as a broadcast frame.  A dictionary from
    ``build_dictionary_df`` carries its driver rows, so without
    *extra_edges* the map comes straight from them
    (``components_from_rows``) and this call starts no Spark job.  Any
    other dictionary, or *extra_edges*, costs one shuffle + collect job for
    the pre-aggregated edge list, refused past ``MAX_DRIVER_EDGES``.
    ``driver_side=False`` switches to the distributed min-label propagation
    (``connected_components``) for graphs that genuinely exceed driver
    memory."""
    rows = getattr(dictionary, "_kgpipe_local_rows", None)
    if driver_side and extra_edges is None and rows is not None:
        return canonicalize_with_map(mentions, components_from_rows(rows))
    edges = synonym_edges(dictionary)
    if extra_edges is not None:
        edges = edges.unionByName(extra_edges.select("src", "dst"))
    if not driver_side:
        comp = connected_components(edges).withColumnRenamed(
            "node", "concept_id"
        )
        return _attach_components(mentions, comp)
    # the driver-side contract is ONTOLOGY-sized edge lists; a caller
    # feeding corpus-derived extra_edges would silently collect the
    # corpus onto the driver.  Make the contract explicit: refuse past
    # a bound and direct to the distributed path.
    edge_rows = edges.limit(MAX_DRIVER_EDGES + 1).collect()
    if len(edge_rows) > MAX_DRIVER_EDGES:
        raise ValueError(
            f"canonicalize(driver_side=True) saw more than "
            f"{MAX_DRIVER_EDGES:,} synonym edges — this is no longer "
            "ontology-sized; pass driver_side=False to run the "
            "distributed connected_components instead"
        )
    return canonicalize_with_map(
        mentions, _dsu_components([(r["src"], r["dst"]) for r in edge_rows])
    )


def ontology_merge_edges(terms) -> list[tuple[str, str]]:
    """Driver-side helper: ``replaced_by``/``consider`` edges from parsed OBO
    Terms (obsolete-term redirection, cf. ``oboFiles/cl-basic.obo``
    ``replaced_by``/``consider`` stanzas)."""
    out: list[tuple[str, str]] = []
    for t in terms:
        if t.replaced_by:
            out.append((t.id, t.replaced_by))
        for c in t.consider:
            out.append((t.id, c))
    return out


def rewrite_triples(
    triples, sameas, id_col: str = "id", canon_col: str = "canon"
):
    """owl:sameAs-style rewrite of an EXISTING triple table through a
    canonicalization map (the union-find output of
    ``connected_components`` / ``match_merge_map``, or any
    (id, canon) frame): every subj/obj that appears in the map is
    replaced by its canonical id, everything else passes through, all
    other columns are preserved, and the triple MULTISET is kept
    (dedup after merging is the caller's ``distinct()`` — merged
    duplicates are often the signal, e.g. for support counting).
    ``canonicalize`` rewrites mentions BEFORE triple construction;
    this is the complementary after-the-fact path for graphs already
    materialized when the merge map was learned.

    Two broadcast left joins + coalesce — the map is entity-vocabulary
    sized (synonym merges), never corpus sized, so no shuffle touches
    the triple table.
    """
    from pyspark.sql import functions as F

    s = F.broadcast(sameas.select(
        F.col(id_col).alias("_sid"), F.col(canon_col).alias("_scanon")))
    o = F.broadcast(sameas.select(
        F.col(id_col).alias("_oid"), F.col(canon_col).alias("_ocanon")))
    return (
        triples
        .join(s, triples["subj"] == s["_sid"], "left")
        .withColumn("subj", F.coalesce("_scanon", "subj"))
        .drop("_sid", "_scanon")
        .join(o, F.col("obj") == o["_oid"], "left")
        .withColumn("obj", F.coalesce("_ocanon", "obj"))
        .drop("_oid", "_ocanon")
    )
