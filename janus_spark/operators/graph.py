"""Distributed PageRank over an edge DataFrame — link-graph quality
weighting for corpus curation (rank web domains / documents by citation
structure before sampling).  The reference has no graph operators at
all; this is part of the training-data pipeline suite.

Implementation notes (scale-first):
- Pure DataFrame joins + aggregations: rank contributions flow
  ``ranks ⋈ edges`` on src, then aggregate on dst — two hash shuffles
  per iteration, both on node id, so AQE coalesces them and a hot page
  (skewed in-degree) is handled by skew-join splitting.
- Out-degrees are computed once and reused every iteration.
- Dangling nodes (no out-links) would leak rank mass; their total mass
  is a scalar per iteration (tiny driver-side aggregate, not a
  collect of rows) redistributed uniformly — the standard treatment.
- Each iteration ends in ``localCheckpoint(eager=False)`` semantics via
  plan reuse: we deliberately keep the loop short (default 3-10
  iterations); for deep iteration counts callers should checkpoint —
  lineage doubles per round otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 8,
    seeds: list | None = None,
    weight: str | None = None,
) -> DataFrame:
    """Iterate PageRank on a directed graph given as an edge list.
    Returns ``(id, rank)`` with ranks summing to 1.  Duplicate edges are
    collapsed (an edge's multiplicity does not multiply its vote).

    ``seeds``: personalized PageRank — the teleport (and dangling-mass
    redistribution) targets only the seed node ids, so rank measures
    proximity TO THE SEEDS rather than global centrality (topic-focused
    corpus weighting: seed with known-good domains, sample by rank).
    Seeds are embedded as an ``isin`` literal — fine to thousands; for
    a huge seed set swap the membership test for a broadcast semi-join
    flag.  ``seeds=None`` keeps the uniform teleport (global PageRank,
    bit-identical to the previous formulation).

    ``weight``: column of positive edge weights — each node splits its
    rank across out-edges ∝ weight (duplicate (src, dst) pairs sum
    their weights).  ``None`` keeps the unweighted form (duplicate
    edges collapsed, rank split by out-degree)."""
    if weight is None:
        e = edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), F.lit(1.0).alias("w")
        ).distinct()
    else:
        e = (
            edges.select(
                F.col(src).alias("src"),
                F.col(dst).alias("dst"),
                F.col(weight).cast("double").alias("w"),
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    # materialize ONCE: every round re-joins e, and an expression-
    # bearing edge plan gets constraint-inference re-applied per
    # round, composing the pushed-down scan filter exponentially
    # (64KB codegen blowup); an RDD-backed e keeps rounds O(1)
    e = e.localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    # out-strength: Σw per src (== out-degree when unweighted, exactly —
    # a sum of 1.0s — so the unweighted gates stay bit-identical)
    deg = e.groupBy("src").agg(F.sum("w").alias("deg"))
    if seeds is None:
        is_seed = F.lit(True)
        n_t = n
    else:
        is_seed = F.col("id").isin(list(seeds))
        n_t = len(set(seeds))
        if n_t == 0:
            raise ValueError("seeds must be non-empty (or None for uniform)")
    ranks = nodes.withColumn(
        "rank", F.when(is_seed, F.lit(1.0 / n_t)).otherwise(F.lit(0.0))
    )

    for i in range(iterations):
        contrib = (
            ranks.join(deg, ranks.id == deg.src, "inner")
            .join(e, "src")
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") * F.col("w") / F.col("deg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        # rank mass sitting on dangling nodes this round (scalar)
        dangling = (
            ranks.join(deg, ranks.id == deg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        base = (1.0 - damping) / n_t + damping * dangling / n_t
        ranks = (
            nodes.join(contrib, "id", "left")
            .select(
                "id",
                (
                    F.when(is_seed, F.lit(base)).otherwise(F.lit(0.0))
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts on an undirected simple graph given as an
    edge list (self-loops and duplicate/reverse edges collapsed).
    Returns ``(id, n_triangles)`` for nodes in at least one triangle —
    the basis for clustering-coefficient curation signals (spam link
    farms score near-cliques; organic link graphs don't).

    Scale: the naive wedge join explodes on hot nodes (the "curse of the
    last reducer") — a degree-10⁶ hub yields 10¹² wedges.  The standard
    cure (Suri & Vassilvitskii, WWW'12) orients every edge from its
    lower-(degree, id) endpoint to the higher, so wedges are only built
    at each triangle's *minimum-order* vertex: out-degrees are bounded
    by O(√m), total wedge volume by O(m^{3/2}), and every triangle is
    enumerated exactly once — no /3 correction, no double counting.
    All joins are equi-joins on node ids (AQE-splittable); the struct
    comparison for orientation is map-side.

    The canonical edge list and the oriented edge list are each
    materialized ONCE (localCheckpoint; DISK_ONLY persist or a staged
    parquet write is the cluster form): ``canon`` feeds the degree
    aggregate and the orientation join, ``oriented`` feeds both wedge
    sides and the closing semi-join — without the checkpoint Catalyst
    re-evaluates the whole upstream (often an expensive edge-building
    self-join) once per differently-projected reference, the same
    pathology fixed for the dedup self-joins."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    canon = (
        e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return _triangle_count_from(canon, _edge_degrees(canon), n_edges=canon.count())


def _triangle_broadcast_cap() -> int:
    """The one source of truth for the triangle broadcast size gate
    (edges): below it the forward/broadcast plans run, above it the
    shuffling sort-merge plans (the 100 TB default).  Read per call so a
    test can flip the env var, but from exactly one place — the core and
    clustering_coefficient's output join must agree within a call."""
    import os

    return int(os.environ.get("JANUS_TRIANGLE_BROADCAST_EDGES", "4000000"))


def _edge_degrees(canon: DataFrame) -> DataFrame:
    """(id, deg) over a canonical (a < b, deduped) edge list — lazily
    checkpointed because every consumer references it at least twice
    (both orientation-join sides; clustering also the output join), and
    each reference would otherwise re-run the full edge aggregate."""
    return (
        canon.select(F.col("a").alias("id"))
        .unionByName(canon.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=False)
    )


def _triangle_count_from(
    canon: DataFrame, deg: DataFrame, n_edges: int | None = None
) -> DataFrame:
    """Oriented-wedge triangle counts over a PRE-canonicalized,
    materialized edge list and its degree table — the shared core of
    :func:`triangle_count` and :func:`clustering_coefficient`, split out
    so the latter does not pay the canonicalization distinct + edge
    materialization + degree aggregate twice (it did, through r10-build:
    one copy in each function — a duplicate full-edge shuffle, distinct,
    and checkpoint per call).

    ``n_edges``: the caller's ``canon.count()`` if it already ran one
    (clustering_coefficient needs the flag for its own output join);
    None counts here — cheap, canon is checkpoint-materialized."""
    cap = _triangle_broadcast_cap()
    if n_edges is None:
        n_edges = canon.count()
    small = n_edges <= cap
    # The degree table is node-scale (≤ 2·|E| rows of two longs) while
    # canon is edge-scale, and deg is RDD-backed (stats-less) so both
    # orientation joins default to sort-merge — three edge-scale
    # exchanges + sorts inside the `oriented` materialization job just
    # to attach two ints per edge.  Under the same size gate as the
    # wedge joins below, broadcast deg instead: orientation becomes a
    # map-side double hash probe over the already-materialized canon.
    # Above the cap the SMJ plan is byte-identical to before.
    dega = deg.select(F.col("id").alias("a"), F.col("deg").alias("da"))
    degb = deg.select(F.col("id").alias("b"), F.col("deg").alias("db"))
    if small:
        dega = F.broadcast(dega)
        degb = F.broadcast(degb)
    ed = canon.join(dega, "a").join(degb, "b")
    ka = F.struct(F.col("da").alias("d"), F.col("a").alias("i"))
    kb = F.struct(F.col("db").alias("d"), F.col("b").alias("i"))
    proj = [
        F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
    ]
    if not small:
        # the orientation key is only consulted by the wedge path's
        # k1 < k2 cut; the forward path orders by set membership alone
        proj.append(F.when(ka < kb, kb).otherwise(ka).alias("kv"))
    oriented = ed.select(*proj).localCheckpoint(eager=True)
    if small:
        # Below the cap: the FORWARD / edge-iterator formulation (Schank
        # & Wagner 2005) instead of materializing the wedge stream as
        # rows.  Attach each oriented edge (a≺b)'s two out-neighbor
        # lists and intersect: w ∈ N⁺(a) ∩ N⁺(b) closes triangle
        # {a≺b≺w}, counted exactly once at its two smallest vertices —
        # the same triangle set as the oriented-wedge join (a and b get
        # +|common| map-side; each w gets +1), so the per-node counts
        # are identical integers (pinned by an exceptAll A/B and the
        # gate oracles).  Same O(Σ min(deg)) work bound, but the
        # O(m^{3/2}) wedge stream (41M rows / ~1 GB at the 1.2M-edge
        # gate fixture) never exists as rows — measured 5.9 → 2.1 s on
        # the triangle segment.  The adjacency-array table is one
        # groupBy over the oriented list (total payload = m longs,
        # ≤ 32 MB at the cap) and is broadcast, so both attach joins
        # are map-side.
        adj = F.broadcast(oriented.groupBy("u").agg(F.collect_list("v").alias("nb")))
        e2 = (
            oriented.select("u", "v")
            .join(adj.select("u", F.col("nb").alias("na")), "u")
            # inner join: a v with no out-edges has empty N⁺(v) and
            # closes nothing — dropping its edges is the same result
            .join(adj.select(F.col("u").alias("v"), F.col("nb").alias("nvb")), "v")
            .select(
                "u",
                "v",
                F.array_intersect("na", "nvb").alias("common"),
            )
            .select("u", "v", "common", F.size("common").alias("t"))
        )
        # ONE pass over e2 (ADVICE r10: the former uv/ww union branches
        # each re-ran the broadcast joins + array_intersect): an edge
        # with t closing vertices contributes (u, t), (v, t) and (w, 1)
        # per w ∈ common — emitted together from a single projection.
        # Edges with t = 0 emit nothing on either branch (common is
        # empty and the uv rows were t > 0-filtered), so filtering them
        # first is the same multiset.
        closing = e2.where(F.col("t") > 0)
        uvarr = F.array(
            F.struct(F.col("u").alias("id"), F.col("t").alias("w")),
            F.struct(F.col("v").alias("id"), F.col("t").alias("w")),
        )
        warr = F.transform(
            "common",
            lambda c: F.struct(c.alias("id"), F.lit(1).alias("w")),
        )
        contrib = closing.select(
            F.explode(F.concat(uvarr, warr)).alias("c")
        ).select(F.col("c.id").alias("id"), F.col("c.w").alias("w"))
        return contrib.groupBy("id").agg(
            F.sum("w").cast("long").alias("n_triangles")
        )
    # Above the cap (env JANUS_TRIANGLE_BROADCAST_EDGES, default 4M
    # edges): the oriented-WEDGE join plan, unchanged — at 100 TB the
    # wedge-row stream shuffles and AQE handles its skew, and unlike the
    # adjacency-array form no single row can blow up with a hub node's
    # degree (the reason this stays the scale default).  The oriented
    # list is RDD-backed (stats-less), so both joins are sort-merge.
    wedge_build = oriented.select(
        "u", F.col("v").alias("v2"), F.col("kv").alias("k2")
    )
    closure_probe = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    wedges = (
        oriented.select("u", F.col("v").alias("v1"), F.col("kv").alias("k1"))
        .join(wedge_build, "u")
        .where(F.col("k1") < F.col("k2"))
        .select("u", "v1", "v2")
    )
    tri = wedges.join(closure_probe, ["v1", "v2"], "semi")
    # ONE evaluation of the triangle stream: the former 3-way union of
    # (u), (v1), (v2) projections re-ran everything after the reused
    # exchanges once per branch.  explode(array(...)) emits the same
    # (id) multiset — one row per triangle corner — in a single pass.
    members = tri.select(
        F.explode(F.array("u", "v1", "v2")).alias("id")
    )
    return members.groupBy("id").agg(F.count("*").alias("n_triangles"))


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_hops: int = 20,
) -> DataFrame:
    """Multi-source BFS: minimum hop count from any seed to every
    reachable node.  Returns ``(id, hops)`` with seeds at 0.

    Frontier iteration, not closure materialization: each round joins
    only the NEW frontier against the edge list (one shuffle on src),
    anti-joins out already-visited nodes, and stops early when the
    frontier empties — O(diameter) rounds, per-round shuffle bounded by
    the frontier size, never the full reachability set, which is what
    separates this from the `p+` closure operator
    (compiler property-path closure) at 100 TB.  ``localCheckpoint``
    per round caps lineage growth (same treatment as pagerank).
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        # materialize ONCE: every round re-joins e, and an expression-
        # bearing edge plan gets constraint-inference re-applied per
        # round, composing the pushed-down scan filter exponentially
        # (64KB codegen blowup); an RDD-backed e keeps rounds O(1)
        .localCheckpoint()
    )
    visited = seeds.select(F.col(id_col).alias("id")).distinct().withColumn(
        "hops", F.lit(0).cast("long")
    ).localCheckpoint()
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.id == e.src, "inner")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .withColumn("hops", F.lit(hop).cast("long"))
        )
        nxt = nxt.localCheckpoint()
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return visited


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    id_col: str = "id",
    max_hops: int = 20,
) -> DataFrame:
    """Multi-source weighted shortest paths (distributed Bellman-Ford):
    min total edge weight from any seed, hop-bounded.  Returns
    ``(id, dist)`` for reachable nodes, seeds at 0.0.

    Per round: relax every edge out of nodes whose distance improved
    last round (the "active" frontier, the standard Bellman-Ford
    work-skipping refinement), min-merge into the distance table — two
    shuffles per round (join on src, min-groupBy on id); stops early
    when no distance improves.  Negative edges are rejected (with a
    hop bound they would still terminate, but "shortest" then needs the
    bound as part of the contract; corpus graphs are non-negative).
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).cast("double").alias("w")
    ).localCheckpoint()  # materialize once: see bfs_hops edge note
    if e.where(F.col("w") < 0).limit(1).count() > 0:
        raise ValueError("shortest_paths requires non-negative edge weights")
    dist = (
        seeds.select(F.col(id_col).alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0.0))
        .localCheckpoint()
    )
    active = dist
    for _ in range(max_hops):
        cand = (
            active.join(e, active.id == e.src, "inner")
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
        merged = (
            dist.unionByName(cand)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        # a node is active next round iff its distance strictly improved
        active = (
            merged.alias("m")
            .join(dist.alias("d"), "id", "left")
            .where(F.col("d.dist").isNull() | (F.col("m.dist") < F.col("d.dist")))
            .select("id", F.col("m.dist").alias("dist"))
            .localCheckpoint()
        )
        if active.isEmpty():
            return merged
        dist = merged
    return dist


def harmonic_centrality(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_hops: int = 12,
    round_out: int = 6,
) -> DataFrame:
    """Sampled harmonic centrality: C(v) = Σ_{s∈S, d(s,v)≥1} 1/d(s,v)
    over a SOURCE SAMPLE S — the standard scalable estimator (Eppstein &
    Wang 2004-style pivot sampling); exact when S is all nodes.

    One KEYED multi-source BFS: the frontier carries (source, node)
    pairs, so all |S| traversals share every round's single shuffle
    instead of looping per source — per-round cost is one join of the
    combined frontier against the edge list, bounded by
    Σ frontier sizes, never |S| × |V|.

    Exactness: 1/d summed per node is an UNORDERED double sum (last-ulp
    trap); instead each term is the integer lcm(1..max_hops)/d, summed
    as exact bigints and divided by the lcm ONCE — bit-reproducible in
    any engine.  ``max_hops`` ≤ 42 keeps the lcm in a bigint.

    Returns (id, n_reached, harmonic) for every node reached by ≥1
    source (sources themselves appear when reached by ANOTHER source).
    """
    import math

    if max_hops > 42:
        raise ValueError("max_hops > 42 overflows the exact lcm trick")
    lcm = math.lcm(*range(1, max_hops + 1))
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        # materialize ONCE: every round re-joins e, and an expression-
        # bearing edge plan gets constraint-inference re-applied per
        # round, composing the pushed-down scan filter exponentially
        # (64KB codegen blowup); an RDD-backed e keeps rounds O(1)
        .localCheckpoint()
    )
    visited = (
        sources.select(F.col(id_col).alias("source"))
        .distinct()
        .select("source", F.col("source").alias("id"), F.lit(0).cast("long").alias("hops"))
        .localCheckpoint()
    )
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.id == e.src, "inner")
            .select("source", F.col("dst").alias("id"))
            .distinct()
            .join(visited, ["source", "id"], "left_anti")
            .withColumn("hops", F.lit(hop).cast("long"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    reached = visited.where(F.col("hops") > 0)
    return (
        reached.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            # exact: lcm % hops == 0; DECIMAL sum — at max_hops 42 the
            # lcm is ~9.4e17, so a bigint sum overflows past ~9 sources
            F.sum(F.expr(f"{lcm} div hops").cast("decimal(38,0)")).alias("__s"),
        )
        .select(
            "id",
            "n_reached",
            F.round(F.col("__s").cast("double") / F.lit(float(lcm)), round_out).alias("harmonic"),
        )
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node: ``2·tri(v) / (deg(v)·
    (deg(v)−1))`` over the undirected simple graph — how close a node's
    neighborhood is to a clique.  Spam link farms score near 1, organic
    citation graphs much lower, which makes this a curation signal on
    top of :func:`triangle_count` (same oriented-wedge plan, so the
    O(m^{3/2}) wedge bound carries over; the extra work is one degree
    aggregate and one join on node id).

    Exactness: tri and deg are integers and the coefficient is ONE
    division of identical integer operands, so any engine reproduces the
    double bit-for-bit (no rounding applied — see the exactness
    playbook: rounding a derived double is the divergence, the raw
    division is not).

    Returns (id, deg, n_triangles, coeff) for nodes with deg ≥ 2.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    # materialize the canonical edge list once: it feeds the degree
    # aggregate here AND every reference inside triangle_count — without
    # this the (often expensive) edge-building upstream re-evaluates per
    # reference (see triangle_count's scale note)
    canon = (
        e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # ONE degree table serves the output (deg >= 2 filter applied here)
    # and the orientation inside the shared triangle core — and the
    # already-canonical edge list is passed straight to that core, so
    # the former second canonicalization (distinct + checkpoint + degree
    # aggregate inside triangle_count) is gone
    deg_all = _edge_degrees(canon)
    deg = deg_all.where(F.col("deg") >= 2)
    cap = _triangle_broadcast_cap()
    n_edges = canon.count()
    tri = _triangle_count_from(canon, deg_all, n_edges=n_edges)
    # tri is node-scale output of an aggregate over an RDD-backed
    # lineage (no stats → SMJ by default): under the same size gate,
    # broadcast it so the deg side is never shuffled for the output join
    if n_edges <= cap:
        tri = F.broadcast(tri)
    out = deg.join(tri, "id", "left").select(
        "id",
        F.col("deg").cast("long").alias("deg"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
    )
    return out.withColumn(
        "coeff",
        (F.col("n_triangles") * 2).cast("double")
        / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
    )


def khop_neighbor_agg(
    edges: DataFrame,
    features: DataFrame,
    k: int = 2,
    seeds: DataFrame | None = None,
    id_col: str = "id",
    feat_col: str = "feat",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """K-hop neighborhood feature aggregation — the GraphSAGE-style
    sampling/aggregation step of a GNN training-data pipeline: for each
    (seed) node, the count and mean feature of all DISTINCT nodes within
    ≤k undirected hops (self excluded) that carry a feature row.

    Plan: per hop one equi-join frontier⋈edges + one distinct — the
    same bounded-frontier shape as :func:`bfs_hops`; the normalized
    edge list is ``localCheckpoint``-ed ONCE so Catalyst never re-infers
    constraints through the loop (the exponential-codegen pitfall), and
    each round's pair set is checkpointed before the next join.  The
    final aggregate shuffles once on the seed id.

    Exactness: features are summed in integer cents (DECIMAL(38,0)) and
    the mean is a fixed two-division tree over exact operands —
    cross-engine bit-identical.

    Returns (id, n_neighbors, mean_feat).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if seeds is not None:
        pairs = sym.join(
            seeds.select(F.col(id_col).alias("a")).distinct(), "a", "semi"
        )
    else:
        pairs = sym
    reach = pairs  # (a=seed, b=node within <=hop hops)
    for _ in range(k - 1):
        reach = (
            reach.select("a", F.col("b").alias("m"))
            .join(sym.select(F.col("a").alias("m"), "b"), "m")
            .select("a", "b")
            .unionByName(reach)
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
    cents = (F.col(feat_col).cast("decimal(18,2)") * 100).cast("decimal(38,0)")
    feats = features.select(F.col(id_col).alias("b"), cents.alias("__c"))
    return (
        reach.join(feats, "b")
        .groupBy(F.col("a").alias("id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_neighbors"),
            F.sum("__c").alias("__s"),
        )
        .select(
            "id",
            "n_neighbors",
            (
                (F.col("__s").cast("double") / F.col("n_neighbors")) / 100.0
            ).alias("mean_feat"),
        )
    )


def global_rank(df: DataFrame, order_cols: list[str]) -> tuple[DataFrame, int]:
    """Dense 0-based rank of ``df``'s rows by ``order_cols`` WITHOUT a
    single-partition window, and the row total.

    Phase 1: range-partition on the sort key (partition p holds smaller
    keys than p+1) and ROW_NUMBER within each partition — each task
    sorts only its slice.  Phase 2: one collect of the per-partition
    counts (≤ #partitions rows) gives the cumulative offsets and the
    total; the offsets ride back as a literal array indexed by partition
    id, so the rank is local rank + offset with no join.  The result is
    invariant to where the sampled range boundaries fall.  Returns
    (``__rank`` + ``df``'s columns, total)."""
    nparts = max(2, df.sparkSession.sparkContext.defaultParallelism)
    keys = [F.col(c) for c in order_cols]
    local = (
        df.repartitionByRange(nparts, *keys)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__r", F.row_number().over(Window.partitionBy("__pid").orderBy(*keys)))
        .localCheckpoint(eager=False)
    )
    counts = dict(local.groupBy("__pid").count().collect())
    offsets, total = [], 0
    for pid in range(max(counts, default=-1) + 1):
        offsets.append(total)
        total += counts.get(pid, 0)
    off = F.element_at(F.array(*map(F.lit, offsets)), F.col("__pid") + 1) if offsets else F.lit(0)
    rank = (F.col("__r") - 1 + off).cast("long").alias("__rank")
    return local.select(rank, *df.columns), total


def negative_edges(
    edges: DataFrame,
    dst_nodes: DataFrame,
    m: int = 5,
    seed: int = 7,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """Deterministic hash-based negative sampling for link prediction:
    for every distinct source node, propose ``m`` candidate destinations
    by hashing (seed, src, slot) into the destination index space, then
    anti-join the real edge set — the negatives every
    contrastive/link-prediction trainer needs, reproducible across runs
    and engines (md5 hash family, no RNG).

    Plan: destinations get a dense 0..n-1 index in id-sort order via
    ``global_rank`` (distributed: no global-window single-partition
    bottleneck, so the destination universe scales to the cluster, not
    to one executor); its one collect also yields the modulo count.
    Candidates are a map-side explode of ``m`` slots per source (no
    cross join), then two equi-joins: index→node id, and a left-anti
    against the edge list.  Collisions with real edges or self-loops
    simply drop, so callers asking for exactly-m should over-sample
    (standard practice).

    Returns (src, dst, slot) — slot identifies the hash draw so
    downstream shuffles/repartitions can't reorder samples ambiguously.
    """
    from janus_spark.datapipe.dedup import shared_hash64

    n = dst_nodes.select(F.col(id_col).alias("__dst")).distinct()
    ranked, n_dst = global_rank(n, ["__dst"])
    if n_dst == 0:
        raise ValueError("dst_nodes is empty")
    idx = ranked.select("__dst", F.col("__rank").alias("__i"))
    srcs = edges.select(F.col(src).alias("__src")).distinct()
    cand = srcs.select(
        "__src", F.explode(F.array([F.lit(i) for i in range(m)])).alias("slot")
    ).withColumn(
        "__i",
        shared_hash64(
            F.concat_ws(":", F.lit(seed), F.col("__src"), F.col("slot")), None
        )
        % n_dst,
    )
    cand = cand.join(idx, "__i").select("__src", "__dst", "slot")
    real = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst")).distinct()
    return (
        cand.join(real, ["__src", "__dst"], "left_anti")
        .where(F.col("__src") != F.col("__dst"))
        .select(
            F.col("__src").alias("src"), F.col("__dst").alias("dst"), "slot"
        )
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_middle_deg: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Neighborhood link prediction over an undirected graph: for every
    NON-adjacent pair (u, v) with at least ``min_common`` common
    neighbors, the common-neighbor count and the resource-allocation
    index RA(u,v) = Σ_{w ∈ Γ(u)∩Γ(v)} 1/deg(w) (Zhou, Lü & Zhang 2009
    — the consistently strongest of the cheap local indices; Adamic-
    Adar's log-damped cousin).  Corpus-curation use: propose missing
    citation/co-occurrence edges before graph-weighted sampling, or
    score candidate hard-negative pairs by structural proximity.

    ``max_middle_deg``: hub damping — only middles with
    deg(w) <= max_middle_deg generate wedges.  This is BOTH the scale
    bound (the wedge join is Σ deg(w)² over middles, so one celebrity
    hub otherwise owns the stage) and standard RA practice (a hub's
    1/deg term is ~0; dropping it changes scores negligibly while
    removing the quadratic blowup).  ``None`` keeps every middle.

    Exactness: 1/deg terms are summed as 18-digit fixed-point integers
    (``10^18 div deg`` — bigint-exact floor division, deg >= 1) in a
    DECIMAL(38,0) accumulator and divided by 1e18 ONCE at the end, so
    the score is bit-identical in any engine and any accumulation
    order (see harmonic_centrality for the same discipline).

    Plan: canonical edge list materialized ONCE (three consumers:
    degree count, wedge join, adjacency anti-join); degrees are one
    shuffle; wedges are adj ⋈ adj on the middle id (equi-join, AQE
    splits residual skew); the pair aggregate and the anti-join against
    existing edges shuffle on the canonical (u, v) key.  Candidates
    carry only ids and one bigint — no payload columns cross the
    wedge shuffle."""
    _SCALE = 10**18
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    adj = e.select(F.col("a").alias("w"), F.col("b").alias("nb")).unionByName(
        e.select(F.col("b").alias("w"), F.col("a").alias("nb"))
    )
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("deg"))
    mid = adj.join(deg, "w")
    if max_middle_deg is not None:
        mid = mid.where(F.col("deg") <= max_middle_deg)
    # ra term before the wedge join: one bigint per adjacency row,
    # replicated (not recomputed) into each wedge.
    mid = mid.withColumn("term", F.expr(f"{_SCALE} div deg"))
    x, y = mid.alias("x"), mid.alias("y")
    wedges = (
        x.join(y, "w")
        .where(F.col("x.nb") < F.col("y.nb"))
        .select(
            F.col("x.nb").alias("u"),
            F.col("y.nb").alias("v"),
            F.col("x.term").alias("term"),
        )
    )
    pairs = (
        wedges.groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum(F.col("term").cast("decimal(38,0)")).alias("__ra_s"),
        )
        .where(F.col("cn") >= min_common)
    )
    non_adjacent = pairs.join(
        e,
        (pairs["u"] == e["a"]) & (pairs["v"] == e["b"]),
        "left_anti",
    )
    return non_adjacent.select(
        "u",
        "v",
        "cn",
        (F.col("__ra_s").cast("double") / F.lit(float(_SCALE))).alias("ra"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007), made DETERMINISTIC: every node starts with
    its own id as label and each round adopts the most frequent label
    among its neighbors, ties broken by the smallest label; all nodes
    update simultaneously from the previous round's labels.  The
    asynchronous/random variants converge faster but are
    seed-dependent — for a data-pipeline operator (cluster crawl
    domains / co-purchase groups before per-community sampling), a
    reproducible answer is worth the fixed iteration count, and the
    synchronous+min-tie-break rule is reproducible in ANY engine
    (plain integer counts and comparisons — the oracle runs the same
    three rounds in SQL).

    Returns ``(id, community)`` for every node with at least one edge.

    Plan: per round, one equi-join of the (checkpointed) adjacency
    against the current labels on the neighbor id and one two-level
    aggregate — groupBy (node, label) count, then per-node argmax via
    ``min(struct(-cnt, label))`` (no window, no sort).  Labels are
    localCheckpoint-ed per round: the frame is re-joined next round
    and lineage would otherwise double (see the module-head note on
    constraint-inference blowup in iterative plans)."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    adj = e.select(F.col("a").alias("w"), F.col("b").alias("nb")).unionByName(
        e.select(F.col("b").alias("w"), F.col("a").alias("nb"))
    ).localCheckpoint(eager=True)
    labels = adj.select(F.col("w").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        votes = (
            adj.join(labels.withColumnRenamed("id", "nb"), "nb")
            .groupBy(F.col("w").alias("id"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.groupBy("id")
            .agg(
                F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("lbl").alias("l")))
                .alias("best")
            )
            .select("id", F.col("best.l").alias("lbl"))
            .localCheckpoint(eager=True)
        )
    return labels.select("id", F.col("lbl").alias("community"))


def edge_support(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-EDGE triangle support — the k-truss building block (Cohen
    2008): support(u,v) = number of triangles containing the edge.
    Graph-curation use: low-support edges in a co-occurrence/link graph
    are noise (one-off co-purchases, crawl artifacts) while
    high-support edges sit inside dense communities — filtering
    ``support >= k-2`` is one peeling step of the k-truss and is often
    all the denoising a sampling pipeline needs.

    Returns ``(a, b, support)`` for every canonical (a < b) edge,
    INCLUDING support-0 edges (peeling needs them).

    Scale: identical skeleton to ``triangle_count`` — Suri-
    Vassilvitskii degree orientation bounds wedge volume at O(m^{3/2})
    and enumerates each triangle exactly once; the only additions are
    the explode of each triangle into its three canonical edges
    (map-side) and one count shuffle on the edge key, plus the outer
    join back to the edge list for the zeros."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    canon = (
        e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        canon.select(F.col("a").alias("id"))
        .unionByName(canon.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    ed = canon.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
    ka = F.struct(F.col("da").alias("d"), F.col("a").alias("i"))
    kb = F.struct(F.col("db").alias("d"), F.col("b").alias("i"))
    oriented = ed.select(
        F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(ka < kb, kb).otherwise(ka).alias("kv"),
    ).localCheckpoint(eager=True)
    wedges = (
        oriented.select("u", F.col("v").alias("v1"), F.col("kv").alias("k1"))
        .join(oriented.select("u", F.col("v").alias("v2"), F.col("kv").alias("k2")), "u")
        .where(F.col("k1") < F.col("k2"))
        .select("u", "v1", "v2")
    )
    # inner (not semi): oriented pairs are distinct, so each triangle
    # materializes exactly once
    tri = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
        "inner",
    )
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v1").alias("a"), F.greatest("u", "v1").alias("b")
                ),
                F.struct(
                    F.least("u", "v2").alias("a"), F.greatest("u", "v2").alias("b")
                ),
                F.struct(
                    F.least("v1", "v2").alias("a"), F.greatest("v1", "v2").alias("b")
                ),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    counts = tri_edges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
    return canon.join(counts, ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int | None = None,
) -> DataFrame:
    """k-core peeling (Seidman 1983): iteratively delete nodes with
    degree < k until every survivor has >= k neighbors among survivors.
    The densest-region extractor of the curation toolkit — the k-core
    of a link/co-occurrence graph is where communities live, and
    everything peeled away is the long tail negative-edge samplers and
    spam filters want separated out.

    ``max_rounds=None`` (default) iterates to the true fixpoint —
    convergence is detected by survivor count, a scalar aggregate per
    round, never a collect of rows.  A bounded ``max_rounds`` gives the
    deterministic "r-round peel" any engine can replay (the oracle
    gate unrolls the same rounds in SQL); after a bounded stop,
    survivors may still carry degree < k — by construction, not a bug.

    Returns ``(id, core_deg)`` — survivors with their degree INSIDE the
    surviving subgraph.

    Scale: each round is one degree aggregate plus two semi-joins of
    the edge list against the survivor set (all equi-joins on node id);
    the edge list is localCheckpoint-ed per round (iterative-plan
    lineage discipline, see module head).  Rounds needed is the
    peeling depth (small for real graphs); each round's edge set only
    shrinks."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = None
    rounds = 0
    while True:
        deg = (
            e.select(F.col("a").alias("id"))
            .unionByName(e.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("core_deg"))
        )
        if max_rounds is not None and rounds >= max_rounds:
            return deg
        survivors = deg.where(F.col("core_deg") >= k).select("id").localCheckpoint(
            eager=True
        )
        n = survivors.count()
        if n_nodes is not None and n == n_nodes:
            return deg.join(survivors, "id", "semi")
        n_nodes = n
        if n == 0:
            return survivors.select(
                "id", F.lit(0).cast("long").alias("core_deg")
            )
        e = (
            e.join(survivors.withColumnRenamed("id", "a"), "a", "semi")
            .join(survivors.withColumnRenamed("id", "b"), "b", "semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        rounds += 1


def k_truss(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int | None = None,
) -> DataFrame:
    """k-truss peeling (Cohen 2008): iteratively delete edges whose
    triangle support is < k-2 until every surviving edge sits in >= k-2
    triangles OF THE SURVIVING SUBGRAPH.  The edge-level sibling of
    :func:`k_core` — a k-truss is always contained in the (k-1)-core but
    is strictly stronger (cohesion through triangles, not mere degree),
    which makes it the sharper community-backbone extractor for
    link/co-occurrence graph curation.

    ``max_rounds=None`` iterates to the true fixpoint — convergence by
    surviving-edge count, one scalar per round.  A bounded ``max_rounds``
    is the deterministic r-round peel the oracle gate replays in SQL
    (same discipline as ``k_core``); after a bounded stop edges may
    still carry support < k-2, by construction.

    Returns ``(a, b, support)`` — surviving canonical edges with their
    support inside the surviving subgraph.

    Scale: each round is one :func:`edge_support` pass (degree-oriented
    wedge join, O(m^{3/2}) wedge volume) plus one filter; the surviving
    edge set only shrinks, and each round's frame is localCheckpoint-ed
    (iterative-plan lineage discipline, see module head)."""
    if k < 3:
        raise ValueError("k-truss requires k >= 3 (support threshold k-2 >= 1)")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = None
    rounds = 0
    while True:
        sup = edge_support(e, "a", "b")
        if max_rounds is not None and rounds >= max_rounds:
            return sup
        keep = sup.where(F.col("support") >= k - 2).localCheckpoint(eager=True)
        n = keep.count()
        if n == n_edges or n == 0:
            return keep
        n_edges = n
        e = keep.select("a", "b").localCheckpoint(eager=True)
        rounds += 1


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    community_col: str = "community",
) -> DataFrame:
    """Newman modularity of a community assignment over an undirected
    graph: Q = Σ_c [ L_c/m − (D_c/2m)² ] with L_c = intra-community
    edges, D_c = total degree of community c, m = |edges| (Newman &
    Girvan 2004) — THE standard quality score for label-propagation /
    clustering output, so curation pipelines can gate "are these
    communities real" before graph-weighted sampling trusts them.

    Exactness: Q is computed as one exact integer numerator
    Σ_c (4·m·L_c − D_c²) in DECIMAL(38,0) (no overflow until m ~ 10¹⁸)
    over the common denominator 4m², divided ONCE at the end — the same
    order-free fixed-point discipline as harmonic_centrality /
    link_prediction, so the score is bit-identical in any engine and
    any accumulation order.

    Plan: canonical edge list built once; D_c is a degree aggregate
    re-keyed by community; L_c is two label equi-joins on the edge
    endpoints + a community count; m is one scalar.  Returns ONE row
    (modularity, n_communities, m_edges).
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    m = e.count()
    if m == 0:
        raise ValueError("modularity needs at least one edge")
    lab = labels.select(
        F.col(id_col).alias("__id"), F.col(community_col).alias("__c")
    )
    deg = (
        e.select(F.col("a").alias("__id"))
        .unionByName(e.select(F.col("b").alias("__id")))
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    dc = (
        deg.join(lab, "__id")
        .groupBy("__c")
        .agg(F.sum("__d").alias("__dc"))
    )
    lc = (
        e.join(lab.select(F.col("__id").alias("a"), F.col("__c").alias("__ca")), "a")
        .join(lab.select(F.col("__id").alias("b"), F.col("__c").alias("__cb")), "b")
        .where(F.col("__ca") == F.col("__cb"))
        .groupBy(F.col("__ca").alias("__c"))
        .agg(F.count(F.lit(1)).alias("__lc"))
    )
    per_c = dc.join(lc, "__c", "left").select(
        "__c",
        (
            F.lit(4 * m).cast("decimal(38,0)") * F.coalesce(F.col("__lc"), F.lit(0))
            - F.col("__dc").cast("decimal(38,0)") * F.col("__dc")
        ).alias("__num"),
    )
    return per_c.agg(
        (
            F.sum("__num").cast("double") / F.lit(float(4 * m * m))
        ).alias("modularity"),
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.lit(m).cast("long").alias("m_edges"),
    )


def adjusted_rand_index(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "id",
    label_a: str = "community",
    label_b: str = "community",
) -> DataFrame:
    """Adjusted Rand Index between two cluster assignments of the same
    id universe (Hubert & Arabie 1985) — the standard chance-corrected
    agreement score, used to answer "did the cheap clustering
    (LPA/minhash CC) agree with the expensive one" before a curation
    pipeline swaps one for the other.  Ids present in only one side are
    dropped (inner join).

    Exactness: everything up to the final division is pair-counting
    integers.  Clearing denominators,
    ARI = (2·Σij·P − 2·Σa·Σb) / (P·(Σa+Σb) − 2·Σa·Σb) with
    Σx = Σ C(size,2) and P = C(n,2) — evaluated in arbitrary-precision
    Python ints from scalar aggregates (each a bounded collect), so the
    score is bit-identical in any engine.  A degenerate comparison
    (both sides one cluster, or both all-singletons) has denominator 0
    and returns ARI = 1.0 if the contingency is diagonal else 0.0 —
    the scikit-learn convention.

    Scale: one id equi-join + three count aggregates; the contingency
    matrix itself never leaves the executors (only its C(n,2) sums do).
    """
    la = a.select(F.col(id_col).alias("__i"), F.col(label_a).alias("__la"))
    lb = b.select(F.col(id_col).alias("__i"), F.col(label_b).alias("__lb"))
    j = la.join(lb, "__i").localCheckpoint(eager=True)

    def _pair_sum(df, *cols):
        sizes = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n"))
        row = sizes.agg(
            F.sum(
                (F.col("__n").cast("decimal(38,0)") * (F.col("__n") - 1)) / 2
            ).alias("s")
        ).collect()[0]
        return int(row["s"] or 0)

    n = j.count()
    if n == 0:
        raise ValueError("no common ids between the two assignments")
    sum_ij = _pair_sum(j, "__la", "__lb")
    sum_a = _pair_sum(j, "__la")
    sum_b = _pair_sum(j, "__lb")
    pairs = n * (n - 1) // 2
    num = 2 * sum_ij * pairs - 2 * sum_a * sum_b
    den = pairs * (sum_a + sum_b) - 2 * sum_a * sum_b
    if den == 0:
        ari = 1.0 if sum_ij == sum_a == sum_b else 0.0
    else:
        ari = num / den
    spark = a.sparkSession
    return spark.createDataFrame(
        [(ari, n, sum_ij, sum_a, sum_b)],
        "ari double, n_ids long, pairs_both long, pairs_a long, pairs_b long",
    )
