"""Connected components over near-duplicate pair edges — the step that
turns LSH candidate PAIRS into dedup CLUSTERS (keep one doc per
component). MinHash/SimHash/winnowing emit pairs; transitively linked
pairs must collapse to one representative, which is exactly connected
components on the pair graph.

Implementation: alternating large-star / small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) as iterative DataFrame rounds:

- large-star(u): connect every neighbor v > u to m(u) = min of u's
  closed neighborhood;
- small-star(u): connect every neighbor v < u, and u itself, to the
  min of u's smaller neighbors.

Each round is two join+agg steps; the edge set contracts toward a
disjoint union of stars centered at each component's minimum node in
O(log d) rounds (d = diameter) — a 10^6-node path converges in ~20
rounds where plain hash-min label propagation would need 10^6.
Deterministic (min is order-free), driver-coordinated exactly like
MLlib/GraphX iterations, with a localCheckpoint per round so the
logical plan stays flat. Convergence is detected by a (count,
hash-xor) signature of the canonical edge set going stationary across
a full round; if max_iter rounds exhaust first the function RAISES —
callers must never receive silently-unconverged (wrong) clusters.

The DuckDB oracle is an INDEPENDENT implementation: a WITH RECURSIVE
transitive closure + min-reachable-node per node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical(pairs: DataFrame) -> DataFrame:
    """Undirected edge list -> distinct (lo, hi) with lo < hi."""
    return (
        pairs.select(
            F.least(F.col("x"), F.col("y")).alias("lo"),
            F.greatest(F.col("x"), F.col("y")).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """(src, dst) undirected edges -> (node, cluster_id) with
    cluster_id = min node id in the component. Nodes = endpoints of
    edges (isolated nodes never appear in a pair list).

    Raises RuntimeError if the star-contraction has not converged
    after ``max_iter`` rounds (each round shrinks diameter
    geometrically, so 25 covers any graph this engine can hold)."""
    raw = edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
    nodes = (
        raw.select(F.col("x").alias("node"))
        .union(raw.select(F.col("y").alias("node")))
        .distinct()
        .persist()
    )
    e = _canonical(raw).localCheckpoint(eager=True)
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        both = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        # large-star: every neighbor v > u links to min(closed nbhd of u)
        m_large = both.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            both.filter(F.col("v") > F.col("u"))
            .join(m_large, "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
        )
        e1 = _canonical(large)
        # small-star: every neighbor v < u (and u itself) links to
        # min of u's smaller neighbors
        both1 = e1.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
            e1.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        le = both1.filter(F.col("v") < F.col("u"))
        m_small = le.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            le.join(m_small, "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
            .union(m_small.select(F.col("u").alias("x"), F.col("m").alias("y")))
        )
        # localCheckpoint per round: materializes AND truncates the
        # logical plan — without it the plan nests once per iteration
        # and Catalyst analysis time grows with rounds (the standard
        # iterative-DataFrame pitfall; MLlib checkpoints the same way)
        e = _canonical(small).localCheckpoint(eager=True)
        # bit_xor, not sum: order-free like sum but cannot overflow
        # under ANSI mode
        sig = tuple(
            e.agg(
                F.count(F.lit(1)), F.expr("bit_xor(xxhash64(lo, hi))")
            ).first()
        )
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        nodes.unpersist()
        raise RuntimeError(
            f"connected_components: star-contraction did not converge in "
            f"{max_iter} rounds — raising rather than returning wrong labels"
        )
    # fixpoint is a union of stars: every edge is (component_min, other)
    labels = (
        e.select(F.col("hi").alias("node"), F.col("lo").alias("label"))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
    out = nodes.join(labels, "node", "left").select(
        "node", F.coalesce(F.col("label"), F.col("node")).alias("cluster_id")
    )
    nodes.unpersist()
    return out


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    mass: int = 1_000_000,
    damp_pct: int = 85,
) -> DataFrame:
    """Integer-exact PageRank over a (multi)edge list: (node, rank)
    after ``n_iter`` synchronous power iterations.

    Every arithmetic step is 64-bit integer (truncating DIV), so the
    result is bit-identical at any partitioning, on any engine — an
    unrolled SQL replay (the gate oracle) reproduces it exactly, with
    none of the float-accumulation-order drift a double-precision
    PageRank has. Per node: rank' = (100-d)%*mass + d% * Σ_in
    (rank(u) DIV outdeg(u)), multigraph semantics (parallel edges
    contribute once each). Nodes = edge endpoints; callers wanting
    dangling-node handling should pre-double edges into an undirected
    list (every node then has outdeg >= 1).

    Scale design: the edge table is hash-partitioned by src ONCE and
    persisted — each iteration's contribution join reuses that layout
    and only the O(nodes) rank table reshuffles; in-mass aggregation
    is a map-side-combining groupBy on dst; ranks are
    localCheckpoint'ed per iteration so the plan stays flat (same
    pattern as connected_components above; ``_out_edges`` and
    ``_walk``, shared with ``personalized_pagerank``). Overflow headroom:
    damp_pct * total_mass must fit int64 — 10^10 nodes at mass 10^6
    is 8.5e17 < 2^63.

    Reference analog: the reference crawls breadth-first with no
    prioritization (/root/reference/app/service/vbpl.py crawl loop);
    link-authority ranking is the standard frontier-prioritization
    upgrade at web scale."""
    ej, nodes = _out_edges(edges, src, dst)
    tele = nodes.select("node", F.lit((100 - damp_pct) * mass // 100).alias("t"))
    start = nodes.select("node", F.lit(mass).cast("long").alias("rank"))
    ranks = _walk(ej, tele, start, n_iter, damp_pct)
    ej.unpersist()
    nodes.unpersist()
    return ranks


def _out_edges(edges: DataFrame, src: str, dst: str) -> tuple[DataFrame, DataFrame]:
    """The (src, dst, outdeg) edge table, hash-partitioned and sorted by
    src, and its (node) set of sources; both persisted for the caller
    to release."""
    par = edges.sparkSession.sparkContext.defaultParallelism
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ej = (
        e.join(outdeg, "src")
        .repartition(par, "src")
        # sorted persist: per-iteration contribution join re-sorts only
        # the rank table (see sssp below)
        .sortWithinPartitions("src")
        .persist()
    )
    nodes = ej.select(F.col("src").alias("node")).distinct().persist()
    return ej, nodes


def _walk(
    ej: DataFrame, tele: DataFrame, ranks: DataFrame, n_iter: int, damp_pct: int
) -> DataFrame:
    """``n_iter`` integer power iterations from ``ranks`` (node, rank):
    rank'(v) = t(v) + d% * Σ_{u->v} rank(u) DIV outdeg(u), with the
    teleport term t from ``tele`` (node, t). Each round's ranks are
    localCheckpoint'ed, so the plan stays flat."""
    for _ in range(n_iter):
        contrib = ej.join(ranks, ej.src == ranks.node).select(
            F.col("dst").alias("node"), F.expr("rank DIV outdeg").alias("c")
        )
        in_mass = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            tele.join(in_mass, "node", "left")
            .select(
                "node",
                (
                    F.col("t") + F.expr(f"({damp_pct} * coalesce(s, 0)) DIV 100")
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def bfs_layers(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 3,
) -> DataFrame:
    """Multi-source BFS over a directed edge list: (node, depth) with
    depth = min #hops from the seed set, capped at ``max_depth``
    (unreached nodes are absent — exactly the crawl-frontier notion of
    "never discovered within the depth budget").

    This IS the crawl's frontier-expansion layering made queryable:
    the reference crawler walks seed index pages -> listing pages ->
    detail pages breadth-first (/root/reference/app/service/vbpl.py
    crawl loop), and the engine's priority queue orders by (depth,
    doc-type, discovery-time) — depth here is that first coordinate
    computed over an arbitrary link graph.

    Scale design: one DataFrame round per layer (d <= max_depth
    rounds, driver-coordinated like connected_components above). The
    edge table is hash-partitioned by src once and persisted so every
    round's expansion join reuses the layout; the frontier/visited
    tables are O(nodes) and localCheckpoint'ed per round to keep the
    plan flat. The visited-set anti-join is the Bloom-filter seen-set
    admission (operators/seen.py) in exact form — at 10^10 nodes the
    sketch replaces the anti-join; here exactness gives the oracle.
    """
    # repartition by u FIRST, then dedup: hash(u) clustering satisfies
    # the (u, v) distinct's distribution requirement, so Catalyst plans
    # it with no second exchange AND the persisted table keeps exactly
    # the hash(u) layout every expansion join reuses (same one-shuffle
    # edge prep as sssp below)
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .repartition(edges.sparkSession.sparkContext.defaultParallelism, "u")
        .distinct()
        # sorted persist: each layer's expansion join re-sorts only the
        # frontier (see sssp below)
        .sortWithinPartitions("u")
        .persist()
    )
    visited = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("depth", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("node")
    for d in range(1, max_depth + 1):
        nxt = (
            e.join(frontier, e.u == frontier.node)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(d))
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = visited.filter(F.col("depth") == d).select("node")
        if frontier.isEmpty():
            break
    e.unpersist()
    return visited


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    mass: int = 1,
    total_mass: int = 100_000_000,
) -> DataFrame:
    """Integer-exact HITS (Kleinberg hubs & authorities) over a
    directed edge list: (node, hub, auth) after ``n_iter`` mutual
    power iterations.

    Every step is 64-bit integer arithmetic with truncating DIV, so
    the result is bit-identical at any partitioning and replayable by
    an unrolled SQL oracle (same parity design as ``pagerank`` above;
    the classical L2 normalization needs sqrt, so normalization here
    rescales each vector to a constant ``total_mass`` by
    v * total_mass DIV sum(v) — scale-free like L2,
    transcendental-free). Overflow is guarded LOUDLY per rescale:
    every element v <= sum(v), so v * total_mass <= sum * total_mass,
    and the rescale raises if that product can exceed int64 (Spark's
    non-ANSI default would otherwise wrap silently). ``mass`` cancels
    exactly in the truncating rescale (floor(m*v*t / (m*S)) =
    floor(v*t/S)), so the default is 1: the first-iteration bound is
    then n_edges * total_mass < 2^63 (~9e10 edges at the 1e8 default)
    and every later one is max_degree * total_mass^2 < 2^63 (degree
    ~900 headroom) — raise mass only with both bounds in hand.

    Per iteration: auth'(p) = Σ_{q->p} hub(q), then rescale; hub'(q) =
    Σ_{q->p} auth'(p), then rescale. Hubs are pages whose out-links
    concentrate on strong authorities — the crawl-frontier prioritizer
    complement to PageRank (fetch strong hubs early to discover
    authorities fast).

    Scale design: the edge list is partitioned by the join side used
    in each half-step and persisted once per orientation; score tables
    are O(nodes); the two rescale denominators per iteration are
    single bounded scalar aggregates (an allowed driver collect);
    node count never enters the arithmetic, so the bounds hold at
    10^10 nodes unchanged.
    """
    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .repartition(par, "u")
        .persist()
    )
    ev = e.repartition(par, "v").persist()
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .persist()
    )
    total = total_mass
    hub = nodes.select("node", F.lit(mass).cast("long").alias("s"))
    auth = None
    for _ in range(n_iter):
        # auth half-step: sum hub mass over in-edges, then rescale.
        # Checkpoint the RAW sums eagerly BEFORE the denominator
        # collect — otherwise the scalar agg and the rescale join each
        # re-evaluate the heavy edge-join lineage (measured 2x wall on
        # the purchase graph).
        raw_a = (
            e.join(hub, e.u == hub.node)
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("s").alias("s"))
            .localCheckpoint(eager=True)
        )
        auth = _rescale(nodes, raw_a, total)
        # hub half-step from the fresh auth vector
        raw_h = (
            ev.join(auth, ev.v == auth.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("s").alias("s"))
            .localCheckpoint(eager=True)
        )
        hub = _rescale(nodes, raw_h, total)
    ev.unpersist()
    out = (
        nodes.join(hub.withColumnRenamed("s", "hub"), "node", "left")
        .join(auth.withColumnRenamed("s", "auth"), "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0)).alias("hub"),
            F.coalesce("auth", F.lit(0)).alias("auth"),
        )
    )
    e.unpersist()
    nodes.unpersist()
    return out


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 4,
    total: int = 1_000_000_000,
    damp_pct: int = 85,
) -> DataFrame:
    """Integer-exact personalized PageRank: random-walk-with-restart
    mass concentrated on ``seeds`` — rank'(v) = teleport(v) + d% *
    Σ_{u->v} rank(u) DIV outdeg(u), teleport(v) = (100-d)% * total
    DIV n_seeds for seed nodes and 0 elsewhere; rank_0 = teleport.

    This is FOCUSED-crawl frontier scoring: the reference crawls
    breadth-first from its seed listing pages with no notion of
    topical proximity (/root/reference/app/service/vbpl.py crawl
    loop); PPR ranks every discovered URL by walk-distance-weighted
    reachability from the seed set, which is the standard priority
    for a topic-bounded recrawl. Same truncating-DIV integer design
    as ``pagerank``/``hits`` above: bit-identical at any partitioning,
    replayable by an unrolled SQL oracle. ``total`` is 1e9 (not
    pagerank's per-node 1e6) because all mass starts on few seeds and
    thins geometrically with walk depth. Seeds must be graph nodes.

    Scale design: ``pagerank``'s edge table and iteration loop
    (``_out_edges``, ``_walk``) with the per-node teleport term; only
    the start ranks and the teleport differ. n_seeds is the one
    driver scalar (seed sets are small by definition). Overflow:
    contributions are bounded by total, so damp_pct * total < 2^63
    holds trivially.
    """
    seed_nodes = seeds.select(F.col(seeds.columns[0]).alias("node"))
    n_seeds = seed_nodes.distinct().count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    ej, nodes = _out_edges(edges, src, dst)
    tele = (100 - damp_pct) * total // (100 * n_seeds)
    base = (
        nodes.join(seed_nodes.withColumn("t", F.lit(tele).cast("long")), "node", "left")
        .select("node", F.coalesce("t", F.lit(0)).cast("long").alias("t"))
        .persist()
    )
    ranks = _walk(ej, base, base.select("node", F.col("t").alias("rank")), n_iter, damp_pct)
    ej.unpersist()
    nodes.unpersist()
    base.unpersist()
    return ranks


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 4,
) -> DataFrame:
    """Deterministic synchronous label propagation over a directed edge
    list: (node, label) after ``n_iter`` rounds of label(v) := the most
    frequent label among in-neighbors {u : u->v}, ties broken toward
    the SMALLEST label (pass a symmetrized edge list for undirected
    communities). label_0(v) = v.

    Unlike classical async LPA (random visit order, random
    tie-breaks), every step here is a pure function of the previous
    labeling — bit-identical at any partitioning and replayable by an
    unrolled SQL oracle, the same parity design as ``pagerank`` and
    ``hits``. Communities are the crawl's host-affinity shards: pages
    that densely interlink land on one label, which is the partition
    key a 1000-executor fetch fleet co-locates per-host state by.

    Scale design: per round, one (v, label) count aggregation (map-side
    combining, 16-byte keys) and one per-node argmax via max_by over a
    packed (count, -label)-ordered struct — no window, no sort; labels
    are O(nodes) and localCheckpoint'ed per round to keep the plan
    flat. Nodes with no in-edges keep their previous label.
    """
    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .repartition(par, "u")
        .persist()
    )
    labels = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(n_iter):
        votes = (
            e.join(labels, e.u == labels.node)
            .groupBy(F.col("v").alias("node"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax by (count DESC, label ASC): max_by over a struct whose
        # ordering is (c, -label) — single aggregation, no window sort
        best = votes.groupBy("node").agg(
            F.max_by("label", F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias(
                "new_label"
            )
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    return labels


def _rescale(nodes: DataFrame, raw: DataFrame, total: int) -> DataFrame:
    """Rescale a sparse (node, s) score vector to sum ~= total using
    integer-exact v * total DIV sum(v); nodes absent from ``raw``
    (no in/out edges for this half-step) score 0. Raises before the
    multiply can exceed int64 (v <= denom, so denom*total bounds it)."""
    denom = raw.agg(F.sum("s")).first()[0] or 1
    if denom * total >= 1 << 63:
        raise RuntimeError(
            f"hits rescale would overflow int64: sum={denom} total={total} — "
            "lower total_mass or bound the graph degree"
        )
    return nodes.join(raw, "node", "left").select(
        "node",
        F.expr(f"coalesce(s, 0) * {total} DIV {denom}").cast("long").alias("s"),
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Maximal k-core of an undirected graph: (node, deg) for every
    node of the largest induced subgraph in which all degrees are
    >= k, computed by iterative peeling (remove all nodes of degree
    < k, recompute degrees, repeat to fixpoint — Matula & Beck's
    algorithm as driver-coordinated DataFrame rounds).

    Crawl reading: the k-core is the densely interlinked heart of a
    link graph — the pages a focused crawler should keep fresh because
    removing any shell of weakly linked pages never disconnects them
    (the reference crawler's listing<->detail interlinks form exactly
    such a core over vbpl.vn's category hubs). The peel ORDER is also
    the inverse of crawl priority: shell nodes peel first.

    Scale design: one degree aggregation (8-byte keys, map-side
    combine) plus two left_semi joins per round, all on an edge table
    hash-partitioned by endpoint once and re-persisted per round;
    edge count is monotonically non-increasing so convergence is an
    equal-count check (count equal => no node fell below k => global
    fixpoint). O(peel-depth) rounds; each round's survivor set is
    localCheckpoint'ed to keep the plan flat. Raises on max_iter
    exhaustion — callers never receive a silently unconverged core.
    """
    par = edges.sparkSession.sparkContext.defaultParallelism
    # symmetrize in ONE pass over the (possibly expensive) upstream edge
    # plan — explode emits both orientations per input row, where a
    # union of two selects would execute the upstream subtree twice
    live = (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("x"), F.col("y")),
                    F.struct(F.col("y").alias("x"), F.col("x").alias("y")),
                )
            ).alias("e")
        )
        .select("e.x", "e.y")
        .distinct()
        .repartition(par, "x")
        .persist()
    )
    n_edges = live.count()
    for _ in range(max_iter):
        deg = live.groupBy("x").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("x").localCheckpoint(eager=True)
        nxt = (
            live.join(keep, "x", "left_semi")
            .join(keep.select(F.col("x").alias("y")), "y", "left_semi")
            .repartition(par, "x")
            .persist()
        )
        n_next = nxt.count()
        live.unpersist()
        live = nxt
        if n_next == n_edges:
            out = live.groupBy(F.col("x").alias("node")).agg(
                F.count(F.lit(1)).alias("deg")
            )
            out = out.localCheckpoint(eager=True)
            live.unpersist()
            return out
        n_edges = n_next
    live.unpersist()
    raise RuntimeError(
        f"k_core(k={k}) did not converge within {max_iter} peel rounds — "
        "raise max_iter (peel depth equals the graph's degeneracy ordering depth)"
    )


def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_rounds: int = 25,
) -> DataFrame:
    """Single-source (multi-seed) shortest paths over a directed,
    integer-weighted edge list: (node, dist) with dist = min total
    weight from the seed set; unreached nodes are absent.

    Crawl reading: with weight = per-hop politeness cost (a host's
    crawl-delay), dist is the cheapest click-path cost from the seed
    index to every page — the quantity a budget-bounded focused crawl
    ranks its frontier by (the reference's BFS order is the w=1
    special case of this, /root/reference/app/service/vbpl.py crawl
    loop).

    Scale design: FRONTIER (delta) Bellman-Ford as driver-coordinated
    relaxation rounds — the Pregel formulation. Each relaxation joins
    the edge table (hash-partitioned by src once, persisted) against
    only the FRONTIER — the nodes whose distance improved last round —
    not the full distance table; a full-table relaxation re-derives
    every already-settled edge every round, paying O(|E|) per round,
    while the frontier shrinks geometrically once the expansion phase
    ends, so late rounds cost only the few still-improving arcs. The
    candidate rows then fold into the distance table through ONE
    min-aggregation on 8-byte keys over (old ∪ stepped) rows tagged
    by origin, which yields the merged distance AND the old distance
    in the same shuffle — the next frontier is the free filter
    ``old IS NULL OR new < old`` on that grouped frame, and
    convergence is simply an EMPTY frontier (one count on the
    checkpointed frame; no change-detection join, no signature
    arithmetic). Bodies/attributes never move. The grouped frame is
    localCheckpoint'ed per barrier to keep plans flat; distance and
    frontier are both cheap projections of it, so one materialization
    serves both. ``max_rounds`` counts RELAXATIONS: rounds needed =
    shortest-path hop radius from the seeds (NOT node count), small
    for web-shaped graphs; RAISES on exhaustion rather than returning
    partially relaxed distances. All arithmetic is int64:
    bit-identical at any partitioning, no float drift.
    """
    # Repartition by u FIRST, then dedup parallel edges by (u, v):
    # hash(u) clustering satisfies the (u, v) group-by's distribution
    # requirement (all rows of a (u, v) group share a u), so Catalyst
    # plans the min-agg WITHOUT a second exchange and the persisted
    # table keeps exactly the hash(u) partitioning every relaxation
    # join reuses. One shuffle of the raw edge list total, vs two for
    # the naive groupBy-then-repartition order.
    e = (
        edges.select(
            F.col(src).alias("u"),
            F.col(dst).alias("v"),
            F.col(weight).cast("long").alias("w"),
        )
        .repartition(edges.sparkSession.sparkContext.defaultParallelism, "u")
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))  # parallel edges: keep the cheapest
        # persist SORTED by the relaxation join key: every round's
        # sort-merge join then re-sorts only the frontier side — the
        # cached edge ordering is reused (guide §2.4; the per-round
        # sort of the full edge table was the dominant repeated cost)
        .sortWithinPartitions("u")
        .persist()
    )
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = dist  # seeds: every node's dist just "improved" from ∞

    def _relax(d: DataFrame, front: DataFrame) -> DataFrame:
        # candidates from frontier arcs only, folded against the full
        # distance table in ONE tagged min-agg: nd = merged distance,
        # od = pre-round distance (NULL for newly reached nodes)
        stepped = e.join(front, e.u == front.node).select(
            F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        return (
            d.withColumn("is_old", F.lit(1))
            .unionByName(stepped.withColumn("is_old", F.lit(0)))
            .groupBy("node")
            .agg(
                F.min("dist").alias("nd"),
                F.min(F.when(F.col("is_old") == 1, F.col("dist"))).alias("od"),
            )
        )

    # Chunked relaxation (guide §2: fewer barriers): chain CHUNK lazy
    # relaxations between materializations. Each chunk costs ONE
    # checkpoint job + ONE frontier count instead of one pair per
    # relaxation — the per-barrier fixed cost (job launch, plan
    # analysis, checkpoint write) was the dominant term at bench scale
    # (BENCH_r05: 18.3 s for a ~10-hop radius). Relaxing past the
    # fixpoint is the identity (min-agg idempotent), so the converged
    # distances are bit-identical for any chunk size; exchange reuse
    # keeps the intra-chunk plan linear (each step's groupBy exchange
    # feeds both its dist and frontier consumers once).
    CHUNK = 2
    rounds_left = max_rounds
    while rounds_left > 0:
        steps = min(CHUNK, rounds_left)
        g = None
        for _ in range(steps):
            g = _relax(dist, frontier)
            dist = g.select("node", F.col("nd").alias("dist"))
            frontier = g.filter(
                F.col("od").isNull() | (F.col("nd") < F.col("od"))
            ).select("node", F.col("nd").alias("dist"))
        g = g.localCheckpoint(eager=True)
        rounds_left -= steps
        dist = g.select("node", F.col("nd").alias("dist"))
        frontier = g.filter(
            F.col("od").isNull() | (F.col("nd") < F.col("od"))
        ).select("node", F.col("nd").alias("dist"))
        n_front = frontier.count()
        if n_front == 0:  # fixpoint: nothing improved
            e.unpersist()
            return dist
    e.unpersist()
    raise RuntimeError(
        f"sssp did not converge within {max_rounds} relaxation rounds — "
        "raise max_rounds (rounds needed = hop radius of the shortest-path "
        "tree, bounded by the graph diameter)"
    )
