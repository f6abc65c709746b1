"""Asset-graph operators (reference §2.3 J2/J3, §2.4 A3/A4).

The reference builds its parent/child/reference graph with linear
``Array.find`` + ``push`` accumulation — O(n²) client-side
(lib/collectServices.ts:125-168, lib/collectPods.ts:90-112).  The Spark
formulation is group-and-collect: derive one edge row per (owner, edge
type, target EAN), then hash-aggregate ``collect_set`` per owner.  One
shuffle, linear, spillable — same result set (SURVEY.md A3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..observability import checkpoint, release_checkpoint

#: the node-set size up to which the graph operators broadcast a
#: single-column node-id frame into a join (~8M ids ≈ tens of MB, the
#: practical broadcast comfort zone, not the 8 GB hard cap); above it
#: they fall back to a shuffled join.  ``kcore_membership`` gates its
#: survivor semi-joins and ``bfs_khop`` its frontier and visited joins
#: on observed row counts against it.
MAX_BROADCAST_NODES = 8_000_000


class _Fixpoint:
    """The round loop of the iterative graph and dedup operators.

    Iterating runs at most ``max_rounds`` rounds; an operator leaves
    the loop once it converges.  Running out of rounds raises
    the one "no fixpoint" ``RuntimeError``: a run that returns has
    PROVEN its round bound, so an unrolled fixed-round oracle replays
    it exactly.

    Round frames go through :meth:`checkpoint`, which releases the
    checkpoints newer rounds have superseded, so hundreds of rounds
    hold a bounded set of blocks: a checkpoint lives until two newer
    ones exist (one k-core round's degrees and peeled edges; the
    previous round that a convergence test compares against), and
    :meth:`finish` keeps only the newest, the one the operator's
    result reads.  pagerank, hits and label_propagation run fixed round
    counts and checkpoint on their own measured schedules instead.
    """

    def __init__(self, what: str, max_rounds: int):
        self.what, self.max_rounds = what, max_rounds
        self._live: list[DataFrame] = []

    def __iter__(self):
        yield from range(self.max_rounds)
        self._keep(0)
        raise RuntimeError(
            f"{self.what}: no fixpoint within {self.max_rounds} rounds — "
            "the unrolled-oracle contract would be violated; raise the "
            "round bound (and the oracle unroll) for this input"
        )

    def checkpoint(self, df: DataFrame, **metrics) -> tuple[DataFrame, dict]:
        out, m = checkpoint(df, **metrics)
        self._live.append(out)
        self._keep(2)
        return out, m

    def finish(self) -> None:
        """Release every checkpoint but the newest."""
        self._keep(1)

    def _keep(self, n: int) -> None:
        while len(self._live) > n:
            release_checkpoint(self._live.pop(0))


def group_collect_edges(
    df: DataFrame,
    owner_cols: list[str],
    edge_cols: dict[str, str],
    extra_aggs: dict[str, F.Column] | None = None,
) -> DataFrame:
    """A3/J2/J3: per-owner distinct edge collection.

    ``edge_cols`` maps output column → input EAN column; each becomes
    ``sort_array(collect_set(col))`` — distinct (A4's find-before-push)
    and sorted so downstream hashing is order-insensitive
    (``collect_set`` order is nondeterministic across partitions).
    """
    aggs = [
        F.sort_array(F.collect_set(F.col(f"`{src}`"))).alias(out)
        for out, src in edge_cols.items()
    ]
    for name, agg in (extra_aggs or {}).items():
        aggs.append(agg.alias(name))
    return df.groupBy(*[F.col(f"`{c}`") for c in owner_cols]).agg(*aggs)


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over an edge frame → (node, rank_scaled):
    ``rank_scaled`` is rank × |nodes| (≈1 for an average node) rounded to
    6 dp — the importance signal web-corpus curation uses to weight crawl
    frontiers and training-mix sources (OPIC/Common-Crawl style).

    Exactly ``iters`` synchronous power iterations with teleport
    ``(1−damping)/n`` — deterministic by construction (no convergence
    test, so an oracle can replay the same unrolled recurrence).

    Scale shape per iteration: the node-sized share table broadcasts
    into the edge join, so the edge frame — checkpointed once up front —
    NEVER shuffles; each round is one map-side join pass plus a
    partial-agg sum on ``dst``.  Right whenever nodes are
    dimension-sized relative to edges (entity/co-occurrence graphs).
    The node count rides a broadcast 1-row frame — no driver
    ``.count()`` in the plan path.  Dangling nodes (no out-edges) keep
    teleport mass only; pass a symmetrized edge frame when the graph is
    undirected.
    """
    # the edge frame and its degree table feed EVERY iteration — left
    # lazy, the upstream edge derivation (often a fact-table join) would
    # re-execute per round (measured >2 min at sf0.1 vs ~15 s pinned)
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n1 = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("__n")))
    out_deg = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("__out"))
        .localCheckpoint(eager=True)
    )
    ranks = nodes.crossJoin(n1).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    for it in range(iters):
        shares = ranks.join(out_deg, "node").select(
            F.col("node").alias("src"),
            (F.col("rank") / F.col("__out")).alias("__share"),
        )
        contribs = (
            e.join(F.broadcast(shares), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("__share").alias("__in"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(n1)
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("__n")
                    + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        # checkpoint every 3rd round (and the last): flat-enough lineage
        # without paying an eager job barrier per iteration
        if it % 3 == 2 or it == iters - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.crossJoin(n1).select(
        "node", F.round(F.col("rank") * F.col("__n"), 6).alias("rank_scaled")
    )


def triangle_count(
    edges: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Per-node triangle counts over an undirected edge frame →
    ``(node, n_triangles)`` for every node in at least one triangle.

    Triangle density is the spam/boilerplate-cluster signal on web and
    near-dup graphs (a k-clique of mutual near-dups is template spam;
    organic similarity is sparse), and the classic graph statistic a
    crawl-curation pipeline computes after pair generation.

    Scale shape — the degree-oriented node-iterator algorithm: every
    edge is oriented ascending by ``(degree, id)``, so each triangle
    has exactly ONE wedge at its π-minimal vertex and wedge fan-out per
    edge is bounded by the SMALLER endpoint degree — O(m^1.5) wedges
    total on any graph (vs O(Σ d²) unoriented, which a single
    celebrity node makes quadratic).  Two equi-join shuffles (wedge
    build on source, closing-edge probe on the wedge pair); per-node
    counts are one explode + hash-agg.
    """
    u, v = F.least(F.col(a), F.col(b)), F.greatest(F.col(a), F.col(b))
    und = edges.select(u.alias("u"), v.alias("v")).filter(
        F.col("u") != F.col("v")
    ).distinct()
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ed = und.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    )
    e1, e2 = o.alias("e1"), o.alias("e2")
    t1_lt_t2 = (F.col("e1.dt") < F.col("e2.dt")) | (
        (F.col("e1.dt") == F.col("e2.dt")) & (F.col("e1.t") < F.col("e2.t"))
    )
    wedges = e1.join(e2, (F.col("e1.s") == F.col("e2.s")) & t1_lt_t2).select(
        F.col("e1.s").alias("x"), F.col("e1.t").alias("y"), F.col("e2.t").alias("z")
    )
    closing = o.select(F.col("s").alias("y"), F.col("t").alias("z"))
    tri = wedges.join(closing, ["y", "z"], "left_semi")
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def hits(
    edges: DataFrame,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities over a directed edge frame →
    ``(node, role 'hub'|'authority', score)``, L1-normalized per round.

    The complement of :func:`pagerank` for bipartite-ish interaction
    graphs (buyer→product, crawler→page, query→doc): hubs score
    good *selectors*, authorities good *selections* — the two-sided
    importance signal source-weighting wants where a single rank
    conflates them.

    Same scale shape as pagerank: the edge frame checkpoints ONCE and
    never re-shuffles; each of the ``iters`` rounds is two map-side
    broadcast joins (score frames are node-dimension-sized) + two
    partial-agg sums, with the L1 total riding a broadcast 1-row frame
    — no driver action anywhere.  Fixed iteration count keeps it
    oracle-replayable.
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).distinct().localCheckpoint(eager=True)
    # Normalization is deferred to the END: h and a grow by ~mean-degree
    # per half-round (double overflow needs growth^(2·iters) > 1e308 —
    # not reachable at 5 rounds even on a degree-1000 graph), and the
    # final L1 division yields the identical result while HALVING the
    # per-round job count (no 1-row total broadcast + crossJoin per
    # half-step).  The oracle replays this same end-normalized
    # recurrence, so the formulations stay hash-consistent.
    hubs = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("h")
    )
    auth = None
    # NOTE (r16): the LPA lazy-chain fusion was tried here and measured
    # SLOWER (solo 3.74 → 4.58 s): unlike LPA's shuffle-join rounds,
    # each HITS half-round broadcasts its score frame, and a fully lazy
    # loop nests every BroadcastExchange build inside the next — the
    # per-2-round eager checkpoint keeps the broadcast children small
    # and is kept deliberately.
    for it in range(iters):
        auth = (
            e.join(F.broadcast(hubs), e["src"] == hubs["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("a"))
        )
        hubs = (
            e.join(F.broadcast(auth), e["dst"] == auth["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("h"))
        )
        if it % 2 == 1 or it == iters - 1:
            hubs = hubs.localCheckpoint(eager=True)
    h_tot = F.broadcast(hubs.agg(F.sum("h").alias("__t")))
    a_tot = F.broadcast(auth.agg(F.sum("a").alias("__t")))
    return (
        hubs.crossJoin(h_tot)
        .select(
            "node",
            F.lit("hub").alias("role"),
            F.round(F.col("h") / F.col("__t"), 6).alias("score"),
        )
        .unionByName(
            auth.crossJoin(a_tot).select(
                "node",
                F.lit("authority").alias("role"),
                F.round(F.col("a") / F.col("__t"), 6).alias("score"),
            )
        )
    )


def connected_components_star(
    pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) → (node, component) with component = the
    minimum node id, for every node that appears in ``pairs``.

    The min-label propagation in neardup.dedup_survivors moves labels
    one HOP per round — O(diameter) shuffles, fine for near-dup
    clusters (pairs/triples) but slow on long chains.  Star contraction
    rewires the GRAPH each round (large-star hangs every
    greater-than-center neighbor off the neighborhood minimum,
    small-star re-parents the smaller neighbors), which squares path
    lengths away: O(log n) rounds on any topology — on a 100-TB edge
    set the difference between ~60 shuffles and ~6.

    Contract matches dedup_survivors: the pair endpoints are the FIRST
    TWO columns, any equatable id type; singletons (nodes absent from
    ``pairs``) are the caller's join-back.  Rounds run through
    :class:`_Fixpoint`, which raises if ``max_iter`` rounds pass without
    convergence.  Convergence is checked EXACTLY (the observed count
    equality + one-sided exceptAll emptiness ⇒ multiset equality of
    the canonical edge sets), not by signature; the exceptAll probe
    runs as its own job, but only on the one round where counts match.
    """
    a_col, b_col = pairs.columns[0], pairs.columns[1]
    fp = _Fixpoint("connected_components_star", max_iter)
    edges, stats = fp.checkpoint(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        n=F.count(F.lit(1)),
    )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        canon = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = canon.groupBy("u").agg(F.min("v").alias("m"))
        nbrs = (
            canon.join(m, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        centers = m.select(F.col("u"), F.col("m").alias("v"))
        return nbrs.union(centers).distinct()

    for _ in fp:
        new_edges, new_stats = fp.checkpoint(
            small_star(large_star(edges)), n=F.count(F.lit(1))
        )
        stable = (
            new_stats["n"] == stats["n"]
            and new_edges.exceptAll(edges).limit(1).count() == 0
        )
        edges, stats = new_edges, new_stats
        if stable:
            break
    fp.finish()

    # fixpoint is a forest of stars: every edge is (node, component-min)
    nodes = edges.select(F.col("u").alias("node")).union(
        edges.select(F.col("v").alias("node"))
    ).distinct()
    labels = edges.groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("component")
    )
    return (
        nodes.join(labels, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )


def bfs_khop(
    edges: DataFrame, seeds: DataFrame, k: int, node_col: str = "node"
) -> DataFrame:
    """Bounded-depth BFS: minimum hop distance (≤ k) from a seed set
    over a directed edge frame (pass both orientations for an
    undirected graph) → (node, dist) with dist ∈ [0, k].

    Each round is frontier ⋈ edges → distinct → anti-join visited —
    one shuffle per hop, and the HOP BOUND (not graph diameter) caps
    the round count, which is what makes this the production reach
    query (k-hop neighborhoods, blast-radius, recommendation horizon)
    rather than full shortest paths: k is a small constant fixed by the
    question, so running out of hops returns normally.  An empty
    frontier exits early, so sparse seeds never pay for unreachable
    rounds.

    Scale shape: the frontier never exceeds the node set, dedup happens
    per round BEFORE the next expansion (a node reached twice expands
    once), and each round's two node-set joins are broadcast while
    small, shuffled (hash-partitioned on node id) above the bound: the
    frontier into the edge join and the visited set into the anti-join
    each ride a broadcast while their OBSERVED row count (the seeds'
    and every round's count ride the checkpoint jobs) is ≤
    ``MAX_BROADCAST_NODES``.  A checkpoint's own planner estimate
    cannot make that call: for a join-built frame it is the product of
    the input sizes, so the planner would shuffle a frontier of a few
    thousand nodes every round."""
    # the result is the union of every round's checkpoint, so none is
    # released: the rounds run on checkpoint alone, not _Fixpoint
    visited, m = checkpoint(
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0)),
        n=F.count(F.lit(1)),
    )
    frontier, n_frontier = visited.select("node"), m["n"]
    n_visited = n_frontier
    for d in range(1, k + 1):
        # nxt is the one genuinely multi-consumer frame per round (the
        # visited union, the next expansion, and every later round's
        # anti-join read it) — checkpoint it; the emptiness probe rides
        # the checkpoint job instead of a separate isEmpty() job.
        # Round 1's frontier IS the visited set: joined on its own
        # column (not a renamed one), both joins reuse one broadcast.
        fr = _broadcast_if_small(frontier, n_frontier)
        nxt, m = checkpoint(
            fr.join(edges, fr["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(_broadcast_if_small(visited.select("node"), n_visited),
                  "node", "left_anti")
            .withColumn("dist", F.lit(d)),
            n=F.count(F.lit(1)),
        )
        if m["n"] == 0:
            break
        # visited is a UNION of already-checkpointed rounds — re-reading
        # it is a cheap scan of materialized partitions, so its own
        # per-round localCheckpoint was a redundant copy job (one full
        # re-write of the growing frame per hop, removed r16)
        visited = visited.unionByName(nxt)
        frontier, n_frontier = nxt.select("node"), m["n"]
        n_visited += n_frontier
    return visited


def _broadcast_if_small(nodes: DataFrame, n: int) -> DataFrame:
    """``nodes`` with a broadcast hint when its observed row count ``n``
    is within ``MAX_BROADCAST_NODES``, unhinted (a shuffled join) above."""
    return F.broadcast(nodes) if n <= MAX_BROADCAST_NODES else nodes


def kcore_membership(
    edges: DataFrame,
    k: int,
    max_rounds: int = 12,
) -> DataFrame:
    """k-CORE decomposition (membership for fixed k): iteratively peel
    nodes of degree < k until the remaining subgraph is stable — the
    maximal subgraph where every node keeps ≥ k in-subgraph neighbors
    (Seidman 1983), the standard dense-community / engagement-tier
    extractor.  Returns (node, core_degree) — each surviving node with
    its within-core degree (≥ k by construction, an in-frame invariant
    the hash check pins).

    Edge contract: ``edges`` has ``src`` and ``dst`` columns and each
    undirected edge appears ONCE, in either orientation — passing both
    orientations would double every degree.

    Each peel round is one degree agg — both endpoints exploded
    map-side into one combiner-friendly agg (partial combine ships
    counts, not rows) — and a survivor semi-join on each edge column.
    The loop EXITS on a certified fixpoint — zero nodes below degree k,
    observed as a metric ON the degree checkpoint job itself: when
    nothing is below k the peel keeps everything, so the degree frame
    already IS the answer — and RAISES if ``max_rounds`` passes without
    convergence — the same self-auditing contract as the DPP query: a
    run that returns has PROVEN its round bound, so an unrolled
    fixed-round oracle is exact whenever the query succeeds.

    Scale shape: peeling is O(rounds) corpus passes where rounds is
    the peel DEPTH of the degree distribution (6 on the suite graph;
    pathological chains are bounded by max_rounds, and production
    would switch to the O(log n) distributed coreness algorithms only
    past that depth).  Each pass shuffles the shrinking edge frame on
    node id; the survivor set broadcasts only while it FITS — the
    per-round survivor filter is SIZE-GATED on the node count the
    fixpoint agg already produced (no extra action): ≤
    ``MAX_BROADCAST_NODES`` survivors ride a broadcast semi-join, a
    larger core (a billion-node web graph) falls back to a shuffled
    semi-join instead of detonating the broadcast budget — the bloom
    auto-sizing precedent.  Both paths are property-tested equal.
    """
    fp = _Fixpoint("kcore_membership", max_rounds)
    cur, _ = fp.checkpoint(edges.select("src", "dst"))
    for _ in fp:
        # ONE degree aggregation per round serves the fixpoint check,
        # the broadcast size gate AND the survivor filter
        deg, m = fp.checkpoint(
            cur.select(F.explode(F.array("src", "dst")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("__d")),
            n=F.count(F.lit(1)),
            n_below=F.sum((F.col("__d") < k).cast("long")),
        )
        if not m["n_below"]:  # None (empty frame) or 0: stable
            fp.finish()
            return deg.select("node", F.col("__d").alias("core_degree"))
        # size gate: survivors ≤ n, observed above
        keep = _broadcast_if_small(
            deg.filter(F.col("__d") >= k).select("node"), m["n"]
        )
        cur, _ = fp.checkpoint(
            cur.join(keep.select(F.col("node").alias("src")), "src",
                     "left_semi")
            .join(keep.select(F.col("node").alias("dst")), "dst",
                  "left_semi")
            .select("src", "dst")
        )
    # unreachable: past max_rounds iterating fp raises


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    audit_churn: bool = False,
) -> DataFrame:
    """DETERMINISTIC synchronous label propagation → (node, label) —
    the standard community-detection primitive (Raghavan et al. 2007)
    made engine-replayable: every node starts as its own label; each
    round EVERY node simultaneously adopts the most frequent label
    among its neighbors AND itself (the self-vote damps the classic
    bipartite-oscillation failure of pure-neighbor sync LPA), with
    frequency ties broken to the SMALLEST label.  Sync update + min
    tie-break remove both sources of the algorithm's usual
    nondeterminism (visit order, random tie choice), so a fixed-round
    run is a pure function of the edge set — an unrolled SQL oracle
    replays it round for round (the bfs_khop certification pattern).

    ``edges`` must contain BOTH directions of every undirected edge
    (the bfs_khop contract); self-loops are added here.  ``rounds``
    is fixed by the caller like bfs_khop's hop bound — communities
    stabilize in a few rounds on modular graphs; this is a bounded
    refinement, not a fixpoint loop.

    Scale shape: per round, ONE partitioned hash join (labels onto
    edge destinations), one (node, label) count agg, and one
    node-PARTITIONED rank window — never a global window.  State = one
    label row per node.

    ``audit_churn=True`` adds a ``changed`` boolean — did this node's
    label change in the FINAL round — so a fixed ``rounds`` is
    evidence-backed rather than conventional: near-zero final-round
    churn means the refinement has converged, high churn means the
    caller under-provisioned rounds.  FREE: the self-vote row already
    carries each node's previous label into the votes aggregation, so
    the (node, L) group with L = prev_label(node) — and ONLY that
    group — contains a nbr == node row; a __self flag aggregated
    alongside the vote count makes ``changed = (__self == 0)`` on the
    winning row, zero extra joins (r14 shipped this as a separate
    prev ⋈ labels tail join — 3 extra exchanges, 6.3 → 9.5s on the
    suite query; folded r15, same output bit-for-bit).
    Oracle-replayable (the unrolled round CTEs already materialize
    the prior round's labels)."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    e = edges.select(
        F.col(src).alias("node"), F.col(dst).alias("nbr")
    ).unionByName(
        nodes.select("node", F.col("node").alias("nbr"))  # self-vote
    ).localCheckpoint(eager=True)
    labels = nodes.select(
        "node", F.col("node").alias("label")
    ).localCheckpoint(eager=True)
    from pyspark.sql.window import Window

    w = Window.partitionBy("node").orderBy(
        F.col("__c").desc(), F.col("label").asc()
    )
    if rounds <= 0 and audit_churn:  # degenerate: nothing propagated
        return labels.select("node", "label", F.lit(False).alias("changed"))
    for rnd in range(rounds):
        final = rnd == rounds - 1
        votes = (
            e.join(
                labels.select(
                    F.col("node").alias("nbr"), "label"
                ),
                "nbr",
            )
            .groupBy("node", "label")
            .agg(
                F.count(F.lit(1)).alias("__c"),
                # 1 iff this label group got the node's SELF-vote,
                # i.e. label == the node's round-(r−1) label — the
                # churn signal, carried by the aggregation itself
                F.max(
                    F.when(F.col("nbr") == F.col("node"), 1).otherwise(0)
                ).alias("__self"),
            )
        )
        ranked = votes.withColumn("__rk", F.row_number().over(w)).filter(
            F.col("__rk") == 1
        )
        if final and audit_churn:
            return ranked.select(
                "node", "label", (F.col("__self") == 0).alias("changed")
            )
        labels = ranked.select("node", "label").localCheckpoint(eager=True)
    return labels
