"""Connected components over an edge DataFrame — the clustering step a
near-dedup pipeline needs after pair generation (pairs only say "a≈b";
keeping one survivor per duplicate *group* needs the transitive closure).

The reference has no equivalent (its pipeline stops at per-table loads);
this is part of the LLM-training-data extension mandated by
BASELINE.json.

Algorithm: iterative min-label propagation.  label(v) starts as v; each
round every node takes the min label over its closed neighborhood; the
fixpoint assigns every node the minimum node id of its component.

Scale notes (100 TB near-dup graphs):

- each round is ONE shuffle join (symmetric edges × labels, both keyed by
  node id) + a map-side-combining groupBy — no driver-side graph state;
- the edge list is cached once and reused every round; labels are
  ``localCheckpoint``-ed per round so the plan/lineage stays O(1) deep
  instead of O(rounds);
- convergence is O(max component diameter) rounds.  Near-dup components
  are star-ish (a survivor plus its variants) with tiny diameters, so
  this converges in a handful of rounds; for chained (high-diameter)
  graphs pass ``algorithm="star"`` — the alternating large-star /
  small-star scheme (Kiveris et al., "Connected Components in MapReduce
  and Beyond", SoCC'14) converges in O(log n) rounds regardless of
  diameter;
- the convergence probe is ``limit(1)`` over changed labels — it
  short-circuits instead of counting the full frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.layout import (finalize_release, pinned_conf,
                                pinned_shuffle, plan_bytes, plan_width)

__all__ = ["connected_components", "pagerank_int", "triangle_counts",
           "cluster_survivors", "kcore_peel", "random_walks"]


def _release_round_blocks() -> None:
    """Free the PREVIOUS round's ``localCheckpoint`` blocks in an
    iterative operator: reassigning the loop variable drops the last
    Python reference, but the backing RDD blocks are only removed when
    the ContextCleaner sees the object collected — an explicit
    ``gc.collect()`` per round (~10 ms) keeps live checkpoint storage
    at two rounds instead of all of them (at 16× data the accumulated
    rounds OOM'd a 16 GB heap in kcore_peel)."""
    import gc

    gc.collect()


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 30,
                         algorithm: str = "label") -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id reachable from ``node``.
    Deterministic (min is order-free).  Node ids keep their input type
    — any ORDERABLE type works (long doc_ids, string urls); "minimum"
    means the type's own ordering (lexicographic for strings).

    ``algorithm="label"`` (default): min-label propagation, O(diameter)
    rounds — right for the star-ish components near-dedup produces.
    ``algorithm="star"``: large-star/small-star, O(log n) rounds — right
    when components can chain (entity-resolution graphs, path-shaped
    link graphs) and diameter is unbounded."""
    if algorithm == "star":
        return _connected_components_star(edges, src, dst, max_iter)
    # run the whole loop at the session's own width with AQE OFF
    # (round-11, guide §1.2 step 3): every round materializes an eager
    # localCheckpoint, and under AQE each exchange in that round's plan
    # becomes its own materialize→re-optimize job — measured at sf0.1,
    # 25 jobs for a 3-round propagation vs 11 with the pin, values
    # bit-identical.  The width stays the session's (no layout change —
    # AQE had nothing left to decide at these widths).
    with pinned_conf(edges.sparkSession,
                     {"spark.sql.adaptive.enabled": "false"}):
        return _connected_components_label(edges, src, dst, max_iter)


def _connected_components_label(edges: DataFrame, src: str, dst: str,
                                max_iter: int) -> DataFrame:
    sym = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .union(edges.select(F.col(dst).alias("u"),
                               F.col(src).alias("v")))
           .cache())
    # seed with min(closed neighborhood) — identical to what the first
    # propagation round would produce from identity labels, for the cost
    # of the groupBy alone (saves one full join+agg+probe round).  Every
    # seed label was just (re)assigned, so the whole table starts as the
    # propagation frontier.
    labels = (sym.groupBy("u").agg(F.min("v").alias("mn"))
              .select(F.col("u").alias("node"),
                      F.least(F.col("u"), F.col("mn")).alias("label"),
                      F.lit(True).alias("changed"))
              .localCheckpoint(eager=True))
    for _ in range(max_iter):
        # frontier optimization (round-11, guide §2.3): a node's min-
        # over-neighborhood can only drop when some neighbor's label
        # dropped LAST round, so the propagation join runs against the
        # changed frontier, not the full label table — the frontier
        # shrinks geometrically on star-ish dedup graphs, so late
        # rounds join (and shuffle) almost nothing.  Exact: labels are
        # monotonically non-increasing, and an unchanged neighbor's
        # label was already folded into this node's label in an
        # earlier round.
        frontier = (labels.where("changed")
                    .select(F.col("node").alias("v"), "label"))
        neigh = (sym.join(frontier, "v")
                 .groupBy("u").agg(F.min("label").alias("nl"))
                 .withColumnRenamed("u", "node"))
        # carry a per-row changed flag through the checkpoint: the probe
        # then scans the materialized blocks with limit(1) instead of
        # re-joining new labels against old (one fewer shuffle per round)
        new = (labels.select("node", "label").join(neigh, "node", "left")
               .select("node",
                       F.least(F.col("label"),
                               F.coalesce("nl", "label")).alias("label"),
                       (F.coalesce("nl", "label") < F.col("label"))
                       .alias("changed"))
               .localCheckpoint(eager=True))
        changed = new.where("changed").limit(1).count()
        labels = new
        _release_round_blocks()
        if changed == 0:
            break
    sym.unpersist()
    return labels.select("node", F.col("label").alias("component"))


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: for each node u, attach every STRICTLY LARGER
    neighbor to m = min(closed neighborhood of u).  Output edges are
    (v, m) with v > m, so the edge set is hi→lo directed afterwards.
    One shuffle (the per-u window) + the dedup exchange."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    m = F.least(F.min("v").over(w), F.col("u"))
    return (sym.withColumn("m", m)
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: input is hi→lo directed; for each node u,
    re-attach u and all its smaller neighbors to m = min(neighbors).
    Keeps the hi→lo invariant."""
    w = Window.partitionBy("u")
    m = F.min("v").over(w)  # v < u always, so min(closed nbhd) = min(v)
    pairs = (e.withColumn("m", m)
             .select(F.explode(F.array(
                 F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                 F.struct(F.col("u").alias("a"), F.col("m").alias("b"))))
                 .alias("s"))
             .select(F.col("s.a").alias("u"), F.col("s.b").alias("v")))
    return pairs.where(F.col("u") != F.col("v")).distinct()


def _connected_components_star(edges: DataFrame, src: str, dst: str,
                               max_iter: int) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al., SoCC'14):
    each round is two window-shuffles + dedups; the edge set contracts
    to per-component stars rooted at the component minimum in O(log n)
    rounds, independent of diameter.  Lineage is cut per round with
    ``localCheckpoint`` like the label-propagation path.

    Runs at the session's current width with AQE off (round-11): each
    round is two window-shuffles + two dedups feeding an eager
    checkpoint, and AQE turned every one of those exchanges into its
    own per-stage job — measured at sf0.1, 40 jobs for a 3-round run
    vs 12 with the pin, values bit-identical."""
    with pinned_conf(edges.sparkSession,
                     {"spark.sql.adaptive.enabled": "false"}):
        return _cc_star_loop(edges, src, dst, max_iter)


def _cc_star_loop(edges: DataFrame, src: str, dst: str,
                  max_iter: int) -> DataFrame:
    nodes = (edges.select(F.col(src).alias("u"))
             .union(edges.select(F.col(dst).alias("u")))
             .distinct().localCheckpoint(eager=True))
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .where(F.col("u") != F.col("v"))
         .distinct().localCheckpoint(eager=True))
    e_count = e.count()
    for _ in range(max_iter):
        new = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # set-equality probe: counts match AND nothing new appeared
        # (previous round's count is carried — no re-count of e).  The
        # cheap count runs first and short-circuits the anti-join probe
        # on every non-converged round (one fewer job per round)
        new_count = new.count()
        same_size = new_count == e_count
        grew = 1 if not same_size else \
            new.join(e, ["u", "v"], "left_anti").limit(1).count()
        e, e_count = new, new_count
        _release_round_blocks()
        if same_size and grew == 0:
            break
    # fixpoint: every edge is (node, component-min); roots + isolated
    # nodes (from degenerate self-loop inputs) label themselves
    labeled = e.select(F.col("u").alias("node"),
                       F.col("v").alias("component"))
    roots = (nodes.join(e.select("u"), "u", "left_anti")
             .select(F.col("u").alias("node"), F.col("u").alias("component")))
    return labeled.union(roots)


def triangle_counts(edges: DataFrame, src: str = "id_a",
                    dst: str = "id_b",
                    assume_canonical: bool = False,
                    broadcast_degrees: bool = False) -> DataFrame:
    """(node, n_triangles) for every node on at least one triangle —
    the local clustering signal of a near-dup / co-occurrence graph
    (triangle-dense neighborhoods are mutually-similar clusters;
    triangle-free hubs are boilerplate connectors).  Exact and
    deterministic, so SQL-oracle-checkable via canonical-edge
    self-joins.

    Algorithm: degree-ordered orientation + adjacency-array close
    (compact-forward, cf. Cohen's MapReduce triangle scheme).  Each
    undirected edge is directed from its (degree, id)-smaller endpoint
    to the larger; every out-neighborhood then has O(sqrt(m)) size on
    any graph.  Out-neighborhoods are packed into per-node arrays and
    each oriented edge (u, v) closes its triangles with ONE in-codegen
    ``array_intersect(adj(u), adj(v))`` — the m^1.5-bounded wedge set
    is enumerated inside whole-stage codegen instead of existing as a
    shuffled row stream, and the closing-edge join disappears into the
    same expression (measured at sf0.1/local[32]: 6.2 s with the
    wedge-join formulation → 4.0 s).

    Scale shape: canonicalize+distinct (one exchange), degree attach
    (see below), adjacency groupBy on u (one exchange of |E| longs,
    map-side packing), then ONE join of the edge set against the
    adjacency on v — no iteration, no driver state.  The probe side
    carries nbrs_u per edge row (Σ deg⁺² ≤ m^1.5 values, columnar
    longs), strictly less traffic than the old wedge stream's 3-long
    rows of the same cardinality plus its second (v, w) exchange.  The
    adjacency feeds two plan branches (probe re-explode + build), so
    it is cached and released by the ``finalize_release`` barrier.

    ``broadcast_degrees=True`` asserts the graph is bounded: the
    (node, deg) table broadcasts into the orientation join (16 B/node,
    ~10 M nodes ≈ 160 MB practical ceiling) and the packed adjacency
    (|E| longs + |V| keys ≈ 10 MB per 1 M edges) broadcasts into the
    close — the only shuffle left in the whole plan is the adjacency
    groupBy.  At web scale leave False: degrees attach via one melt
    join + one regroup (two exchanges of the 2|E| melt instead of the
    naive two sequential per-endpoint joins), and the close
    shuffle-hashes with the adjacency as the build side."""
    if assume_canonical:
        # caller guarantees src < dst and no duplicates — skip the
        # re-canonicalization exchange (a full extra shuffle of the
        # edge set when the producer already emits canonical pairs)
        canon = edges.select(F.col(src).cast("long").alias("a"),
                             F.col(dst).cast("long").alias("b"))
    else:
        canon = (edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("a"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("b"))
            .where(F.col("a") != F.col("b")).distinct())
    deg = (canon.select(F.col("a").alias("n"))
           .union(canon.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count("*").alias("deg")))
    # orient by (deg, id): strict total order, so each edge gets exactly
    # one direction and each triangle exactly one (u; v, w) wedge + edge
    # stats-gated degree broadcast (round-11): when Catalyst's free
    # plan-time estimate says the edge set is small, the degree table
    # (≤ 2 rows per edge, 16 B each) certainly broadcasts — both
    # endpoint joins then resolve against ONE broadcast hash map and
    # the edge set is never shuffled for orientation (measured at
    # sf0.1: 0.89 s vs 2.14 s for the melt join + regroup).  Above the
    # gate the estimate scales with the input and the melt path keeps
    # the two-bounded-exchange web-scale shape.
    canon_bytes = None if broadcast_degrees else plan_bytes(canon)
    if broadcast_degrees or (canon_bytes is not None
                             and canon_bytes < (32 << 20)):
        # both endpoint degrees resolve against the SAME broadcast
        # hash map (the two join builds are identical modulo aliasing,
        # so the exchange is planned once and reused) — no shuffle of
        # the edge set at all
        bdeg = F.broadcast(deg)
        ranked = (canon
                  .join(bdeg.withColumnRenamed("n", "a")
                        .withColumnRenamed("deg", "deg_a"), "a")
                  .join(bdeg.withColumnRenamed("n", "b")
                        .withColumnRenamed("deg", "deg_b"), "b"))
    else:
        # single-pass degree attach: melt each edge to its two
        # endpoints, ONE shuffle join against the degree table, regroup
        # to one row per edge — one exchange fewer than joining deg
        # per endpoint sequentially (round-4 review item)
        melted = canon.select(
            "a", "b", F.explode(F.array("a", "b")).alias("n"))
        ranked = (melted.join(deg, "n")
                  .groupBy("a", "b")
                  .agg(F.max(F.when(F.col("n") == F.col("a"),
                                    F.col("deg"))).alias("deg_a"),
                       F.max(F.when(F.col("n") == F.col("b"),
                                    F.col("deg"))).alias("deg_b")))
    a_first = ((F.col("deg_a") < F.col("deg_b"))
               | ((F.col("deg_a") == F.col("deg_b"))
                  & (F.col("a") < F.col("b"))))
    # stats-sized with a deliberately SMALL per-partition target (the
    # intersect stage does ~m^1.5 work on m bytes, so it wants more
    # slices per byte than a linear scan; round-10 sweep at test SFs
    # 64/32/16/8 → 3.9/3.4/3.2/4.6 s), floored at HALF the machine
    # width, not a constant 8: the stage is CPU-bound, so even a
    # few-MB graph wants real cores (sf0.1 on 32 cores: 1.96/1.24/
    # 1.34 s at widths 8/16/32)
    dp = edges.sparkSession.sparkContext.defaultParallelism
    npart = plan_width(canon, floor=max(8, dp // 2), target_bytes=2 << 20)
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"))
    # adjacency-array close (compact-forward with arrays): pack each
    # out-neighborhood — O(sqrt m) after orientation — into ONE array
    # row, then close every triangle with an in-codegen
    # ``array_intersect(adj(u), adj(v))`` per edge.  This removes BOTH
    # wedge-era shuffles: the m^1.5-row wedge stream never exists as
    # rows (the intersection enumerates it inside whole-stage codegen),
    # and the closing-edge join disappears into the same expression.
    adj = (oriented.repartition(npart, "u")
           .groupBy("u").agg(F.collect_list("v").alias("nbrs"))
           .cache())
    # probe side re-explodes from the cached adjacency so the edge set
    # is never recomputed; each edge row carries its nbrs_u array
    e_u = adj.select("u", F.col("nbrs").alias("nbrs_u"),
                     F.explode("nbrs").alias("v"))
    adj_v = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nbrs_v"))
    if broadcast_degrees:
        # bounded-graph contract: the whole oriented adjacency is |E|
        # longs + |V| keys (~10 MB/1M edges), so broadcast it and the
        # close costs NO exchange at all — the only shuffle in the
        # entire plan after degree-attach is the adjacency groupBy
        joined = e_u.join(F.broadcast(adj_v), "v")
    else:
        # web-scale default: one exchange of the edge set on v, each
        # row carrying its nbrs_u array — Σ deg⁺² ≤ m^1.5 values total,
        # packed columnar, vs the wedge join's 3-long rows of the same
        # cardinality PLUS a second (v, w) exchange
        joined = e_u.join(adj_v.hint("shuffle_hash"), "v")
    # per-node attribution without materializing (u, v, w) triples:
    # edge (u, v) with intersection W closes |W| triangles — u and v
    # each gain |W|, each w in W gains 1
    ws = F.array_intersect("nbrs_u", "nbrs_v")
    per_node = (joined
                .select("u", "v", ws.alias("__ws"))
                # most oriented edges close nothing — drop them BEFORE
                # the explode instead of filtering c > 0 afterwards
                # (round-10: saves two zero-structs per non-closing
                # edge through the explode+agg)
                .where(F.size("__ws") > 0)
                .select(F.explode(F.concat(
                    F.array(F.struct(F.col("u").alias("node"),
                                     F.size("__ws").alias("c")),
                            F.struct(F.col("v").alias("node"),
                                     F.size("__ws").alias("c"))),
                    F.transform(F.col("__ws"), lambda w: F.struct(
                        w.alias("node"), F.lit(1).alias("c"))))).alias("s"))
                .select("s.node", "s.c")
                .groupBy("node")
                .agg(F.sum("c").cast("long").alias("n_triangles")))
    return finalize_release(per_node, adj)


def pagerank_int(edges: DataFrame, n_iter: int = 3,
                 scale: int = 1_000_000, damp_num: int = 85,
                 damp_den: int = 100) -> DataFrame:
    """Integer-scaled PageRank over a directed edge list (``src``,
    ``dst`` columns) — the iterative-algorithm companion of
    :func:`connected_components`.

    All arithmetic is exact integer math (scores start at ``scale``;
    each round ``score' = (scale - damp) + damp_num·Σ(score DIV
    outdeg) DIV damp_den``), so a fixed iteration count produces
    bit-identical results on any engine — which makes the algorithm
    SQL-oracle-checkable by unrolling the iterations as chained CTEs
    (floating-point PageRank could only ever be rows-only).  Rounding
    drift vs. real PageRank is ≤ n_iter ulps of 1/scale — ranking-
    irrelevant at scale=1e6.

    Scale shape — ONE exchange per round, ONE per setup table: the
    setup pipelines entirely behind two pinned ``repartition(npart,
    key)`` exchanges — dedup (``distinct`` is co-located once the
    edges are hash(src)-clustered: [src] ⊆ [src, dst]) and the
    loop-invariant out-degree (a partition-local ``count() OVER
    (PARTITION BY src)`` window, replacing the former groupBy+join
    pair and its extra shuffle) both reuse the edge layout, and the
    node table pays one exchange with its own co-located distinct.
    The per-round score table keeps hash(node) partitioning through
    joins and ``localCheckpoint`` (LogicalRDD preserves
    outputPartitioning) — so the edges × scores join and the
    dangling-node left join plan with zero exchange, and the only
    shuffle each round is the map-side-combining SUM of contributions
    on dst.  Dangling nodes (no in-edges) settle at the teleport base.
    At 100 TB this is the same per-round cost envelope as label
    propagation; n_iter is fixed, not convergence-probed, to keep the
    oracle exact.

    The width is :func:`..functions.layout.plan_width` of the edges,
    not the session's: an iterative operator pays every round for
    over-partitioning, and the pinned ``repartition(n, key)`` layout
    is AQE-exempt, so the width must be right at plan time (sf0.1: 64
    pinned partitions cost 7–13 s for a 1.2 M-edge run whose
    8-partition run is ~4 s).

    Lineage is cut with ``localCheckpoint`` every 3 rounds, not every
    round: checkpointing EVERY round paid a per-round driver
    job-submission + GC floor that dominated the wall at small data
    (8.8 s vs a 0.4 s oracle at sf0.1); between cuts the rounds plan
    and run as ONE Spark job.  The final round is always checkpointed
    so the returned frame survives the edge/node cache release
    below."""
    base = scale - damp_num * scale // damp_den
    npart = plan_width(edges)
    spark = edges.sparkSession
    # the whole build runs under the stats-sized width (same discipline
    # as the BPE/kcore loops): without the pin the per-round
    # groupBy("node") plans at the SESSION width while nodes/ed sit at
    # npart — a width mismatch that re-exchanges the score table every
    # round (measured at sf0.1: ~2.7 s unpinned vs ~1.95 s pinned on a
    # 32-wide bench session; the round-7 RATIOS regression was this
    # mismatch, not the plan shape).  AQE off (round-11): the
    # pinned-width iterative plan leaves AQE nothing to decide — the
    # joins are co-partitioned zero-exchange, the per-round SUM is
    # map-side-combined at the pinned width — while its per-stage
    # materialize→re-optimize round-trips cost real driver latency
    # (measured at sf0.1: 4.04 s with AQE vs 2.27 s without on the
    # same 1.2 M-edge graph) — the same rationale as the BPE/k-means
    # loops, which already run with AQE off.
    with pinned_shuffle(spark, npart):
        # distinct is co-located: hash(src) clusters (src, dst)
        e = edges.select("src", "dst").repartition(npart, "src").distinct()
        ed = e.withColumn("deg", F.count("*")
                          .over(Window.partitionBy("src"))).persist()
        # Materialize ed BEFORE the union below references it twice: a
        # lazy persist means the union's two branches are scheduled as
        # parallel stages that RACE to compute the identical
        # scan→repartition→distinct→window pipeline (both miss the
        # cache, both compute, BlockManager logs "already exists" —
        # the operator's heaviest stage ran 2× every call, ~60 % of
        # its executor time at sf0.1).  One cheap count() job builds
        # the cache once; the branches and the per-round joins then
        # all read it.
        ed.count()
        # nodes derive from the PERSISTED ed, not e — deriving from e
        # re-ran the whole scan+repartition+distinct pipeline a second
        # time just to list the node ids
        nodes = (ed.select(F.col("src").alias("node"))
                 .union(ed.select(F.col("dst").alias("node")))
                 .repartition(npart, "node").distinct().persist())
        try:
            scores = nodes.select("node", F.lit(scale).cast("bigint")
                                  .alias("score"))
            for i in range(n_iter):
                contrib = (ed.join(scores, ed["src"] == scores["node"])
                           .select(F.col("dst").alias("node"),
                                   F.expr("score div deg").alias("c")))
                agg = contrib.groupBy("node").agg(F.sum("c").alias("s"))
                scores = (nodes.join(agg, "node", "left")
                          .select("node",
                                  (F.lit(base)
                                   + F.expr(f"({damp_num} * coalesce(s, 0))"
                                            f" div {damp_den}"))
                                  .cast("bigint").alias("score")))
                if (i + 1) % 3 == 0 or i == n_iter - 1:
                    scores = scores.localCheckpoint(eager=True)
                    _release_round_blocks()
            return scores
        finally:
            ed.unpersist()
            nodes.unpersist()


def cluster_survivors(docs: DataFrame, pairs: DataFrame,
                      score_col, id_col: str = "doc_id",
                      src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Survivorship over near-dup clusters — the step that turns "these
    documents are mutually similar" into "keep THIS one": transitive
    closure of the pair graph (:func:`connected_components`), singleton
    documents as their own cluster, then one deterministic survivor per
    cluster by (score desc, id asc) — e.g. the longest / highest-quality
    variant wins, original beats truncation.

    Returns every document with (cluster_id, survivor_id, is_survivor);
    filtering ``is_survivor`` is the dedup, keeping the rest is the
    audit trail.

    ``score_col`` must be numeric-castable (it is cast to long for the
    election); ``id_col`` only needs to be ORDERABLE — string doc_ids
    are fine, because the desc/asc mix is realized by negating the
    SCORE, never the id: ``min(struct(-score, id))`` picks the highest
    score, ties broken by the smallest id under the id type's own
    ordering.

    Scale shape: CC is the iterative piece (bounded rounds, one shuffle
    join each); survivor election is ONE map-side-combining
    ``min(struct(-score, id))`` per cluster joined back on the cluster
    key — no per-cluster window sort, no skew on popular clusters."""
    cc = connected_components(pairs, src, dst)
    # NULL scores must LOSE the election: -NULL is NULL, which sorts
    # FIRST in struct ordering and would otherwise win the min() —
    # coalesce to -2^62 (not long-min: the election negates the score,
    # and -long-min overflows / raises under ANSI) so a NULL-score doc
    # is picked only when the whole cluster is unscored (ties then
    # break on id as usual)
    scored = docs.select(F.col(id_col),
                         F.coalesce(score_col.cast("long"),
                                    F.lit(-(1 << 62)).cast("long"))
                         .alias("__score"))
    members = (scored.join(cc.withColumnRenamed("node", id_col),
                           id_col, "left")
               .select(id_col, "__score",
                       F.coalesce("component", F.col(id_col))
                       .alias("cluster_id")))
    best = (members.groupBy("cluster_id")
            .agg(F.min(F.struct((-F.col("__score")).alias("__negscore"),
                                F.col(id_col).alias("__id")))
                 .alias("b"))
            .select("cluster_id", F.col("b.__id").alias("survivor_id")))
    return (members.join(best, "cluster_id")
            .select(id_col, "cluster_id", "survivor_id",
                    (F.col(id_col) == F.col("survivor_id"))
                    .alias("is_survivor")))


def kcore_peel(edges: DataFrame, k: int = 3, n_rounds: int = 4,
               src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Bounded-round k-core peeling: iteratively delete nodes of degree
    < k (and their edges); after ``n_rounds`` rounds the survivors
    approximate the k-core from above (the true k-core is always
    contained in the survivor set, and equals it once a round removes
    nothing).  The dense-cluster extractor of a near-dup graph — spam
    farms and template families are high-core, organic near-dups are
    not.

    The round count is FIXED, not convergence-probed, for the same
    reason as :func:`pagerank_int`: a fixed iteration count makes the
    operator exactly reproducible by unrolling the rounds as chained
    SQL CTEs — callers needing the exact fixpoint raise ``n_rounds``
    (peeling converges in ≤ |V| rounds; in practice a handful).

    Returns (node, degree) of survivors with their within-subgraph
    degree.

    Incremental-degree formulation (round-11 optimization, guide §2.3
    "aggregate before you shuffle" taken to its limit): the old shape
    re-aggregated the FULL edge set every round (degree groupBy) and
    rewrote the filtered edge set every other round (|E|-sized
    checkpoints).  But peeling only ever SUBTRACTS: a surviving node's
    next-round degree is its current degree minus its edges into this
    round's removed set.  So the peel now materializes the symmetric
    edge list ONCE, aggregates the initial degree table ONCE, and each
    round updates the |V|-sized degree table from a delta join of the
    edges against the (usually tiny, broadcastable) removed set —
    per-round shuffle volume is edges-incident-to-removed, not |E|,
    and the final degree table IS the answer (the old final |E|
    re-aggregation disappears).  Equivalence: deg_{r+1}(u) = deg_r(u)
    − |nbrs(u) ∩ removed_r| restricted to alive nodes is exactly the
    degree within the round-r surviving subgraph; removal rounds
    partition the removed nodes, so no edge is ever double-subtracted.
    A round that removes nothing is a fixpoint (every later round
    removes nothing and degrees are final), so the loop may exit early
    without changing the result of the fixed-round contract.

    Memory/shuffle discipline (round-7 → round-11): the removed-node
    side of the delta join is small whenever peeling is selective, so
    the peel runs with AQE ON and the broadcast threshold raised
    (scoped) to 128 MB — at probe scale the delta join converts to a
    broadcast join and the only per-round shuffle is the delta's own
    map-side-combining count; a billion-node removed set exceeds the
    threshold in AQE's runtime measurement and falls back to a shuffle
    join exactly when broadcast would OOM.  The per-round degree table
    is ``localCheckpoint``-ed (|V| rows — orders of magnitude smaller
    than the old |E| checkpoints) because each round's table feeds two
    consumers (the removed probe and the next update)."""
    # 8 MB/partition, not the 64 MB scan default: the peel SYMMETRIZES
    # the input (2×) and the initial degree count groups the whole
    # working set, so per-task footprint — not scan bytes — is the
    # binding constraint (at the 64× probe point the 64 MB sizing
    # yielded 10 partitions of ~15 M rows each on 32 cores:
    # under-parallel and spill-bound); small graphs still hit the
    # floor, huge ones still cap at the session width
    spark = edges.sparkSession
    npart = plan_width(edges, target_bytes=8 << 20)
    with pinned_conf(spark, {"spark.sql.shuffle.partitions": npart,
                             "spark.sql.autoBroadcastJoinThreshold": "128m"}):
        e = (edges.select(F.col(src).cast("long").alias("u"),
                          F.col(dst).cast("long").alias("v"))
             .union(edges.select(F.col(dst).cast("long").alias("u"),
                                 F.col(src).cast("long").alias("v")))
             .where(F.col("u") != F.col("v")).distinct()
             .localCheckpoint(eager=True))
        deg = (e.groupBy("u").agg(F.count("*").alias("d"))
               .select(F.col("u").alias("node"), "d")
               .localCheckpoint(eager=True))
        for _ in range(n_rounds):
            removed = deg.where(F.col("d") < k).select("node")
            # cheap probe over the checkpointed table: an empty removed
            # set is the peel fixpoint — every remaining round is a
            # no-op, so breaking preserves the fixed-round result
            if removed.limit(1).count() == 0:
                break
            delta = (e.join(removed.withColumnRenamed("node", "v"), "v")
                     .groupBy("u").agg(F.count("*").alias("lost"))
                     .select(F.col("u").alias("node"), "lost"))
            deg = (deg.join(removed, "node", "left_anti")
                   .join(delta, "node", "left")
                   .select("node",
                           (F.col("d") - F.coalesce("lost", F.lit(0)))
                           .cast("long").alias("d"))
                   .localCheckpoint(eager=True))
            _release_round_blocks()
        # degree 0 ⟺ no surviving incident edge ⟺ absent from the old
        # final edge re-aggregation
        return (deg.where(F.col("d") > 0)
                .select("node", F.col("d").alias("degree")))


def random_walks(edges: DataFrame, walk_len: int = 4,
                 src: str = "id_a", dst: str = "id_b",
                 assume_canonical: bool = False) -> DataFrame:
    """Deterministic uniform random walks — the corpus generator for
    node2vec/DeepWalk-style graph embeddings: one walk per node, each
    step choosing a neighbor "uniformly" by an md5-derived index, so
    walks are reproducible across reruns, relayouts, and engines (no
    ``rand()`` in the plan) and the whole generator is
    SQL-oracle-checkable.

    Step rule: from node v at step s of the walk started at w, take the
    neighbor with rank ``md5(w|s|v) mod deg(v)`` in the (md5(v|u), u)
    ordering of v's adjacency — a per-(walk, step) independent choice,
    so two walks visiting the same node diverge.

    Layout: the adjacency is collapsed to ONE ROW PER NODE holding the
    neighbor ids pre-sorted in the (md5(v|u), u) pick order — a
    map-side-combining ``collect_list`` + per-group ``sort_array``
    (narrow), no window, no ranked edge table.  Each step is then one
    join of the |V|-row frontier against the |V|-row neighbor table
    plus an O(1) ``element_at`` — the step cost is frontier-sized,
    independent of |E|.  (Two earlier shapes were step-dominated at
    sf0.1: joining the frontier to the 2|E|-row ranked edge list on
    ``node`` alone streamed deg(v) rows per frontier row through a
    residual ``rnk == pick`` filter — 4.3× the oracle, the suite's
    slowest query — and the (node, rank) equi-join fix still
    re-exchanged the full edge list every step because an
    AQE-planned cached relation does not expose its pinned
    partitioning to EnsureRequirements.)

    The walk is built as ONE lazy linear plan (round-11 optimization):
    the frontier carries the step columns n0..n{L} cumulatively, each
    step consuming the previous exactly once, and the (walk_id, step,
    node) rows come from a single ``posexplode`` at the end.  The old
    shape ``localCheckpoint``-ed every frontier (an eager barrier per
    step — walk_len sequential driver-blocking jobs) because each
    frontier fed TWO consumers (the next step and its union branch);
    the cumulative-column shape has single-consumer steps, so no
    barrier is needed and downstream predicates on ``walk_id`` can
    push through the whole loop to the seed (the checkpoints blocked
    that).  The cached adjacency is eagerly filled first — its one
    small job — because the step joins' build sides are independent
    stages that would otherwise race the cold cache and recompute the
    adjacency once per step (the pagerank ``ed.count()`` lesson).

    Memory contract: a node's whole neighbor array must fit in one
    aggregation buffer — O(max_degree) per row (~40 B/neighbor during
    the sort, 8 B after), vs. the old window's spillable sort.  Fine
    for bounded-degree similarity/co-occurrence graphs (this module's
    use case); for power-law graphs with multi-million-degree hubs,
    cap neighborhoods upstream or rank the edge list with a window.

    ``assume_canonical=True``: caller guarantees the edge list is
    deduplicated with ``src < dst`` — skips the symmetrized
    ``distinct()`` (a full exchange of 2|E| rows; duplicate edges
    would otherwise corrupt deg and the pick order).

    Returns (walk_id, step, node) with step 0 = the seed; walks never
    stop early (symmetrization guarantees deg ≥ 1)."""
    sym = (edges.select(F.col(src).cast("long").alias("u"),
                        F.col(dst).cast("long").alias("v"))
           .union(edges.select(F.col(dst).cast("long").alias("u"),
                               F.col(src).cast("long").alias("v")))
           .where(F.col("u") != F.col("v")))
    if not assume_canonical:
        sym = sym.distinct()
    # cache, not localCheckpoint: nbrs feeds walk_len join branches +
    # the frontier seed; a releasable cache lets finalize_release drop
    # the blocks when the walks are materialized — checkpoint blocks
    # would linger until driver GC and OOM repeated runs in one session.
    # The (md5(v|u), u) pick-order key is computed AFTER the groupBy
    # (from the group key + collected neighbors): the shuffle then
    # carries 8-byte longs instead of 40+-byte (md5-hex, long) structs
    # — same md5 count, ~0.2 s less exchange volume at sf0.1
    nbrs = (sym.groupBy("u")
            .agg(F.collect_list("v").alias("vs"))
            .select("u", F.transform(
                F.sort_array(F.transform(F.col("vs"), lambda v: F.struct(
                    F.md5(F.concat(F.col("u").cast("string"), F.lit("|"),
                                   v.cast("string"))).alias("h"),
                    v.alias("v")))),
                lambda x: x["v"]).alias("arr"))
            .cache())
    # eager fill: the step joins' build sides are independent stages
    # that would race a cold cache and recompute the adjacency per step
    nbrs.count()
    cur = nbrs.select(F.col("u").alias("walk_id"), F.col("u").alias("n0"))
    for s in range(1, walk_len + 1):
        prev = F.col(f"n{s - 1}")
        j = cur.join(nbrs, prev == nbrs["u"])
        pick = F.pmod(
            F.conv(F.substring(F.md5(F.concat(
                F.col("walk_id").cast("string"), F.lit("|"),
                F.lit(str(s)), F.lit("|"),
                prev.cast("string"))), 1, 8), 16, 10)
            .cast("long"), F.size("arr"))
        cur = j.select(
            "walk_id", *[f"n{i}" for i in range(s)],
            F.element_at("arr", (pick + 1).cast("int")).alias(f"n{s}"))
    # materialize the COMPACT per-walk frame (|V| rows × L+1 columns,
    # one row per walk) and release the adjacency cache; the row-per-
    # step view is a lazy narrow posexplode over it — 5× fewer
    # checkpointed rows, and walk_id predicates push below the explode
    walks = finalize_release(cur, nbrs)
    return walks.select(
        "walk_id",
        F.posexplode(F.array(*[f"n{i}" for i in range(walk_len + 1)]))
        .alias("step", "node"))
