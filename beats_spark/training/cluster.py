"""Duplicate-cluster assignment: connected components over near-dup
candidate pairs, Spark-native.

Pair generators (exact hash groups, n-gram Jaccard, MinHash/SimHash
LSH, embedding LSH) emit *edges*; real dedup needs the transitive
closure — if A~B and B~C, all three are one duplicate cluster and a
single representative survives. The reference pipeline has no such
operator (Beats is row-at-a-time); this is part of the LLM-training-
data surface built on the same engine.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public
literature), the standard shuffle-bounded formulation:

  large-star(u): attach every neighbor v > u to m = min(Γ(u) ∪ {u})
  small-star(u): attach every neighbor v ≤ u (and u itself) to m

Each half-round is one groupBy (min per node) plus one co-partitioned
join back on the same key — two shuffles — and the edge set provably
converges to per-component stars rooted at the component minimum in
O(log² n) rounds (≈2-3 in practice for dedup graphs, whose components
are near-cliques). No collect_set anywhere: a 10⁸-member component
never materializes a neighbor list on one executor, the per-node state
is a single min. Driver-side loop iterates over ROUNDS (a scalar
convergence probe per round), never over rows; each round's edge set
is persisted and the previous one unpersisted so lineage stays flat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _half_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (large=True) or small-star (large=False) pass.

    `edges` is an undirected edge list (a, b), a != b, canonical or
    not. Returns the rewritten directed edge set, distinct, without
    self-loops.
    """
    nbrs = edges.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionAll(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
    if not large:
        # small-star operates on the ≤ side only; the min must be
        # computed over that same side (plus self)
        nbrs = nbrs.filter(F.col("v") < F.col("u"))
    mins = nbrs.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    joined = nbrs.join(mins, "u")
    if large:
        out = joined.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("a"), F.col("m").alias("b")
        )
    else:
        out = joined.select(F.col("v").alias("a"), F.col("m").alias("b")).unionAll(
            mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
        )
    return out.filter(F.col("a") != F.col("b")).distinct()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 20,
) -> DataFrame:
    """(id, cluster_id) for every node appearing in `pairs`, where
    cluster_id = the minimum node id of its connected component.
    Nodes with no edges (singletons) are not in the graph and are not
    returned — callers keep them as their own representatives.

    Convergence is detected with a deterministic scalar probe per
    round (edge count + sum of a canonical pair hash); identical probe
    two rounds running ⇒ the edge set is a fixpoint (stars), at which
    point every edge is (member, root).
    """
    edges = (
        pairs.select(
            F.col(id_a).cast("long").alias("a"),
            F.col(id_b).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )

    def probe(e: DataFrame) -> tuple[int, int]:
        # bit_xor, not sum: order-independent, can't overflow under
        # ANSI mode (edges are distinct, so nothing self-cancels)
        r = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.bit_xor(
                    F.xxhash64(F.least("a", "b"), F.greatest("a", "b"))
                ),
                F.lit(0),
            ).alias("h"),
        ).first()
        return (r["n"], r["h"])

    # localCheckpoint, not persist: persist truncates re-EXECUTION but
    # the logical plan still accretes every prior round, and Catalyst
    # analysis cost grows super-linearly with plan depth — the loop
    # must cut lineage each round. (On a real cluster with executor
    # loss concerns, swap for reliable .checkpoint() to HDFS; the
    # round structure is identical.)
    edges = edges.localCheckpoint(eager=True)
    last = probe(edges)
    for _ in range(max_rounds):
        nxt = _half_round(
            _half_round(edges, large=True), large=False
        ).localCheckpoint(eager=True)
        sig = probe(nxt)
        edges = nxt
        if sig == last:
            break
        last = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )

    # fixpoint edges are (member, root); roots map to themselves
    labels = (
        edges.select(F.col("a").alias("id"), F.col("b").alias("cluster_id"))
        .unionAll(
            edges.select(
                F.col("b").alias("id"), F.col("b").alias("cluster_id")
            )
        )
        .groupBy("id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return labels


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster assignment + size: (id, cluster_id, n_members).
    The survivor of each cluster is its cluster_id (min id) — the same
    keep-the-minimum rule exact_dedup uses."""
    from pyspark.sql.window import Window

    labels = connected_components(pairs, id_a, id_b)
    return labels.withColumn(
        "n_members",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
    )


def pagerank_scaled(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Exact integer-scaled PageRank (damping 0.85) — the iterative
    link-graph authority score a curation pipeline ranks domains/docs
    by (the "quality via citations" signal; public algorithm, Page et
    al. 1999). The OTHER graph algorithm class next to
    connected_components: per-iteration propagation instead of
    converging star-contraction.

    EXACTNESS ACROSS ENGINES: floating PageRank is unreproducible
    across engines (grouped double sums are order-dependent), so the
    recurrence is kept in scaled integers. With rank_k = T_k/(n·360^k):

        T_0     = 1
        T_{k+1} = 54·360^k  +  17 · Σ_{j→i} T_k(j) · (18 / deg_j)

    (0.15·360 = 54, 0.85·360 = 306 = 17·18; 18 div deg — INTEGER
    division, the CLAUDE.md no-floats-near-oracles rule — is exact for
    deg ≤ 3; callers whose graphs exceed out-degree 3 must raise the
    18 to lcm(1..max_deg) accordingly). Every term is a BIGINT, so
    Spark and a SQL twin agree bit-for-bit. int64 bound: T_k ≤
    n·360^k (Σ ranks ≤ 1), so the cap is iterations ≤ 6 — k=6 is safe
    to n ≈ 4.2e6 nodes and k=3 (the default) to n ≈ 2e14; beyond that
    the recurrence needs a decimal/HUGEINT carrier, not a bigger cap.
    Out-degree > 3 is rejected; a dangling node (no out-edges) simply
    contributes nothing — a mass leak, not an error (the standard
    redistribution term would break integrality; callers' synthetic
    graphs have no dangling nodes).

    SCALE SHAPE: the fat edge table is repartitioned on src ONCE and
    persisted — each iteration joins the skinny rank table (node,
    T_k) against that fixed layout (ranks move to the edges, never
    the reverse), then one groupBy(dst) shuffle aggregates
    contributions (map-side partial sums first). At 100 TB the edge
    table is bucketed on src (bucketing.write_bucketed) and even that
    one repartition disappears; iterations stay at exactly one
    exchange of skinny ranks + one of partial sums. Driver loop is
    over ITERATIONS (a constant), never rows.
    """
    if not 1 <= iterations <= 6:
        raise ValueError(
            f"iterations out of range (int64 bound, see docstring): {iterations}"
        )
    deg = edges.groupBy(src_col).agg(F.count("*").alias("__deg"))
    # guard on the skinny degree table alone — one scan+agg job, no
    # join, and the persisted edge plan below still materializes once
    if deg.filter(F.col("__deg") > 3).limit(1).count():
        raise ValueError("pagerank_scaled: out-degree > 3 breaks integrality")
    e = (
        edges.join(deg, src_col)
        .select(
            F.col(src_col).alias("__src"),
            F.col(dst_col).alias("__dst"),
            F.expr("18 div __deg").alias("__w"),  # integer division, IEEE-free
        )
        .repartition(F.col("__src"))
        .persist()
    )
    n = nodes.select(F.col(node_col).alias("__node"))
    ranks = n.select("__node", F.lit(1).cast("long").alias("__t"))
    base = 1  # 360^k
    for _ in range(iterations):
        contrib = (
            e.join(ranks, e.__src == ranks.__node)
            .groupBy("__dst")
            .agg(F.sum(F.col("__t") * F.col("__w")).alias("__in"))
        )
        ranks = (
            n.join(contrib, n.__node == contrib.__dst, "left")
            .select(
                "__node",
                (
                    F.lit(54 * base)
                    + F.lit(17) * F.coalesce(F.col("__in"), F.lit(0))
                ).cast("long").alias("__t"),
            )
        )
        base *= 360
    out = ranks.select(
        F.col("__node").alias(node_col), F.col("__t").alias("pr_scaled")
    )
    return out


def triangle_counts(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph
    — the classic link-farm / mutual-citation curation signal (a
    document whose neighborhood is a clique is a template family or a
    spam ring, not organic linking).

    Algorithm: degree orientation (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW'11 — public
    literature). Each undirected edge points from the endpoint with
    the smaller (degree, id) to the larger; every node's out-degree is
    then ≤ √(2m), so the wedge self-join emits Σ d_out² = O(m^1.5)
    rows TOTAL regardless of hot nodes — a power-law hub with degree
    10⁷ contributes its wedges at its *neighbors*, never as one
    reducer key. Every step is an equi-join or a map-side-combinable
    groupBy; nothing is ever cartesian and no adjacency list is ever
    collected.

    edges: (src, dst) directed or undirected, self-loops/dups fine.
    nodes: (node) — the full vertex set (zero-triangle nodes keep a
    row). Returns (node, n_tri)."""
    canon = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by (deg, id): u → v iff (deg_u, u) < (deg_v, v)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    oriented = (
        canon.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    par = edges.sparkSession.sparkContext.defaultParallelism
    # persisted like pagerank's edge layout; the test/bench harnesses
    # clearCache after each query
    oriented = oriented.repartition(par, "u").persist()
    e1 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("x"))
    e2 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("y"))
    # wedges share the oriented apex; x < y (id order) dedups the
    # unordered pair and matches canon's (least, greatest) layout, so
    # the closing-edge probe is an equi-join against canon itself
    wedges = e1.join(e2, "apex").filter(F.col("x") < F.col("y"))
    closing = canon.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tris = wedges.join(closing, ["x", "y"]).select("apex", "x", "y")
    per_node = (
        tris.select(F.explode(F.array("apex", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return nodes.join(per_node, "node", "left").select(
        "node", F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri")
    )


def kcore_members(
    edges: DataFrame,
    k: int,
    max_rounds: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, core_deg) for every node of the k-core — the maximal
    subgraph in which every node keeps degree ≥ k. The third iterative
    graph primitive next to connected_components (star contraction)
    and pagerank_scaled (propagation): k-core is *peeling* — repeat
    "drop nodes with degree < k, with their edges" until nothing
    drops. Curation use (public literature: Seidman 1983 coreness;
    Batagelj–Zaveršnik peeling): link-farm / spam-ring cores survive
    high k while organic citation tails dissolve, so "in the k-core"
    is a document-graph quality/spam signal the way triangle counts
    are — but global, not local: a chain of weak links collapses even
    though every single node looked fine on first-round degree.

    Everything is integer set algebra — no floats anywhere — so a SQL
    twin replays it bit-for-bit with one CTE pair per round (the
    peel is idempotent at the fixpoint, so a fixed-depth twin that
    over-runs the convergence round is still exact).

    SCALE SHAPE (batch peeling, the Spark-idiomatic form of
    Batagelj–Zaveršnik): each round is one map-side-combined
    groupBy(node) over the *surviving* edge set plus two semi-joins
    back on the endpoint keys — shuffle volume is proportional to the
    edges still alive, which only shrinks, and the per-node state is
    a single count (a 10⁸-degree hub is a groupBy key with partial
    aggregation, never an adjacency list). The driver loop iterates
    over ROUNDS with a scalar count as the convergence probe (nxt ⊆
    cur under semi-joins, so equal counts ⇔ fixpoint); lineage is cut
    per round with localCheckpoint exactly like connected_components
    (swap for reliable .checkpoint() on a lossy cluster). Rounds are
    data-bounded, not fixed: a pendant path of length L needs L
    rounds, so callers bound max_rounds to their graph family and the
    loop RAISES rather than returning a half-peeled set.

    edges: (src, dst) directed or undirected; self-loops and dup/
    reverse pairs are canonicalized away. Nodes whose edges all peel
    (or that never had edges) are absent from the result.
    """
    if k < 1:
        raise ValueError(f"kcore_members: k must be >= 1, got {k}")
    canon = (
        edges.filter(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .distinct()
    )
    cur = canon.localCheckpoint(eager=True)
    alive = cur.count()
    for _ in range(max_rounds):
        deg = (
            cur.select(F.col("a").alias("node"))
            .unionAll(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("node")
        # using-column semi-joins on renamed copies: `keep` feeds both
        # endpoint filters, and a raw keep.node reference on the second
        # join would be an ambiguous self-join (it already sits in the
        # left subtree after the first)
        nxt = (
            cur.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
        n2 = nxt.count()
        cur = nxt
        if n2 == alive:
            break
        alive = n2
    else:
        raise RuntimeError(
            f"kcore_members: no fixpoint within {max_rounds} rounds "
            f"({alive} edges still peeling) — raise max_rounds for this "
            "graph family"
        )
    return (
        cur.select(F.col("a").alias("node"))
        .unionAll(cur.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
    )


def label_propagation(
    edges: DataFrame,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, label) after `rounds` SYNCHRONOUS label-propagation
    iterations (Raghavan, Albert & Kumara 2007, the community-
    detection primitive GraphFrames ships as `labelPropagation`) —
    the fourth iterative graph class next to connected_components
    (contraction), pagerank_scaled (propagation) and kcore_members
    (peeling): LPA finds *dense communities*, not mere reachability —
    a bridge edge joins two components into one CC but LPA keeps the
    two communities distinct, which is exactly the granularity
    boilerplate/mirror-site families have in a web corpus (the
    curation use: mark entire template families, not just pairwise
    near-dups).

    Determinism (the oracle contract): every node starts labelled
    with itself; each round every node adopts the label that is most
    frequent among its NEIGHBORS' previous-round labels, ties broken
    by the SMALLEST label. Synchronous updates + total tie order make
    the result a pure function of (edge set, rounds) — no randomness,
    no floats — so a fixed-depth SQL twin replays it bit-for-bit.
    (Asynchronous LPA converges faster but is schedule-dependent —
    unreproducible across engines by construction; fixed-round
    synchronous is the distributed-determinism tradeoff, and
    oscillation on bipartite-ish structures is bounded by `rounds`
    rather than looping forever.)

    SCALE SHAPE: the neighbor table (2m rows) is built ONCE and
    persisted partitioned on `nbr`; each round ships only the skinny
    (node, label) table into that layout (one exchange), then the
    message stream is repartitioned on `node` where BOTH the
    (node, label) count and the argmax window ride the same exchange
    by subset-key clustering (HashPartitioning(node) satisfies the
    groupBy's ClusteredDistribution((node, label)) — the q62 trick).
    Per-node state is one label; a 10^8-degree hub is a groupBy key
    with map-side partial aggregation, never an adjacency list.
    Lineage is cut per round with localCheckpoint (swap for
    .checkpoint() on a lossy cluster).

    Nodes without edges are absent from the result (same contract as
    kcore_members); reference analog: Beats has no graph surface —
    this belongs to the training-data curation battery.
    """
    if rounds < 1:
        raise ValueError(f"label_propagation: rounds must be >= 1, got {rounds}")
    sc_parallelism = edges.sparkSession.sparkContext.defaultParallelism
    canon = (
        edges.filter(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .distinct()
    )
    nbrs = (
        canon.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionAll(canon.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .repartition(sc_parallelism, "nbr")
        .localCheckpoint(eager=True)
    )
    labels = nbrs.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(rounds):
        msgs = nbrs.join(
            labels.withColumnRenamed("node", "nbr"), "nbr"
        ).select("node", "label")
        labels = (
            msgs.repartition(sc_parallelism, "node")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
    return labels


def neighborhood_function(
    edges: DataFrame,
    nodes: DataFrame,
    rounds: int = 3,
    lg_k: int = 14,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """HyperBall (Boldi & Vigna, WWW 2013): the neighborhood function
    N(t) = |{(v,u) : dist(v,u) <= t}| of a directed graph, computed
    with PER-NODE MERGEABLE HLL SKETCHES instead of per-node reachable
    SETS — the marriage of the iterative-graph family (pagerank/
    kcore/LPA above) and the mergeable-sketch family (q63 HLL / q65
    KLL / q82 CMS). N(t) is the standard curation-scale connectivity
    profile: effective diameter, spid, and "how much of the link graph
    is within t hops of the crawl frontier" all read off it.

    Recurrence: B_0(v) = {v};  B_{t+1}(v) = B_t(v) ∪ ⋃_{v→w} B_t(w).
    The EXACT version keeps per-node sets whose total size is
    Σ_v |B_t(v)| — quadratic on dense graphs (that pair-explosion IS
    the oracle twin, viable only at test scale). HyperBall replaces
    each set with a 2^lg_k-bounded HLL: per-node state is CONSTANT, a
    round is one equi-join of the sketch table into the once-persisted
    dst-partitioned edge layout plus one map-side-combined
    hll_union_agg groupBy — shuffle ∝ nodes·sketch_size regardless of
    ball volume. Driver loop over a constant round count; per-round
    totals come off the round's persisted sketch table (dimension-
    sized aggregates, never collected per node); each round's table
    is released once the next is materialized, and the edge layout
    and the last round's table before returning.

    EXACTNESS WINDOW (the q63 oracle recipe): DataSketches HLL stays
    in exact coupon mode below ~3/4·2^(lg_k-2) distincts (~3072 at
    lg_k=14), and unions of coupon sketches whose result stays below
    the bound remain exact — test graphs keep every ball ≤ 40
    members, so hll_sketch_estimate is EXACT and the summed N(t)
    hash-matches the pair-explosion SQL twin bit-for-bit. Beyond the
    window the estimate carries the usual ~1.6%/sqrt(2^lg_k) HLL
    error (the published HyperBall trade).
    """
    if not 0 <= rounds <= 16:
        raise ValueError(f"rounds out of range: {rounds}")
    e = (
        edges.select(F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst"))
        .repartition(F.col("__dst"))
        .persist()
    )
    n = nodes.select(F.col(node_col).alias("__node"))
    sk = n.groupBy("__node").agg(
        F.hll_sketch_agg("__node", F.lit(lg_k)).alias("__sk")
    ).persist()

    def total(t: int, sk_df: DataFrame):
        return sk_df.agg(
            F.sum(F.hll_sketch_estimate("__sk")).cast("long").alias("nf")
        ).select(F.lit(t).cast("int").alias("t"), "nf").first()

    # each round's total is collected as it is computed, which also
    # materializes that round's sketch table, so the previous one can
    # be released without being recomputed from lineage
    totals = [total(0, sk)]
    for t in range(1, rounds + 1):
        nbr = e.join(sk, e.__dst == sk.__node).select(
            F.col("__src").alias("__node"), "__sk"
        )
        nxt = (
            nbr.unionByName(sk.select("__node", "__sk"))
            .groupBy("__node")
            .agg(F.hll_union_agg("__sk").alias("__sk"))
            .persist()
        )
        totals.append(total(t, nxt))
        sk.unpersist()
        sk = nxt
    sk.unpersist()
    e.unpersist()
    return edges.sparkSession.createDataFrame(totals, "t int, nf long")
