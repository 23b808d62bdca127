"""Connected components + cluster-based dedup (SURVEY.md §2.8 extension).

Near-dup detection (operators/dedup.py, operators/simjoin.py) emits PAIRS.
A real corpus-cleaning pipeline needs CLUSTERS: near-duplication is
transitive-ish (A~B, B~C ⇒ A,B,C are one group even when A~C missed the
threshold), and the keep-rule is "one representative per cluster", not
"drop the right side of every pair" — pairwise dropping over-deletes on
chains (B dropped for A, C dropped for B even though C's only surviving
neighbor is gone).

``connected_components`` implements the alternating **large-star /
small-star** algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii
— "Connected Components in MapReduce and Beyond", ACM SoCC 2014 — public):
each round is two groupBy-min + join passes over the edge list, and the
edge diameter contracts quadratically, converging in O(log d) rounds (2-3
rounds for the shallow clusters dedup produces). Per round the edge set is
``localCheckpoint``-ed: iterative DataFrame algorithms otherwise grow an
exponentially deep lineage that kills the planner long before the data
hurts. On a multi-node cluster prefer ``spark.sparkContext.setCheckpointDir``
+ reliable ``checkpoint`` for fault tolerance; the algorithm is unchanged.

Scale shape: every round is (groupBy node → min neighbor) + (join edges to
mins) — two hash shuffles on node ids, both linear in |E|. No collect; the
only driver-side value per round is the convergence checksum (2 longs).

Reference parity: the reference has no dedup at all (SURVEY.md §2.8); this
is driver-contract extension scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to min(N(u) ∪ {u}).

    Takes a one-directional undirected edge list and symmetrizes it first:
    each center must see its FULL neighborhood, and after round one the
    stored edges are all larger→smaller, which would otherwise hide the
    incoming half of every neighborhood and collapse the edge set.
    """
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect u and every neighbor v ≤ u to min(N≤(u) ∪ {u})."""
    le = edges.filter(F.col("v") <= F.col("u"))
    mins = le.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    relinked = le.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edge = mins.select(F.col("u"), F.col("m").alias("v"))
    return relinked.unionAll(self_edge).filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``.

    ``component`` is the minimum node id of the connected component —
    deterministic, join-able back to the corpus. Alternates large-star /
    small-star until the edge set reaches a fixed point (checked by
    count + order-insensitive hash checksum — one tiny action per round,
    never a collect of the data itself).
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col(id_a) != F.col(id_b))
        .distinct()
        .localCheckpoint()
    )

    def _sig(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # XOR fold: order-insensitive and immune to ANSI-mode sum overflow
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).head()
        return (row["n"], row["h"])

    from ..caching import free_local_checkpoint

    prev = None
    for _ in range(max_iter):
        prev_edges = edges
        edges = _small_star(_large_star(edges)).localCheckpoint()
        free_local_checkpoint(prev_edges)  # superseded tier, blocks dead
        cur = _sig(edges)
        if cur == prev:
            break
        prev = cur
    # Fixed point: every edge is (node, component-min). Roots appear only on
    # the v side — they are their own component.
    members = edges.select("u", F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("u"), F.col("v").alias("component")).distinct()
    return (
        members.unionAll(roots)
        .groupBy("u")
        .agg(F.min("component").alias("component"))
        .select(F.col("u").alias("node"), "component")
    )


def cluster_sizes(components: DataFrame) -> DataFrame:
    """(component, n_members) per cluster — the dup-group histogram."""
    return components.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    components: DataFrame | None = None,
) -> DataFrame:
    """Corpus with one representative (min id) kept per near-dup cluster.

    Docs not in any pair are singletons and always kept. The components
    table is tiny relative to the corpus (only docs that had a near-dup),
    so the join back is broadcast-able at any realistic dup rate; Spark's
    AQE converts it automatically when small.

    Pass ``components`` (a precomputed ``connected_components`` result —
    e.g. a session-memoized persisted table shared with the cluster
    report queries) to skip recomputing the pair join + iterative CC;
    otherwise ``pairs`` is required and the chain runs here.
    """
    comp = (
        components
        if components is not None
        else connected_components(pairs, id_a, id_b)
    )
    drop = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    round_digits: int = 9,
    handle_dangling: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (Page/Brin 1998).

    By default dangling (sink) vertices are NOT redistributed — the
    co-purchase / similarity graphs this engine builds are symmetric,
    where every vertex has out-degree ≥ 1, so the term is dead weight.
    ``handle_dangling=True`` adds the standard redistribution for
    arbitrary directed graphs: the vertex frame is annotated ONCE with
    an out-degree-0 flag, every score tier carries it, and each
    iteration's sink mass is a single 1-row conditional-sum aggregate
    over the already-checkpointed score frame (carried as a broadcast
    scalar frame — never a driver collect), spread uniformly so scores
    keep summing to ~1 instead of leaking mass into sinks. The extra
    cost per iteration is one cached-scan + 1-row agg — the r12 shape
    paid a |V|-row semi-join against a persisted sink set per iteration
    for the same number (r12 VERDICT item 3). The per-iteration
    rounding still pins the trajectory, so the unrolled SQL-twin
    hash-gating technique extends to this variant unchanged.

    Returns (vertex, pagerank) for every vertex appearing as a source or
    destination. Each iteration's scores round to ``round_digits`` —
    that makes the fixed-point trajectory IDENTICAL on any engine
    (summation-order noise sits ~9 digits below the cutoff), so a k-step
    unrolled SQL twin hash-matches step for step.

    Scale shape: edge prep is ONE src-clustered exchange — dedup,
    out-degree annotation (window count over the same clustering), and
    the persisted iteration join side all ride it; the handle is
    released before return via caching.release so no dead handle burns
    a trim() slot. Skew note: a hyper-hot src key makes the window
    buffer that group's edge rows in one task — Spark spills the buffer
    (ExternalAppendOnlyUnsafeRowArray) rather than OOM, and the same hot
    key would land on one reducer under the old agg+join shape too. Per iteration: ONE join of the src-partitioned edge
    list to the |V|-row score frame (only the score side reshuffles)
    and ONE hash agg on the vertex key over the contributions unioned
    with a zero row per vertex — both linear in |E|, both map-side
    combinable. Each score tier is ``localCheckpoint``-ed (eager),
    exactly like connected_components: persist() alone would NOT
    truncate lineage, and K nested tiers recreate the exponential-plan-
    depth problem; the tradeoff (block loss fails the job instead of
    recomputing) is the documented one — use a reliable checkpoint dir
    on a fault-sensitive cluster. K iterations = 2K linear shuffles,
    never a widening join. |V| rides as a broadcast 1-row frame, not a
    driver scalar.
    """
    from ..caching import free_local_checkpoint, release, tracked_persist

    from pyspark.sql import Window

    # edge prep rides ONE src-clustered exchange (r13): repartition("src")
    # satisfies the ClusteredDistribution both the dedup aggregate (keys
    # src,dst ⊇ src) and the out-degree Window require, so dedup +
    # out-degree annotation fuse into a single shuffle — the r12 shape
    # paid three (distinct on (src,dst), groupBy(src) for deg, re-shuffle
    # of e for the e⋈deg join). The persisted frame keeps
    # HashPartitioning(src), which is exactly the side every iteration's
    # contribution join clusters on — only the score tier reshuffles.
    ed = tracked_persist(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition("src")
        .dropDuplicates()
        .withColumn(
            "outd",
            F.count(F.lit(1)).over(Window.partitionBy("src")).cast("double"),
        )
    )
    if handle_dangling:
        # the sink flag folds into the vertex dedup aggregation itself
        # (r12 VERDICT item 3): a vertex is dangling iff it NEVER appears
        # on the src side, i.e. min() over a per-leg marker — one hash
        # agg replaces the r12 distinct + anti-join-against-deg pair, and
        # every score tier carries the flag so each iteration's dangling
        # mass is a conditional sum over the cached tier, not a per-
        # iteration semi-join against a separate sink set
        vraw = (
            ed.select(F.col("src").alias("v"), F.lit(False).alias("_dang"))
            .unionByName(
                ed.select(F.col("dst").alias("v"), F.lit(True).alias("_dang"))
            )
            .groupBy("v")
            .agg(F.min("_dang").alias("_dang"))
        )
    else:
        vraw = (
            ed.select(F.col("src").alias("v"))
            .unionByName(ed.select(F.col("dst").alias("v")))
            .distinct()
        )
    verts = tracked_persist(vraw)
    vcols = ["v", "_dang"] if handle_dangling else ["v"]
    nv = verts.agg(F.count(F.lit(1)).cast("double").alias("nv"))
    pr = (
        verts.crossJoin(nv)
        .select(
            *vcols, F.round(F.lit(1.0) / F.col("nv"), round_digits).alias("pr")
        )
        .localCheckpoint()
    )
    base = F.lit(1.0 - damping)
    # per-iteration shape (r13): the edge contributions UNION a zero-
    # contribution row per vertex, then ONE hash agg on the vertex key —
    # two exchanges per iteration (contrib join + the agg) where the r12
    # shape paid three (the agg keyed the dst side, then a second join
    # restored zero-inflow vertices from verts). The 0.0 leg is FP-exact:
    # x + 0.0 == x for every finite double, so the inflow bits — and the
    # round-9 trajectory the SQL twins hash — are unchanged. The vertex
    # row also carries the dangling flag (max() over the group sees only
    # the one non-NULL flag, from the zeros leg), so no re-join is needed
    # to keep it on the next tier.
    flag_null = [F.lit(None).cast("boolean").alias("_dang")]
    aggs = [F.sum("c").alias("inflow")] + (
        [F.max("_dang").alias("_dang")] if handle_dangling else []
    )
    for _ in range(iterations):
        contrib = ed.join(pr, ed["src"] == pr["v"], "inner").select(
            F.col("dst").alias("v"),
            (F.col("pr") / F.col("outd")).alias("c"),
            *(flag_null if handle_dangling else []),
        )
        zeros = verts.select("v", F.lit(0.0).alias("c"), *vcols[1:])
        inflow = contrib.unionByName(zeros).groupBy("v").agg(*aggs)
        if handle_dangling:
            # one scan of the checkpointed tier, map-side combinable
            dm = pr.agg(
                F.coalesce(
                    F.sum(F.when(F.col("_dang"), F.col("pr"))), F.lit(0.0)
                ).alias("dm")
            )
            extra = F.lit(damping) * F.col("dm") / F.col("nv")
        else:
            dm, extra = None, F.lit(0.0)
        prev = pr
        scored = inflow.crossJoin(nv)
        if dm is not None:
            scored = scored.crossJoin(dm)
        pr = (
            scored.select(
                *vcols,
                F.round(
                    base / F.col("nv")
                    + F.lit(damping) * F.col("inflow")
                    + extra,
                    round_digits,
                ).alias("pr"),
            )
            .localCheckpoint()  # eager: truncates the tier's lineage
        )
        # the new tier is materialized; the superseded tier's blocks are
        # dead weight in executor storage — free them now instead of at GC
        free_local_checkpoint(prev)
    release(ed)
    release(verts)
    return pr.select(F.col("v").alias("vertex"), F.col("pr").alias("pagerank"))
