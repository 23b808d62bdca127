"""Unit tests for connected-components dedup clustering (operators/cluster.py).

Covers graph shapes the driver's oracle-checked queries exercise only
lightly: chains (transitive closure), stars, singletons, reversed-order
pairs, duplicate pairs, and the over-deletion case where pairwise dropping
and cluster dedup genuinely differ.
"""

from __future__ import annotations

from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import cluster


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_components_mixed_shapes(spark):
    # chain 1-2-3-4, star 10-{11,12,13}, pair (20,21), reversed pair (31,30),
    # duplicate edge (2,1)
    pairs = _pairs(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21), (31, 30), (2, 1)],
    )
    got = {(r["node"], r["component"]) for r in cluster.connected_components(pairs).collect()}
    want = {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10), (13, 10),
        (20, 20), (21, 20), (30, 30), (31, 30),
    }
    assert got == want


def test_long_chain_converges(spark):
    # Worst-case diameter for label propagation; large-star/small-star must
    # still collapse it to one component labeled by the minimum node.
    pairs = _pairs(spark, [(i, i + 1) for i in range(30)])
    cc = cluster.connected_components(pairs)
    rows = cc.collect()
    assert len(rows) == 31
    assert {r["component"] for r in rows} == {0}


def test_cluster_sizes(spark):
    pairs = _pairs(spark, [(1, 2), (2, 3), (5, 6)])
    sizes = {
        r["component"]: r["n_members"]
        for r in cluster.cluster_sizes(cluster.connected_components(pairs)).collect()
    }
    assert sizes == {1: 3, 5: 2}


def test_cluster_dedup_keeps_one_per_cluster(spark):
    docs = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    # chain 1~2~3: pairwise "drop the right side" would drop 2 and 3; cluster
    # dedup also keeps exactly {1} — but for A~B, B~C with (3,2),(2,1) given
    # in arbitrary orientation the cluster min is still 1.
    pairs = _pairs(spark, [(3, 2), (2, 1), (7, 8)])
    kept = sorted(r["doc_id"] for r in cluster.cluster_dedup(docs, pairs).collect())
    assert kept == [0, 1, 4, 5, 6, 7, 9]


def test_self_pairs_ignored(spark):
    pairs = _pairs(spark, [(1, 1), (2, 3)])
    got = {(r["node"], r["component"]) for r in cluster.connected_components(pairs).collect()}
    assert got == {(2, 2), (3, 2)}


def test_empty_pairs(spark):
    pairs = _pairs(spark, [])
    assert cluster.connected_components(pairs).count() == 0
    docs = spark.range(0, 5).withColumnRenamed("id", "doc_id")
    assert cluster.cluster_dedup(docs, pairs).count() == 5


def test_pagerank_uniform_on_cycle(spark):
    # a directed 4-cycle is regular: PR stays exactly uniform at 1/4
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.cluster import pagerank

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    rows = pagerank(e, iterations=4).collect()
    assert {r.vertex for r in rows} == {0, 1, 2, 3}
    assert all(r.pagerank == 0.25 for r in rows), rows


def test_pagerank_hub_dominates_and_mass_conserves(spark):
    # spokes -> hub, hub -> spokes (symmetric star): the hub must rank
    # strictly above every spoke, spokes tie, total mass stays ~1
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.cluster import pagerank

    edges = [(i, 9) for i in range(4)] + [(9, i) for i in range(4)]
    e = spark.createDataFrame(edges, "src long, dst long")
    rows = {r.vertex: r.pagerank for r in pagerank(e, iterations=6).collect()}
    hub, spokes = rows[9], [rows[i] for i in range(4)]
    assert all(hub > s for s in spokes)
    assert len(set(spokes)) == 1  # symmetry -> exact tie (rounded trajectory)
    assert abs(sum(rows.values()) - 1.0) < 1e-6  # no dangling loss here


def test_pagerank_duplicate_edges_collapse(spark):
    # the operator contracts on a DISTINCT edge set: multi-edges must not
    # double a neighbor's influence
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.cluster import pagerank

    e1 = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    e2 = spark.createDataFrame(
        [(0, 1), (0, 1), (1, 0), (1, 0)], "src long, dst long"
    )
    a = sorted((r.vertex, r.pagerank) for r in pagerank(e1, iterations=3).collect())
    b = sorted((r.vertex, r.pagerank) for r in pagerank(e2, iterations=3).collect())
    assert a == b


def test_pagerank_dangling_conserves_mass_and_matches_numpy(spark):
    """handle_dangling=True on a graph with a sink: total mass stays ~1
    (the default leaks it), and the trajectory matches an independent
    numpy power iteration with the same per-step rounding."""
    import numpy as np
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.cluster import pagerank

    # 0 -> 1 -> 2, 0 -> 2; vertex 2 is a sink
    edges = [(0, 1), (1, 2), (0, 2)]
    e = spark.createDataFrame(edges, "src long, dst long")
    iters, d, rd = 4, 0.85, 9

    got = {r.vertex: r.pagerank for r in
           pagerank(e, iterations=iters, handle_dangling=True).collect()}
    leaky = {r.vertex: r.pagerank for r in
             pagerank(e, iterations=iters, handle_dangling=False).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-6
    assert sum(leaky.values()) < 0.95  # the default genuinely leaks here

    # independent twin: dense power iteration, same rounding each step
    n = 3
    out = {0: [1, 2], 1: [2], 2: []}
    pr = np.round(np.full(n, 1 / n), rd)
    for _ in range(iters):
        inflow = np.zeros(n)
        for u, vs in out.items():
            for v in vs:
                inflow[v] += pr[u] / len(vs)
        dm = sum(pr[u] for u, vs in out.items() if not vs)
        pr = np.round((1 - d) / n + d * inflow + d * dm / n, rd)
    assert got == {i: pr[i] for i in range(n)}


def test_pagerank_dangling_noop_on_sinkless_graph(spark):
    # with no sinks the option must not change the trajectory
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.cluster import pagerank

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    a = sorted((r.vertex, r.pagerank) for r in pagerank(e, iterations=4).collect())
    b = sorted((r.vertex, r.pagerank) for r in
               pagerank(e, iterations=4, handle_dangling=True).collect())
    assert a == b
