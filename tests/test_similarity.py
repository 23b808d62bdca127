"""Unit tests for similarity search: exact top-k vs ANN recall, and
embedding-cosine near-dup with constructed near-duplicate fixtures (the
driver testdata has no high-cosine pairs — max pairwise cosine ≈ 0.51 — so
the rows-only contract queries legitimately return 0 rows there)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import types as T

from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import similarity

DIM = 16
SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), False),
    ]
)


def _fixture(spark):
    rng = np.random.RandomState(42)
    base = rng.normal(size=(20, DIM))
    rows = [(i, base[i].tolist()) for i in range(20)]
    # 100/101: tiny perturbations of row 0 → cosine ≈ 1 with it and each other
    rows.append((100, (base[0] + rng.normal(scale=0.01, size=DIM)).tolist()))
    rows.append((101, (base[0] + rng.normal(scale=0.01, size=DIM)).tolist()))
    return spark.createDataFrame(rows, SCHEMA), base


def test_brute_force_topk_exact(spark):
    df, base = _fixture(spark)
    out = similarity.brute_force_topk(df.filter("vec_id != 0"), base[0].tolist(), k=3)
    rows = out.collect()
    assert [r.vec_id for r in rows[:2]] in ([100, 101], [101, 100])
    assert rows[0].cosine > 0.99
    # descending, deterministic tiebreak
    cos = [r.cosine for r in rows]
    assert cos == sorted(cos, reverse=True)


def test_lsh_topk_finds_near_neighbors(spark):
    df, base = _fixture(spark)
    out = similarity.lsh_topk(df.filter("vec_id != 0"), base[0].tolist(), k=3, num_planes=6)
    got = {r.vec_id for r in out.collect()}
    # the two perturbed copies collide with the query bucket (multi-probe)
    assert {100, 101} <= got


def test_cosine_near_duplicate_pairs(spark):
    df, _ = _fixture(spark)
    out = similarity.cosine_near_duplicate_pairs(df, threshold=0.95, dim=DIM, num_planes=6)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (0, 100) in pairs and (0, 101) in pairs and (100, 101) in pairs
    # no false positives among the random vectors
    assert all(a in (0, 100, 101) and b in (0, 100, 101) for a, b in pairs)


def test_cosine_near_dups_empty_on_random(spark):
    df, _ = _fixture(spark)
    out = similarity.cosine_near_duplicate_pairs(
        df.filter("vec_id < 90"), threshold=0.95, dim=DIM, num_planes=6
    )
    assert out.count() == 0


def test_pq_topk_recall_and_exactness_of_rerank(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import similarity
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.sources.readers import table
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    emb = table(spark, "embeddings", SF_SMOKE)
    qvec = emb.filter(F.col("vec_id") == 0).head().embedding
    rest = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in similarity.brute_force_topk(rest, qvec, 10).collect()]
    pq = similarity.pq_topk(rest, qvec, 10, refine=8)
    got = [r.vec_id for r in pq.collect()]
    # exact rerank of the refined set: whatever PQ returns must be scored
    # identically to brute force, and recall must be solid even on random
    # vectors (the hardest case for quantization)
    assert len(got) == 10
    assert exact[0] in got, "exact top-1 missed"
    assert len(set(exact) & set(got)) >= 5, f"recall too low: {set(exact) & set(got)}"


def test_pq_index_codes_shape(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import similarity
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.sources.readers import table
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    emb = table(spark, "embeddings", SF_SMOKE)
    coded, books = similarity.pq_index(emb, m=8, k=16)
    assert books.shape == (8, 16, 8)
    row = coded.select("pq_code").head()
    assert len(row.pq_code) == 8
    assert all(0 <= c < 16 for c in row.pq_code)
    # codes deterministic under repartition
    again, _ = similarity.pq_index(emb.repartition(5), m=8, k=16)
    a = {r.vec_id: list(r.pq_code) for r in coded.select("vec_id", "pq_code").collect()}
    b = {r.vec_id: list(r.pq_code) for r in again.select("vec_id", "pq_code").collect()}
    assert a == b


def test_media_near_duplicates_find_reencoded_copies(spark):
    """Byte-identical copies AND 'corrupted re-encodes' (one byte flipped —
    different payload hash, near-identical decoded statistics) must pair up;
    unrelated media must not flood the output."""
    import numpy as np
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import multimodal

    base = multimodal.synthetic_media_df(spark, n=24)
    rows = base.collect()
    planted = []
    for r in rows[:4]:
        payload = bytes(r.payload)
        corrupted = bytes([payload[0] ^ 1]) + payload[1:]  # new hash, ~same stats
        planted.append((r.media_id + 1000, r.kind, corrupted, r.meta))
    aug = base.unionByName(spark.createDataFrame(planted, base.schema))
    pairs = multimodal.media_near_duplicates(aug, threshold=0.999).collect()
    got = {(p.id_a, p.id_b) for p in pairs}
    for r in rows[:4]:
        assert (r.media_id, r.media_id + 1000) in got, f"missed planted pair for {r.media_id}"
    # precision: unrelated random media must not flood the output (the
    # uncentered-stats failure mode produced 1077 bogus pairs here)
    assert len(got) <= 8, f"too many pairs: {len(got)}"


def test_block_mean_resize_preserves_mean_and_shape(spark):
    """The §2.8 resize stage: area-average downsample is real math — with
    exact block partitions the global mean is preserved; constant images
    stay constant; the mapInPandas plumbing yields row-major float32."""
    import numpy as np
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import multimodal

    arr = np.arange(256, dtype=np.uint8).reshape(16, 16)
    small = multimodal.block_mean_resize(arr, 4, 4)
    assert small.shape == (4, 4)
    assert abs(float(small.mean()) - float(arr.mean())) < 1e-4
    const = multimodal.block_mean_resize(np.full((10, 10), 7.0), 3, 3)
    assert np.allclose(const, 7.0)
    # ragged edges: 10x10 -> 3x3 absorbs remainders, mean within block range
    assert const.shape == (3, 3)

    media = multimodal.synthetic_media_df(spark, n=8)
    out = multimodal.resize_media(media, out_h=4, out_w=4).collect()
    assert len(out) == 8
    for r in out:
        assert r.out_height == 4 and r.out_width == 4 and len(r.pixels) == 16
    # determinism + mean preservation against the decoded source
    src = {r.media_id: r for r in media.collect()}
    for r in out:
        m = src[r.media_id]
        arr = multimodal.fake_image_decode(bytes(m.payload), dict(m.meta.asDict()))
        assert abs(sum(r.pixels) / 16 - float(arr.mean())) < 1e-3


def test_multimodal_edge_inputs_do_not_crash(spark):
    """Empty payloads, zero-frame videos and RGB decodes are survivable
    (review findings): black-frame decode, clamped frame count, channel
    collapse."""
    import numpy as np
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import multimodal

    # empty payload -> black frame, not a reshape crash
    arr = multimodal.fake_image_decode(b"", {"width": 4, "height": 4})
    assert arr.shape == (4, 4) and arr.sum() == 0
    # RGB decode -> channel-mean collapse
    rgb = np.arange(2 * 2 * 3, dtype=float).reshape(2, 2, 3)
    out = multimodal.block_mean_resize(rgb, 2, 2)
    assert out.shape == (2, 2)
    assert out[0, 0] == rgb[0, 0].mean()
    # zero-frame video -> one sampled frame, no sequence error
    media = spark.createDataFrame(
        [(1, "video", b"x", (None, None, None, 0, "t"))], multimodal.MEDIA_SCHEMA
    )
    rows = multimodal.frame_sample(media).collect()
    assert [r.frame_idx for r in rows] == [0]


def test_label_cosine_report_flags_planted_mislabel(spark):
    """A vector labeled 0 but pointing like label 1 must surface as the
    only negative cosine in label 0's report row."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.similarity import (
        label_cosine_report,
    )

    rows = []
    for i in range(8):
        rows.append((i, [1.0 + 0.01 * i, 0.1, 0.0, 0.0], 0))
    for i in range(8, 16):
        rows.append((i, [-1.0 - 0.01 * i, 0.0, 0.1, 0.0], 1))
    rows.append((99, [-1.0, 0.0, 0.0, 0.1], 0))  # planted mislabel
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.label: r for r in label_cosine_report(emb).collect()}
    assert out[0].n_vecs == 9 and out[1].n_vecs == 8
    assert out[0].n_neg == 1, out[0]
    assert out[1].n_neg == 0, out[1]
    assert out[0].min_cos < 0 < out[0].mean_cos


def test_centroid_separation_orthogonal_and_identical_labels(spark):
    """Label 0 and 1 share a direction (cosine 1); label 2 is orthogonal
    to both (cosine 0); pairs are emitted once with label_a < label_b."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.similarity import (
        centroid_separation,
    )

    rows = [
        (1, [2.0, 0.0], 0), (2, [4.0, 0.0], 0),
        (3, [1.0, 0.0], 1),
        (4, [0.0, 5.0], 2), (5, [0.0, 1.0], 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {(r.label_a, r.label_b): r.cosine for r in centroid_separation(df).collect()}
    assert set(out) == {(0, 1), (0, 2), (1, 2)}
    assert out[(0, 1)] == 1.0
    assert out[(0, 2)] == 0.0
    assert out[(1, 2)] == 0.0


def test_embedding_outliers_planted_far_vector(spark):
    """A planted far-away vector ranks first with a large positive
    z-score; distances are against the global centroid."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.similarity import (
        embedding_outliers,
    )

    base = [(i, [0.0, float(i % 2)], 0) for i in range(1, 9)]
    rows_in = base + [(99, [100.0, 100.0], 1)]
    df = spark.createDataFrame(
        rows_in, "vec_id long, embedding array<float>, label int"
    )
    out = embedding_outliers(df, k=3).collect()
    assert out[0]["vec_id"] == 99
    assert out[0]["z_score"] > 2.0
    assert out[0]["dist"] > out[1]["dist"]


def test_cap_cell_sizes_splits_hot_cell_and_noops_under_cap(spark):
    """Mega-cell guard (r7 VERDICT #2): a hot IVF cell must be SRP re-split
    so no refined cell grossly exceeds max_cell_rows; under the cap the
    frame passes through untouched (same cluster ids, no extra columns)."""
    rng = np.random.RandomState(7)
    # 240 vectors all in driver-assigned cluster 5 (hot), 10 in cluster 2
    rows = [(i, rng.normal(size=DIM).tolist(), 5) for i in range(240)]
    rows += [(1000 + i, rng.normal(size=DIM).tolist(), 2) for i in range(10)]
    assigned = spark.createDataFrame(rows, "vec_id long, embedding array<float>, cluster int")

    capped = similarity.cap_cell_sizes(assigned, DIM, max_cell_rows=40)
    sizes = {r["cluster"]: r["count"] for r in capped.groupBy("cluster").count().collect()}
    # 240/40 -> 3 bits -> 8 SRP sub-buckets; random gaussians spread across
    # them, so every refined cell must be far below the original 240
    assert max(sizes.values()) < 240 / 2
    assert sum(sizes.values()) == 250  # no rows lost or duplicated
    assert len(sizes) > 2  # the hot cell actually split
    assert capped.columns == assigned.columns

    # under the cap: exact no-op (same object semantics — ids unchanged)
    untouched = similarity.cap_cell_sizes(assigned, DIM, max_cell_rows=1000)
    got = sorted((r.vec_id, r.cluster) for r in untouched.collect())
    assert got == sorted((r.vec_id, r.cluster) for r in assigned.collect())


def test_knn_graph_planted_twins_survive_forced_cell_split(spark):
    """Scaled copies share direction, hence every SRP sign bit, hence the
    sub-bucket — so forcing the mega-cell guard on (tiny max_cell_rows)
    must NOT break rank-1 twin recovery."""
    rng = np.random.RandomState(11)
    base = rng.normal(size=(60, DIM))
    rows = [(i, base[i].tolist()) for i in range(60)]
    rows += [(1000 + i, (base[i] * 1.25).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, SCHEMA)
    # n_clusters=2 over 120 rows -> hot cells; cap 24 forces the SRP stage
    # (2 bits per 60-row cell -> ~15-row sub-buckets, under the cap) while
    # keeping the residual id-salt quiet — twins share direction, hence
    # every SRP bit, hence the refined cell
    g = similarity.knn_graph(df, k=1, n_clusters=2, max_cell_rows=24).collect()
    rank1 = {r.vec_id: r.neighbor_id for r in g if r.rank == 1}
    recovered = sum(1 for i in range(60) if rank1.get(i) == 1000 + i)
    # allow a couple of losses from a third vector beating cosine-1.0 ties
    # or a rare still-oversized sub-bucket reaching the salt stage
    assert recovered >= 55, f"only {recovered}/60 twins at rank 1"


def test_cap_cell_sizes_salts_identical_pile(spark):
    """Direction-identical vectors share every SRP sign bit, so stage 1
    cannot split them — the residual id-salt must (r8). Without salt_col
    the pile stays whole (exact semantics preserved on request)."""
    rng = np.random.RandomState(3)
    v = rng.normal(size=DIM)
    rows = [(i, (v * (1.0 + 0.001 * (i % 7))).tolist(), 1) for i in range(200)]
    assigned = spark.createDataFrame(rows, "vec_id long, embedding array<float>, cluster int")

    salted = similarity.cap_cell_sizes(assigned, DIM, max_cell_rows=40, salt_col="vec_id")
    sizes = [r["count"] for r in salted.groupBy("cluster").count().collect()]
    assert max(sizes) <= 80  # ceil(200/40)=5 buckets, xxhash64-uniform
    assert sum(sizes) == 200 and len(sizes) >= 3

    unsalted = similarity.cap_cell_sizes(assigned, DIM, max_cell_rows=40)
    u_sizes = [r["count"] for r in unsalted.groupBy("cluster").count().collect()]
    assert max(u_sizes) == 200  # SRP alone cannot split an identical pile


def test_knn_graph_identical_pile_stays_bounded_and_sane(spark):
    """A pile of identical-direction vectors must (a) not blow up the
    celled join — the salt bounds every refined cell — and (b) still give
    every pile member a cosine-1.0 rank-1 neighbor (any same-pile vector
    ties; within-salt-bucket neighbors are equally optimal)."""
    rng = np.random.RandomState(5)
    v = rng.normal(size=DIM)
    rows = [(i, (v * (1.0 + 0.01 * (i % 3))).tolist()) for i in range(150)]
    rows += [(1000 + i, rng.normal(size=DIM).tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, SCHEMA)
    g = similarity.knn_graph(df, k=1, n_clusters=4, max_cell_rows=30)
    rank1 = {r.vec_id: r.cosine for r in g.collect() if r.rank == 1}
    pile_cos = [rank1[i] for i in range(150) if i in rank1]
    assert len(pile_cos) == 150  # every pile member got a neighbor
    assert min(pile_cos) >= 0.999999  # ties at cosine 1.0 inside the pile


def test_ivf_search_join_builds_without_a_gate_job(spark):
    """Building ivf_search_join runs no Spark job beyond the IVF fit's
    sample collect: no count of the query batch decides the join
    strategy (AQE does). The rows are the full 3 queries x k=3."""
    from pyspark.sql import functions as F

    df, _ = _fixture(spark)
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_while(group, build):
        sc.setJobGroup(group, group)
        try:
            out = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(tracker.getJobIdsForGroup(group))

    _, fit_jobs = jobs_while(
        "ivf-fit", lambda: similarity.ivf_index(df, 4, "embedding", seed=7)
    )
    out, build_jobs = jobs_while(
        "ivf-build",
        lambda: similarity.ivf_search_join(df, queries, k=3, n_clusters=4, nprobe=4),
    )
    assert fit_jobs >= 1 and build_jobs == fit_jobs
    rows = out.collect()
    assert len(rows) == 9
    assert sorted({r["query_id"] for r in rows}) == [0, 1, 2]


def test_ivf_probe_joins_assign_each_corpus_row_once(spark):
    """The probe join infers isnotnull(cluster) on the corpus side; that
    filter must not pull a second copy of the assign kernel below the
    projection — one assign_cluster evaluation per corpus row in both
    probe-join operators."""
    import re

    from pyspark.sql import functions as F

    from plan_util import plan_text

    df, _ = _fixture(spark)
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(n_clusters=4, nprobe=2)
    for out in (
        similarity.ivf_search_join(df, queries, k=3, **kw),
        similarity.semantic_decontaminate(df, queries.select("embedding"), **kw),
    ):
        plan = plan_text(out)
        assert len(re.findall(r"^Arguments: \[assign_cluster\(", plan, re.M)) == 1, plan


def test_embedding_dim_stats_matches_numpy(spark):
    import numpy as np

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import similarity

    rng = np.random.RandomState(3)
    X = rng.normal(size=(40, 5)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    rows = similarity.embedding_dim_stats(df).collect()
    assert [r.dim for r in rows] == list(range(5))
    Xd = X.astype("float64")
    for r in rows:
        assert r.n == 40
        assert abs(r.mean - round(float(Xd[:, r.dim].mean()), 6)) < 1e-9
        assert abs(r.std - round(float(Xd[:, r.dim].std()), 6)) < 1e-9
        assert r.min_x == round(float(Xd[:, r.dim].min()), 6)
        assert r.max_x == round(float(Xd[:, r.dim].max()), 6)


def test_rrf_fuse_scores_and_ranks(spark):
    # list A ranks: 10,11,12 ; list B ranks: 12,13 — fixed-order RRF sums
    a = spark.createDataFrame(
        [(10, 0.9), (11, 0.5), (12, 0.1)], "id long, score double"
    )
    b = spark.createDataFrame([(12, 0.8), (13, 0.7)], "id long, cos double")
    out = {
        r.id: r
        for r in similarity.rrf_fuse([(a, "id", "score"), (b, "id", "cos")]).collect()
    }
    assert out[10].rank_0 == 1 and out[10].rank_1 is None
    assert out[12].rank_0 == 3 and out[12].rank_1 == 1
    assert out[13].rank_0 is None and out[13].rank_1 == 2
    assert out[12].rrf_score == round(1 / 63 + 1 / 61, 6)
    assert out[10].rrf_score == round(1 / 61, 6)
    # both-list membership beats a single higher rank here
    assert out[12].rrf_score > out[10].rrf_score


def test_rrf_fuse_rank_ties_break_on_id(spark):
    a = spark.createDataFrame([(7, 0.5), (3, 0.5)], "id long, score double")
    out = {r.id: r.rank_0 for r in similarity.rrf_fuse([(a, "id", "score")]).collect()}
    assert out[3] == 1 and out[7] == 2


def test_rrf_fuse_topk_and_empty_input(spark):
    a = spark.createDataFrame([(i, float(-i)) for i in range(9)], "id long, score double")
    assert similarity.rrf_fuse([(a, "id", "score")], topk=4).count() == 4
    with pytest.raises(ValueError):
        similarity.rrf_fuse([])


def test_embedding_covariance_matches_numpy(spark):
    rng = np.random.RandomState(11)
    X = rng.normal(size=(60, 6)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    rows = similarity.embedding_covariance(df).collect()
    assert len(rows) == 6 * 7 // 2
    Xd = X.astype("float64")
    n = Xd.shape[0]
    for r in rows:
        ref = (Xd[:, r.i] * Xd[:, r.j]).sum() / n - Xd[:, r.i].mean() * Xd[:, r.j].mean()
        assert r.n == n
        assert abs(r.cov - round(ref, 6)) < 2e-6, (r.i, r.j, r.cov, ref)
    # diagonal is the population variance
    diag = {r.i: r.cov for r in rows if r.i == r.j}
    for i in range(6):
        assert abs(diag[i] - round(float(Xd[:, i].var()), 6)) < 2e-6


def _mmr_fixture(spark):
    # 1 query-relevant axis; candidates: a, its exact twin b, and a
    # diverse c — relevance a = b > c
    rows = [
        (1, [1.0, 0.0, 0.0], 0.99),
        (2, [1.0, 0.0, 0.0], 0.99),   # redundant twin of 1
        (3, [0.0, 1.0, 0.0], 0.50),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, relevance double")


def test_mmr_rerank_prefers_diversity_over_redundancy(spark):
    cands = _mmr_fixture(spark)
    out = similarity.mmr_rerank(cands, k=3, lam=0.7)
    rows = sorted(out.collect(), key=lambda r: r.mmr_rank)
    # first pick: highest relevance, id tie-break -> 1
    assert rows[0].vec_id == 1 and rows[0].max_sim_to_selected == 0.0
    # second pick: the twin (sim 1.0 to selected) scores 0.7*0.99-0.3*1.0
    # = 0.393 < the diverse c at 0.7*0.5-0.3*0.0 = 0.35? no: 0.393 > 0.35
    # -> with lam=0.7 the twin still wins; with lam=0.5 diversity must win
    out2 = similarity.mmr_rerank(cands, k=2, lam=0.5)
    rows2 = sorted(out2.collect(), key=lambda r: r.mmr_rank)
    assert [r.vec_id for r in rows2] == [1, 3]
    assert rows2[1].max_sim_to_selected == 0.0  # c is orthogonal to a


def test_mmr_rerank_rank_and_penalty_evidence(spark):
    cands = _mmr_fixture(spark)
    out = {r.vec_id: r for r in similarity.mmr_rerank(cands, k=3, lam=0.5).collect()}
    assert out[2].mmr_rank == 3  # twin selected LAST under lam=0.5
    assert out[2].max_sim_to_selected == 1.0  # and carries the proof
    assert out[1].relevance == 0.99


def test_mmr_rerank_k_larger_than_candidates(spark):
    cands = _mmr_fixture(spark)
    assert similarity.mmr_rerank(cands, k=10).count() == 3


def test_embedding_covariance_kernel_parity(spark):
    # the Arrow GEMM partial path must match the Catalyst fan-out path
    # (both round to 6; summation-order drift sits ~8 digits lower)
    rng = np.random.RandomState(5)
    X = rng.normal(size=(300, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    ).repartition(7)
    a = {(r.i, r.j): (r.n, r.cov) for r in similarity.embedding_covariance(df).collect()}
    b = {
        (r.i, r.j): (r.n, r.cov)
        for r in similarity.embedding_covariance(df, use_kernel=True).collect()
    }
    assert a.keys() == b.keys() and len(a) == 36
    for k in a:
        assert a[k][0] == b[k][0]
        assert abs(a[k][1] - b[k][1]) <= 1e-6, (k, a[k], b[k])


def test_embedding_covariance_ignores_null_and_empty_vectors(spark):
    # r10 review finding: Spark sequence(0, -1) defaults to step -1 and
    # yields [0, -1] for empty arrays — phantom pairs + inflated n
    rng = np.random.RandomState(2)
    X = rng.normal(size=(20, 3)).astype("float32")
    rows = [(i, [float(x) for x in X[i]]) for i in range(20)]
    rows += [(100, None), (101, [])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.embedding_covariance(df).collect()
    assert len(out) == 6  # 3*(3+1)/2 — no phantom (0,-1)/(-1,-1) groups
    assert all(r.n == 20 for r in out)
    assert all(r.i >= 0 and r.j >= 0 for r in out)
    kern = similarity.embedding_covariance(df, use_kernel=True).collect()
    assert {(r.i, r.j, r.n) for r in kern} == {(r.i, r.j, r.n) for r in out}


def test_hard_negatives_semantics(spark):
    # anchor 0 (label A) must surface the near-identical label-B vector
    # first, never itself, never a same-label vector
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.14], 1),   # hard negative (close, different label)
        (2, [0.0, 1.0], 1),     # easy negative
        (3, [1.0, 0.01], 0),    # same label — excluded however close
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = similarity.hard_negatives(df, df.filter("vec_id = 0"), k=2).collect()
    assert [r.neg_id for r in out] == [1, 2]
    assert [r.rank for r in out] == [1, 2]
    assert all(r.neg_label != r.anchor_label for r in out)
    assert all(r.neg_id != 0 and r.neg_id != 3 for r in out)


def test_sq8_error_bound_and_degenerate_dim(spark):
    rng = np.random.RandomState(7)
    X = rng.normal(size=(100, 4)).astype("float32")
    X[:, 3] = 1.5  # degenerate dim: max == min
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    rows = {r.dim: r for r in similarity.sq8_error_audit(df).collect()}
    assert set(rows) == {0, 1, 2, 3}
    for d in range(3):
        span = float(X[:, d].astype("float64").max() - X[:, d].astype("float64").min())
        # uint8 min/max scaling reconstructs within half a quantization step
        assert rows[d].max_abs_err <= span / 510 + 1e-9, (d, rows[d], span)
        assert rows[d].mse > 0
    # constant dim reconstructs exactly
    assert rows[3].max_abs_err == 0.0 and rows[3].mse == 0.0
