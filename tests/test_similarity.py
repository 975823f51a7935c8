"""Similarity-search tests: brute-force correctness + IVF recall."""

from __future__ import annotations

import math
import random

import pytest

from neo4j_database_to_data_importer_package_spark.operators.similarity import (
    brute_force_topk,
    cosine_pairs,
    ivf_topk,
)


@pytest.fixture(scope="module")
def vecs(spark):
    rng = random.Random(7)
    dim = 16
    rows = []
    # 4 clusters around orthogonal-ish centers → meaningful neighbors
    centers = [[1.0 if j % 4 == c else 0.0 for j in range(dim)] for c in range(4)]
    for i in range(120):
        c = centers[i % 4]
        rows.append((i, [x + rng.gauss(0, 0.15) for x in c]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _py_cosine(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_brute_force_topk_matches_python(spark, vecs):
    data = {r["vec_id"]: r["embedding"] for r in vecs.collect()}
    got = brute_force_topk(vecs, k=5, n_queries=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    for q in range(3):
        expected = sorted(
            ((round(_py_cosine(data[q], data[n]), 6), n) for n in data if n != q),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        ours = sorted(by_q[q])
        for (rank, nid, cos), (ecos, enid) in zip(ours, expected):
            assert nid == enid and abs(cos - ecos) < 1e-6


def test_cosine_pairs_symmetric_threshold(spark, vecs):
    pairs = cosine_pairs(vecs, threshold=0.8).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert r["cosine"] >= 0.8


def test_ivf_recall_vs_brute_force(spark, vecs):
    brute = brute_force_topk(vecs, k=5, n_queries=8).collect()
    ann = ivf_topk(vecs, k=5, n_cells=8, nprobe=4, n_queries=8).collect()
    bset = {(r["query_id"], r["neighbor_id"]) for r in brute}
    aset = {(r["query_id"], r["neighbor_id"]) for r in ann}
    recall = len(bset & aset) / len(bset)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_embedding_lsh_finds_near_duplicates(spark):
    """Hyperplane-LSH dedup: true near-duplicates (tiny perturbations)
    must be recovered; the pair set is a subset of the exact pairs."""
    import random

    from neo4j_database_to_data_importer_package_spark.operators.similarity import (
        cosine_pairs,
        embedding_lsh_pairs,
    )

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(20)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # id 100+i is a near-duplicate of id i
        rows.append((100 + i, [float(x + rng.gauss(0, 0.01)) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"]) for r in embedding_lsh_pairs(df, threshold=0.9).collect()}
    expected = {(i, 100 + i) for i in range(20)}
    missing = expected - got
    assert len(missing) <= 1, f"near-duplicates missed by LSH: {missing}"
    exact = {(r["id_a"], r["id_b"]) for r in cosine_pairs(df, threshold=0.9).collect()}
    assert got <= exact, "LSH produced a pair the exact computation rejects"


def test_kmeans_step_two_obvious_clusters(spark):
    from neo4j_database_to_data_importer_package_spark.operators.similarity import kmeans_step

    # ids 0,1 are the seeds; 2..5 sit exactly on one of them
    rows = [
        (0, [0.0, 0.0]), (1, [10.0, 10.0]),
        (2, [0.1, 0.0]), (3, [0.0, 0.1]),
        (4, [10.1, 10.0]), (5, [10.0, 9.9]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_step(df, k=2)
    rowsd = {(r["cluster_id"], r["pos"]): (r["centroid_val"], r["n_assigned"]) for r in out.collect()}
    assert rowsd[(0, 0)][1] == 3 and rowsd[(1, 0)][1] == 3
    assert abs(rowsd[(0, 0)][0] - (0.0 + 0.1 + 0.0) / 3) < 1e-6
    assert abs(rowsd[(1, 1)][0] - (10.0 + 10.0 + 9.9) / 3) < 1e-6


def test_embedding_lsh_bucket_occupancy_cap(spark, caplog):
    """VERDICT r06 #2: a degenerate bucket (here: near-identical vectors
    collapsing every band onto one signature) must be dropped with a
    LOGGED warning, bounding the candidate self-join — and the cap must
    be a no-op on a healthy corpus."""
    import logging

    from neo4j_database_to_data_importer_package_spark.operators.similarity import (
        embedding_lsh_pairs,
    )

    rng = random.Random(11)
    base = [rng.gauss(0, 1) for _ in range(64)]
    rows = [
        (i, [float(x + rng.gauss(0, 1e-4)) for x in base]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    from neo4j_database_to_data_importer_package_spark.operators.dedup import (
        dropped_bucket_counts,
    )

    app_id = spark.sparkContext.applicationId
    before = dropped_bucket_counts.get((app_id, "embedding_lsh_pairs"), 0)
    with caplog.at_level(logging.WARNING):
        capped = embedding_lsh_pairs(df, threshold=0.9, max_bucket=10).collect()
    assert capped == [], "hot buckets must be dropped, not joined"
    assert any(
        "dropping" in r.message and "occupancy > 10" in r.message
        for r in caplog.records
    ), "cap must log its drops (no silent caps)"
    # ADVICE r09: the drop count is queryable, not just logged
    assert dropped_bucket_counts[(app_id, "embedding_lsh_pairs")] > before

    caplog.clear()
    with caplog.at_level(logging.WARNING):
        uncapped = embedding_lsh_pairs(df, threshold=0.9).collect()
    # 40 near-identical vectors: every unordered pair verifies at ~1.0
    assert len(uncapped) == 40 * 39 // 2
    assert not any("dropping" in r.message for r in caplog.records)


def test_similarity_drop_metric_idempotent_across_reruns(spark):
    """ADVICE r10: the similarity twin must accumulate
    dropped_bucket_counts once per (banding plan, op), like dedup's
    screen — re-executing the same consumer must not double-count the
    shared exact-count metric."""
    import random as _random

    from neo4j_database_to_data_importer_package_spark.operators.dedup import (
        dropped_bucket_counts,
    )
    from neo4j_database_to_data_importer_package_spark.operators.similarity import (
        embedding_lsh_pairs,
    )

    rng = _random.Random(23)
    base = [rng.gauss(0, 1) for _ in range(64)]
    rows = [
        (i, [float(x + rng.gauss(0, 1e-4)) for x in base]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    app_id = spark.sparkContext.applicationId
    embedding_lsh_pairs(df, threshold=0.9, max_bucket=10).collect()
    after_first = dropped_bucket_counts[(app_id, "embedding_lsh_pairs")]
    assert after_first > 0
    embedding_lsh_pairs(df, threshold=0.9, max_bucket=10).collect()
    assert (
        dropped_bucket_counts[(app_id, "embedding_lsh_pairs")] == after_first
    )


def test_similarity_drop_warn_logs_once_per_screen(spark, caplog):
    """ADVICE r11: the drop WARN must share the once-per-screen
    semantics of the metric (like the dedup twin's cache-miss WARN) —
    re-executing the same consumer must not re-log."""
    import logging
    import random as _random

    from neo4j_database_to_data_importer_package_spark.operators.similarity import (
        embedding_lsh_pairs,
    )

    rng = _random.Random(31)
    base = [rng.gauss(0, 1) for _ in range(64)]
    rows = [
        (i, [float(x + rng.gauss(0, 1e-4)) for x in base]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with caplog.at_level(logging.WARNING):
        embedding_lsh_pairs(df, threshold=0.9, max_bucket=10).collect()
    assert any("dropping" in r.message for r in caplog.records)
    caplog.clear()
    with caplog.at_level(logging.WARNING):
        embedding_lsh_pairs(df, threshold=0.9, max_bucket=10).collect()
    assert not any(
        "dropping" in r.message for r in caplog.records
    ), "re-running the same screen must not re-WARN (log == metric)"


def test_embedding_screen_evicts_dead_sessions(spark):
    """The embedding path shares the one hot-key memo and metric: a
    screen it inserts evicts every entry of a dead applicationId."""
    import random as _random

    from neo4j_database_to_data_importer_package_spark import partitioning
    from neo4j_database_to_data_importer_package_spark.operators import (
        dedup,
        similarity as sim,
    )

    dead_key = ("dead-app-id", 123, ("q", "block"), 10, "embedding_lsh_pairs")
    partitioning._HOT_KEYS[dead_key] = ()
    dedup.dropped_bucket_counts[("dead-app-id", "embedding_lsh_pairs")] = 7
    rng = _random.Random(41)
    base = [rng.gauss(0, 1) for _ in range(64)]
    rows = [
        (i, [float(x + rng.gauss(0, 1e-4)) for x in base]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sim.embedding_lsh_pairs(df, threshold=0.9, max_bucket=10).collect()
    assert dead_key not in partitioning._HOT_KEYS
    assert ("dead-app-id", "embedding_lsh_pairs") not in dedup.dropped_bucket_counts
    app_id = spark.sparkContext.applicationId
    assert any(
        k[0] == app_id and k[4] == "embedding_lsh_pairs"
        for k in partitioning._HOT_KEYS
    )
