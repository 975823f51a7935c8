"""fan_out / salted_join / drop_hot_keys semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_database_to_data_importer_package_spark.partitioning import (
    fan_out,
    salted_join,
    state_broadcaster,
)


def test_fan_out_widens_narrow_plan(spark):
    df = spark.range(1000).coalesce(1)
    assert fan_out(df).rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_fan_out_noop_on_wide_plan(spark):
    wide = spark.range(1000).repartition(64)
    assert fan_out(wide) is wide


def test_fan_out_size_threshold_skips_tiny_input(spark, sf_dir):
    from neo4j_database_to_data_importer_package_spark.sources.star_schema import (
        read_parquet_table,
    )

    nation = read_parquet_table(spark, f"{sf_dir}/nation.parquet")
    assert fan_out(nation, min_bytes=4 << 20) is nation


def test_salted_join_matches_plain_join(spark):
    # One pathologically hot key + a long tail.
    skewed = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    plain = skewed.join(dim, "k").groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s"), F.first("v").alias("v")
    )
    salted = salted_join(skewed, dim, "k", salts=8).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s"), F.first("v").alias("v")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    skewed = spark.range(100).select((F.col("id") % 60).alias("k"))
    dim = spark.range(50).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    plain = skewed.join(dim, "k", "left")
    salted = salted_join(skewed, dim, "k", salts=4, how="left")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_rejects_right_join(spark):
    df = spark.range(2).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_join(df, df, "k", how="right")


def test_fan_out_noop_on_shuffled_plan(spark):
    """A plan that already shuffled (aggregate/join) is session-wide by
    construction — fan_out must not stack a redundant exchange."""
    agg = spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count()
    assert fan_out(agg) is agg
    joined = spark.range(100).join(spark.range(50), "id")
    assert fan_out(joined) is joined


def test_fan_out_widens_through_broadcast_join(spark):
    """ADVICE r07: a broadcast join does not shuffle its streamed side —
    a narrow scan + broadcast-join + CPU-heavy pipeline must still be
    widened, unlike a shuffle join."""
    narrow = spark.range(0, 1000, 1, numPartitions=1)
    dim = F.broadcast(spark.range(10).withColumnRenamed("id", "id2"))
    joined = narrow.join(dim, narrow["id"] % 10 == dim["id2"])
    widened = fan_out(joined)
    assert widened is not joined
    assert widened.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_fan_out_ignores_keyword_in_string_literal(spark):
    """ADVICE r07: node matching is anchored to plan-node heads — a
    'Join'/'Window' rendered inside an expression (string literal,
    capitalized alias) must not make a narrow plan look wide."""
    narrow = spark.range(0, 100, 1, numPartitions=1).select(
        F.col("id"), F.lit("Join Window Aggregate").alias("JoinWindow")
    )
    widened = fan_out(narrow)
    assert widened is not narrow
    assert widened.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_state_broadcaster_threshold_and_env(spark, monkeypatch):
    """r14: state_broadcaster returns a broadcast-hinting wrapper at or
    under the row threshold and the identity above it. The threshold is
    a module constant; no environment variable overrides it."""
    monkeypatch.setenv("SPARK_GRAFT_BCAST_STATE_ROWS", "0")
    df = spark.range(10)
    small = state_broadcaster(1_000_000)(df)
    # The broadcast hint lands as a ResolvedHint/UnresolvedHint node.
    assert "hint" in small._jdf.queryExecution().logical().toString().lower()
    big = state_broadcaster(1_000_001)(df)
    assert big is df


def test_state_broadcaster_join_results_unchanged(spark):
    """The hint is a pure wall-clock knob: joining through the wrapper
    yields exactly the rows of the plain join."""
    left = spark.range(100).withColumnRenamed("id", "k")
    right = spark.range(0, 100, 3).withColumnRenamed("id", "k")
    plain = sorted(r["k"] for r in left.join(right, "k").collect())
    hinted = sorted(
        r["k"] for r in left.join(state_broadcaster(10)(right), "k").collect()
    )
    assert plain == hinted


def _docs(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


def _hot_docs(spark, marker):
    # Three identical documents put every shingle, term, band and
    # block in a 3-row bucket; one unrelated document keeps the rest of
    # the corpus non-empty.
    same = f"{marker} alpha beta gamma delta epsilon zeta"
    return _docs(spark, [same, same, same, f"{marker} omega psi chi phi"])


def _hot_vecs(spark, seed):
    import random

    rng = random.Random(seed)
    base = [rng.gauss(0, 1) for _ in range(64)]
    rows = [(i, [float(x) for x in base]) for i in range(3)]
    rows.append((3, [rng.gauss(0, 1) for _ in range(64)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _hub_edges(spark, offset):
    # Center 0 (degree 3) is the only common neighbour of 1-2, and of
    # the non-adjacent pairs 1-3 and 2-3.
    e = [(0, 1), (0, 2), (0, 3), (1, 2)]
    return spark.createDataFrame(
        [(a + offset, b + offset) for a, b in e], "src long, dst long"
    )


def _hot_key_callers():
    from neo4j_database_to_data_importer_package_spark.operators import (
        dedup,
        graph_algos as ga,
        retrieval,
        similarity,
    )

    # (op, make the input, call(df, limit), LeftAnti joins of its own,
    #  screen memoized across reruns)
    return [
        ("ngram_jaccard_pairs", lambda s: _hot_docs(s, "ngram"),
         lambda df, lim: dedup.ngram_jaccard_pairs(df, threshold=0.1, max_df=lim), 0, True),
        ("containment_pairs", lambda s: _hot_docs(s, "contain"),
         lambda df, lim: dedup.containment_pairs(df, threshold=0.1, max_df=lim), 0, True),
        ("minhash_lsh_pairs", lambda s: _hot_docs(s, "minhash"),
         lambda df, lim: dedup.minhash_lsh_pairs(df, threshold=0.1, max_bucket=lim), 0, True),
        ("simhash_pairs", lambda s: _hot_docs(s, "simhash"),
         lambda df, lim: dedup.simhash_pairs(df, max_bucket=lim), 0, True),
        ("embedding_lsh_pairs", lambda s: _hot_vecs(s, 5),
         lambda df, lim: similarity.embedding_lsh_pairs(df, threshold=0.1, max_bucket=lim), 0, True),
        ("tfidf_cosine_pairs", lambda s: _hot_docs(s, "tfidf"),
         lambda df, lim: retrieval.tfidf_cosine_pairs(df, threshold=0.0, max_df=lim), 0, True),
        ("bridge_edges", lambda s: _hub_edges(s, 1000),
         lambda df, lim: ga.bridge_edges(df, max_center_degree=lim), 0, True),
        # adamic_adar_topk screens a localCheckpointed table (a fresh
        # plan hash per call) and keeps its non-adjacency anti-join.
        ("adamic_adar_topk", lambda s: _hub_edges(s, 2000),
         lambda df, lim: ga.adamic_adar_topk(df, max_center_degree=lim), 1, False),
    ]


@pytest.mark.parametrize(
    "case", _hot_key_callers(), ids=lambda c: c[0]
)
def test_drop_hot_keys_callers(spark, caplog, case):
    """Every quadratic self-join runs behind ``drop_hot_keys``: a hot
    key is dropped with a WARN naming the op and a metric increment,
    and a cap above every occupancy leaves no anti-join in the plan."""
    import logging

    from neo4j_database_to_data_importer_package_spark.partitioning import (
        dropped_bucket_counts,
    )

    op, build, call, own_anti, memoized = case
    df = build(spark)
    app_id = spark.sparkContext.applicationId
    rows = lambda out: sorted(tuple(r) for r in out.collect())

    full = rows(call(df, 1_000_000))
    before = dropped_bucket_counts.get((app_id, op), 0)
    with caplog.at_level(logging.WARNING):
        capped = rows(call(df, 2))
    assert capped != full, "the hot key must be dropped"
    assert any(
        "dropping" in r.message and op in r.message and "occupancy > 2" in r.message
        for r in caplog.records
    )
    after = dropped_bucket_counts[(app_id, op)]
    assert after > before

    if memoized:
        caplog.clear()
        with caplog.at_level(logging.WARNING):
            assert rows(call(df, 2)) == capped
        assert not any("dropping" in r.message for r in caplog.records)
        assert dropped_bucket_counts[(app_id, op)] == after

    plan = call(df, 1_000_000)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LeftAnti") == own_anti, plan
