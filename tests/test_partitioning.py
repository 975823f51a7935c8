"""fan_out / salted_join semantics."""

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
