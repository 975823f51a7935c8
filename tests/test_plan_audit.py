"""Automated scale-audit over EVERY registry query's physical plan.

test_plan_quality.py pins specific plans; this sweep catches the
anti-patterns nobody thought to pin:

- ``CartesianProduct`` — an accidental unbounded cross join (the
  intentional 1-row scalar broadcasts plan as BroadcastNestedLoopJoin,
  which is allowed);
- unpartitioned ``row_number``/rank windows over unbounded inputs — the
  single-task global sort that killed heavy_hitter_terms at web scale
  (VERDICT r03 #3). Windows whose input is bounded (a Take/limit or a
  fixed-size aggregate) are allow-listed with the justification inline;
- ``BatchEvalPython`` — row-at-a-time Python UDFs in a hot path (Arrow
  variants like ArrowEvalPython / mapInPandas are fine).

Streaming queries are excluded (building them executes the stream);
iterative-graph and checkpointing queries audit as ``Scan ExistingRDD``
(their per-superstep plans are pinned in test_plan_quality instead).
"""

from __future__ import annotations

import pytest

from neo4j_database_to_data_importer_package_spark import registry

# Building these executes a stream or drives a loop — not plan-auditable
# this way (their shapes are covered by dedicated tests).
_SKIP_PREFIXES = ("streaming_",)

# Queries whose plan legitimately contains an unpartitioned ranking
# window, each over a BOUNDED input:
_ALLOWED_UNPARTITIONED_WINDOW = {
    # window input is TakeOrderedAndProject(limit=k) — k rows
    "heavy_hitter_terms",
    # cumulative sum over n_buckets (=20) aggregate rows
    "vocab_growth_curve",
    # documented global ntile over customer (dimension-sized; the
    # registry docstring carries the caveat)
    "customer_balance_deciles",
    # rank over the 20-row top-prefix table
    "bigram_next_token_topk",
    # cumulative histogram walk over n_bins (=1000) aggregate rows
    "lineitem_price_histogram_quantiles",
    # rank over the bounded (vocab-limited) BM25 result
    "bm25_rank_spark_hash_join",
    # quantile read-off over a fixed quantile grid
    "lineitem_price_quantiles",
    # regression over the TakeOrderedAndProject(limit=1000) term slice
    "term_zipf_fit",
    # rank over the TakeOrderedAndProject(limit=10000) vocab slice
    "vocab_coverage_curve",
    # median pick over the ≤ k² pairwise-slope table of the BOUNDED
    # monthly series (k ≈ 80 months) — like vocab_growth_curve
    "orders_theil_sen_trend",
    # cumulative sum over the 20-bucket growth-curve aggregate
    "doc_heaps_law_fit",
    # cumulative revenue share over the PER-PART aggregate
    # (dimension-sized; customer_balance_deciles precedent)
    "part_revenue_abc",
    # cumulative walk over the bounded day-gap histogram
    "customer_reorder_intervals",
}

_AUDIT = sorted(
    n for n in registry.QUERIES if not n.startswith(_SKIP_PREFIXES)
)


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    out = {}
    try:
        for name in _AUDIT:
            df = registry.QUERIES[name](spark, sf_dir)
            out[name] = df._jdf.queryExecution().executedPlan().toString()
            spark.catalog.clearCache()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    return out


def test_no_cartesian_products(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, bad


def test_no_row_at_a_time_python_udfs(plans):
    bad = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not bad, bad


def test_no_unpartitioned_ranking_windows(plans):
    bad = []
    for n, p in plans.items():
        if n in _ALLOWED_UNPARTITIONED_WINDOW:
            continue
        for line in p.splitlines():
            if "windowspecdefinition" in line and "], [], [" in line:
                bad.append((n, line.strip()[:160]))
    assert not bad, bad


# ---------------------------------------------------------------------------
# Forced-broadcast audit (VERDICT r05 #2): a `F.broadcast()` hint
# overrides AQE's size check, so its input must be PROVABLY bounded — a
# 1-row scalar aggregate, a fixed grid/probe table, a per-key aggregate
# over a bounded key domain (event_type, language, domain, brand), a
# TPC-H dimension table, a limit-k slice, or a distinct-name vocabulary
# with a documented fallback. NEVER a table whose row count scales with
# fact rows, documents, or graph nodes (the bug this rule exists for:
# degree_assortativity once broadcast its one-row-per-node degree
# table). Every call site below is frozen with its justification class;
# adding a new `F.broadcast(` anywhere in the package fails this test
# until the site is reviewed and allow-listed here.

_ALLOWED_FORCED_BROADCASTS = {
    # --- 1-row scalar aggregates (plan as BroadcastNestedLoopJoin) ---
    ("operators/analytics.py", 'hist.agg(F.sum("c"'),
    ("operators/analytics.py", "mx"),
    ("operators/analytics.py", "n_orders"),
    ("operators/graph_algos.py", "amax"),
    ("operators/graph_algos.py", "e_rich"),  # 1-row rich-edge count
    ("operators/mixing.py", "wsum"),         # 1-row weight total
    ("operators/graph_algos.py", "hmax"),
    ("operators/graph_algos.py", "tot"),    # 1-row edge-end total (mixing)
    ("operators/graph_algos.py", "ab"),     # 1-row Σa·b margin product
    ("operators/graph_algos.py", "stats"),  # 1-row assortativity r
    ("operators/analytics.py", "med"),      # 1-row exact-median pick
    ("operators/analytics.py", "cov"),      # 1-row distinct-rec count
    ("operators/analytics.py", "cat"),      # 1-row catalog count
    ("operators/graph_algos.py", "ray"),    # 1-row Rayleigh aggregates
    ("operators/graph_algos.py", "eff"),    # 1-row effective-diameter pick
    ("operators/statistics.py", "g"),       # 1-row CUPED moment sums
    ("operators/statistics.py", "lifts"),   # 1-row A-minus-B lift pair
    ("operators/statistics.py", "xmin"),    # 1-row Hill threshold
    ("operators/mixing.py", "tot"),
    ("operators/mixing.py", "grid"),  # fixed 10-row threshold grid
    ("operators/mixing.py", "totals"),  # 1-row (target, raw) token totals
    ("operators/mixing.py", "lm"),  # n_buckets-row hashed-unigram LM (constant)
    ("operators/similarity.py", "cc"),  # 1-row centroid squared-norm
    ("operators/retrieval.py", "n_docs"),
    ("operators/retrieval.py", "globals_"),
    ("operators/retrieval.py", "tot"),  # 1-row index totals (posting stats)
    ("operators/similarity.py", "n"),
    ("operators/similarity.py", "anchors"),  # n_anchors-row md5 sample (constant)
    ("operators/similarity.py", "qtot"),  # 1-row distinct-query count
    ("operators/similarity.py", "df.sparkSession.createDataFrame([(k,"),  # fixed k grid
    ("operators/text_analysis.py", "tot"),  # 1-row two-source totals (JS)
    ("operators/text_analysis.py", "total"),
    ("operators/text_analysis.py", "mx"),
    ("operators/text_analysis.py", "totals"),
    ("operators/text_analysis.py", "corp_tot"),
    ("operators/statistics.py", "tot"),  # 1-row totals (KS / chi2 / MI)
    ("operators/statistics.py", "stats1"),  # 1-row moment sums (Mahalanobis)
    ("operators/statistics.py", "corpus_end"),  # 1-row max month
    ("operators/statistics.py", "ssb"),  # 1-row factor-B sum of squares
    ("operators/statistics.py", "ssc"),  # 1-row cell sum of squares
    ("operators/retrieval.py", "ndocs"),  # 1-row corpus size
    ("operators/retrieval.py", "rel_ids"),  # n_rel-row pseudo-relevant ids (constant)
    ("operators/text_analysis.py", "tv"),  # 1-row (bigram types, vocab) pair
    ("operators/text_analysis.py", "profile"),  # |langs|×k char-gram profiles (constant)
    ("operators/statistics.py", "dims"),  # 1-row (n_rows, n_cols) pair
    ("operators/profiling.py", "tot"),   # 1-row totals (join-key skew)
    # bounded sensitive-bucket histogram (fixed-width bucketing domain,
    # never data-scaled) + 1-row (N, K) totals — t-closeness grid
    ("operators/profiling.py", "glob"),
    ("operators/profiling.py", "totals"),
    ("operators/statistics.py", "thr"),  # 1-row percentile threshold
    ("operators/analytics.py", "rng"),   # 1-row x-range (skyline buckets)
    ("operators/analytics.py", "q"),     # 1-row quartile thresholds (tier migration)
    ("operators/analytics.py", "tot"),   # 1-row totals (tier migration / ABC)
    ("operators/analytics.py", "t2"),    # 1-row class-revenue total (ABC)
    ("operators/analytics.py", "totals"),  # 1-row day-series totals (changepoint)
    ("operators/retrieval.py", "bits"),    # 1-row occupied-bit count (bloom)
    ("operators/retrieval.py", "fp"),      # 1-row false-positive count (bloom)
    ("operators/retrieval.py", "np_"),     # 1-row probe count (bloom)
    ("operators/windows.py", "tot"),
    ("operators/windows.py", "bins"),            # fixed 10-row CDF-bin grid
    ("registry/r6_operators.py", "frontier"),    # 1-row stream frontier max
    ("operators/windows.py", "total"),
    ("operators/windows.py", "totals"),
    ("registry/distributions.py", "avg_bal"),
    ("registry/tpch_full.py", "mx"),
    ("registry/tpch_full.py", "total"),
    # --- fixed grids / probe / query tables (constant row count) ---
    ("operators/analytics.py", "qdf"),          # quantile grid
    ("operators/analytics.py", "thresholds"),   # decile thresholds
    ("operators/profiling.py", "grid_df"),      # bucket grid
    ("operators/profiling.py", "ref"),          # reference histogram
    ("operators/retrieval.py", "probes"),       # query terms
    ("operators/similarity.py", "q"),           # query vectors (k rows)
    ("operators/similarity.py", "cents"),       # k-means centroids
    ("operators/similarity.py", "cent"),
    # k-row centroid table, renamed for the DB pair grid
    ("operators/similarity.py", 'cent.select( F.col("cid"'),
    ("operators/similarity.py", "carr"),
    ("operators/similarity.py", "codes"),       # PQ code grid (n_codes)
    ("operators/similarity.py", "codebook"),    # PQ codebook (m·n_codes)
    ("operators/similarity.py", 'lut.withColumnRenamed("cid", "code"'),
    ("operators/graph_algos.py", "dangling_df"),  # 1-row dangling mass
    ("operators/graph_algos.py", "drop"),  # gated on n_drop <= _BCAST_DROP_MAX
    ("operators/text_analysis.py", "merge_list"),  # BPE merge table
    ("operators/windows.py", "real_days.select(F.col(\"day\""),  # day grid
    # --- per-key aggregates over BOUNDED key domains ---
    ("operators/mixing.py", "dom"),            # per-domain (20 domains)
    ("operators/profiling.py", "dups"),        # per-domain
    ("operators/profiling.py", "n_langs"),     # per-domain
    ("operators/profiling.py", "top"),         # per-domain
    ("operators/text_analysis.py", "dom_tot"), # per-domain
    ("operators/text_analysis.py", "prefix_rank"),  # limit-k prefixes
    ("operators/statistics.py", "q"),          # per-key quantiles (winsorize)
    ("operators/analytics.py", "screen"),      # n_buckets-row skyline screen
    ("operators/windows.py", "prof"),          # per-(type, hour-of-week) medians
    ("operators/windows.py", "stats"),         # per-event_type
    ("operators/windows.py", "med"),           # per-event_type
    ("operators/windows.py", "mad"),           # per-event_type
    ("operators/windows.py", "probs"),         # per-(type,type) pair
    # --- bounded vocabularies (limit-k or documented fallback) ---
    ("operators/retrieval.py", "doc_freq"),    # vocab-limited terms
    ("operators/retrieval.py", 'vocab.withColumn("in_vocab", F.lit(1'),
    ("operators/text_analysis.py", "vocab"),   # limit-k vocab
    ("operators/dedup.py", "vb"),  # distinct-name vocab; salted-join fallback documented
    # --- TPC-H dimension tables / dim-key probes ---
    ("operators/analytics.py", "cust"),
    ("operators/analytics.py", "nation"),
    ("operators/analytics.py", "region"),
    ("operators/analytics.py", "supp"),
    ("operators/profiling.py", "cust_keys"),
    ("registry/tpch_full.py", 't["customer"]'),
    ("registry/tpch_full.py", 't["supplier"]'),
    ("registry/tpch_full.py", 't["nation"]'),
    ("registry/tpch_full.py", 't["part"]'),
    ("registry/tpch_full.py", 't["part"].filter(F.col("p_name"'),
    ("registry/tpch_full.py", 't["part"].filter(F.col("p_brand"'),
    ("registry/tpch_full.py", "cn"),
    ("registry/tpch_full.py", "sn"),
    ("registry/tpch_full.py", "excluded"),
    # drop_hot_keys' driver-collected hot keys: at most _MAX_HOT_KEYS
    # (65 536) rows, a constant bound (past it the anti-join is not hinted)
    ("partitioning.py", "table.sparkSession.createDataFrame( list(verdict"),
}


def test_forced_broadcasts_are_allow_listed():
    import pathlib
    import re

    import neo4j_database_to_data_importer_package_spark as _pkg

    pkg = pathlib.Path(_pkg.__file__).parent
    pat = re.compile(r"F\.broadcast\(\s*([^)]*)")
    found = set()
    for p in sorted(pkg.rglob("*.py")):
        for m in pat.finditer(p.read_text()):
            arg = " ".join(m.group(1).split())[:50]
            found.add((str(p.relative_to(pkg)), arg))
    new = found - _ALLOWED_FORCED_BROADCASTS
    assert not new, (
        "new F.broadcast() call sites — prove the input is dimension-"
        f"bounded and allow-list them with a justification: {sorted(new)}"
    )
    stale = _ALLOWED_FORCED_BROADCASTS - found
    assert not stale, f"allow-list entries with no call site: {sorted(stale)}"


# r14: `state_broadcaster(n)` wraps F.broadcast behind a driver-known
# row-count gate, so the regex above never sees its hint sites — the
# same review rule applies to the GATE ARGUMENT instead: the expression
# passed as n must be a true upper bound on the wrapped DataFrame's row
# count (node/edge counts the loop already computed). Every call site is
# frozen here with its bound justification.
_ALLOWED_STATE_BROADCASTER_SITES = {
    # labels/scores: one row per node ≤ n_edges rows of the symmetric
    # edge set (LPA, HITS, Katz, spectral radius)
    ("operators/graph_algos.py", "n_edges"),
    # modularity: caller-supplied label-table row count (documented on
    # the n_state_hint parameter; None = never broadcast)
    ("operators/graph_algos.py", "n_state_hint"),
    # adamic-adar: centers ≤ nodes ≤ 2·|und|; und itself is the
    # anti-join side and counted exactly (post-checkpoint local scan)
    # (the regex stops at the first ')' of the inner call)
    ("operators/graph_algos.py", "2 * und.count("),
    # k-core compaction: the semi-join side is the alive-node state
    # table, whose row count is tracked exactly on the driver
    # (initial checkpoint count minus cumulative drop counts)
    ("operators/graph_algos.py", "alive_base"),
}


def test_state_broadcaster_sites_are_allow_listed():
    import pathlib
    import re

    import neo4j_database_to_data_importer_package_spark as _pkg

    pkg = pathlib.Path(_pkg.__file__).parent
    pat = re.compile(r"state_broadcaster\(\s*([^)]*)")
    found = set()
    for p in sorted(pkg.rglob("*.py")):
        if p.name == "partitioning.py":  # the definition itself
            continue
        for m in pat.finditer(p.read_text()):
            arg = " ".join(m.group(1).split())[:50]
            found.add((str(p.relative_to(pkg)), arg))
    new = found - _ALLOWED_STATE_BROADCASTER_SITES
    assert not new, (
        "new state_broadcaster() call sites — prove the row-count gate "
        f"bounds the wrapped DataFrame and allow-list them: {sorted(new)}"
    )
    stale = _ALLOWED_STATE_BROADCASTER_SITES - found
    assert not stale, f"allow-list entries with no call site: {sorted(stale)}"
