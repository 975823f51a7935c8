"""Identifier-detection cascade (C1, SURVEY.md §2.11).

Semantics from the reference (``neo4j_export.py:132-175``), priority:

1. unique-constraint property (first listed)
2. property named ``id`` (case-insensitive, first in given order)
3. ``*id``-suffixed property, ranked by (not-exactly-'id', name length)
4. first property (in given order) whose non-sentinel values are all
   distinct — the reference does a full client-side pass *per candidate*;
   here it is ONE Spark aggregation job for all candidates, optionally
   preceded by an ``approx_count_distinct`` screening pass so that at
   100 TB the exact (and more expensive) ``count_distinct`` only runs on
   candidates the sketch couldn't rule out.
5. first property (fallback); error if no properties.

Tiers 1-3 and 5 are pure driver logic over the catalog; tier 4 is the one
data-dependent step (action → inspect → decide — legitimately multi-job,
SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.sentinels import sentinel_to_null
from ..partitioning import fan_out

# Concurrent per-label tier-4 jobs submitted from driver threads.
MAX_PARALLEL_LABELS = 8


def uniqueness_profile(
    df: DataFrame, candidates: list[str], exact: bool = True, rsd: float = 0.02
) -> dict[str, tuple[int, int]]:
    """One-job uniqueness profile: {col: (non_sentinel_count, distinct_count)}.

    ``exact=False`` uses approx_count_distinct (HLL++) — the 100 TB
    screening mode; callers confirm survivors with an exact pass.
    """
    # Multi-column count_distinct expands to |candidates|× rows before the
    # partial aggregate — widen a single-split scan first (no-op at scale,
    # skipped for dimension-sized inputs where task overhead dominates).
    df = fan_out(df, min_bytes=4 << 20)
    aggs = []
    for c in candidates:
        clean = sentinel_to_null(F.col(c))
        aggs.append(F.count(clean).alias(f"__cnt_{c}"))
        if exact:
            aggs.append(F.count_distinct(clean).alias(f"__dst_{c}"))
        else:
            aggs.append(F.approx_count_distinct(clean, rsd).alias(f"__dst_{c}"))
    row = df.agg(*aggs).first()
    return {c: (row[f"__cnt_{c}"], row[f"__dst_{c}"]) for c in candidates}


def _string_cols(df: DataFrame) -> set[str]:
    return {f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)}


def determine_identifier(
    df: DataFrame,
    label: str,
    properties: list[str] | None = None,
    unique_constraints: dict[str, list[str]] | None = None,
    approx_screen: bool = False,
) -> str:
    """Run the 5-tier cascade for one label's DataFrame.

    ``properties`` defaults to sorted(df.columns) — the reference passes
    the sorted property list (``neo4j_export.py:299``).
    ``approx_screen=True`` adds the HLL screening pass before the exact
    confirm (recommended when |df| is huge and many candidates exist).
    """
    properties = properties if properties is not None else sorted(df.columns)
    unique_constraints = unique_constraints or {}

    # Tier 1: unique constraint
    if unique_constraints.get(label):
        return unique_constraints[label][0]

    # Tier 2: property named 'id' (first in given order)
    for prop in properties:
        if prop.lower() == "id":
            return prop

    # Tier 3: '*id'-suffixed, ranked by (not-exact-'id', length)
    id_candidates = [p for p in properties if p.lower().endswith("id")]
    if id_candidates:
        return sorted(id_candidates, key=lambda x: (x.lower() != "id", len(x)))[0]

    # Tier 4: first property whose non-sentinel values are all distinct
    if properties:
        survivors = list(properties)
        if approx_screen:
            approx = uniqueness_profile(df, survivors, exact=False)
            # HLL±3*rsd can't make a non-unique column look unique beyond
            # this bound; anything below is definitively non-unique.
            survivors = [c for c in survivors if approx[c][1] >= approx[c][0] * (1 - 0.06)]
        if survivors:
            prof = uniqueness_profile(df, survivors, exact=True)
            for prop in properties:
                if prop in prof:
                    cnt, dst = prof[prop]
                    if cnt > 0 and cnt == dst:
                        return prop

        # Tier 5: fallback to first property
        return properties[0]

    raise ValueError(f"No properties found for label {label}")


def detect_identifiers(
    node_dfs: dict[str, DataFrame],
    unique_constraints: dict[str, list[str]] | None = None,
    approx_screen: bool = False,
) -> dict[str, str]:
    """Cascade over every label → {label: identifier} (the reference's
    ``self.label_identifiers`` IR, ``neo4j_export.py:301``).

    Labels are independent, so their tier-4 aggregation jobs are
    submitted concurrently from driver threads (the reference loops
    serially, ``neo4j_export.py:277``); Spark's scheduler interleaves the
    jobs across executors.
    """
    from concurrent.futures import ThreadPoolExecutor

    labels = list(node_dfs)
    with ThreadPoolExecutor(max_workers=min(MAX_PARALLEL_LABELS, max(1, len(labels)))) as ex:
        results = ex.map(
            lambda label: (
                label,
                determine_identifier(
                    node_dfs[label], label, sorted(node_dfs[label].columns),
                    unique_constraints, approx_screen,
                ),
            ),
            labels,
        )
        return dict(results)
