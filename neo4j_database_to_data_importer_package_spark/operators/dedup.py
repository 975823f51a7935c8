"""Deduplication operators for large-scale corpus pipelines
(beyond-reference, per the north star: exact, n-gram Jaccard,
MinHash+LSH, SimHash).

Scale design notes (100 TB):
- exact dedup is a hash groupBy on a fingerprint — one shuffle, no
  driver materialization; at extreme scale group on (fingerprint) only
  and keep min(doc_id) via partial aggregation.
- every pair operator is one blocked self-join, ``_candidate_pairs``
  (rows sharing a key, id_a < id_b): the inverted shingle index for
  n-gram Jaccard / containment, (band, signature) for MinHash LSH,
  (q, block) for SimHash. Only candidates pay the verification cost.
- the self-join's cost is Σ occupancy(key)², so each runs behind
  ``partitioning.drop_hot_keys``: shingles with df > ``max_df``
  (default 50) and buckets with occupancy > ``max_bucket`` (default
  8192) are dropped with a LOGGED count, bounding each key's pair
  fan-out at cap². Without it one boilerplate shingle, giant exact-dup
  cluster or collapsed signature turns the equi-join into an
  all-pairs join. Drops are queryable at
  ``dropped_bucket_counts[(applicationId, op)]``.
- SimHash block geometry is corpus-sized (round 10): 128-bit signatures
  with ``derive_simhash_block_bits`` widening the block as the corpus
  grows so hot-block occupancy stays near a target instead of linear —
  the r09 probe proved fixed 16-bit blocks quadratic in candidates; the
  occupancy cap is now the backstop, not the design.
- all hashing is md5 (engine-portable, deterministic) — no seed state,
  no Python in the hot path.
"""

from __future__ import annotations

import logging

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

from ..functions.numeric import round_half_up

from ..functions.text import fingerprint_md5, tokens, word_shingles
from ..partitioning import dropped_bucket_counts, drop_hot_keys, fan_out  # noqa: F401


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized text: one survivor (min id) per group.

    Returns (fingerprint, keep_id, n_dups).
    """
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingle_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct (id, shingle) inverted index.

    The token array is materialized as a column BEFORE ``word_shingles``:
    its transform() lambda slices the array per element, and a lambda's
    outer sub-expressions are interpreted per element — an inline
    ``tokens(text)`` expression there re-splits the whole document once
    per shingle position (O(len²) re-tokenization). An attribute
    reference is a per-element field read.
    """
    return (
        fan_out(df)
        .withColumn("__tokens", tokens(text_col))
        .select(
            F.col(id_col),
            F.explode(word_shingles(F.col("__tokens"), n)).alias("shingle"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 50,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold.

    Exact over the df-capped index (no sketching): shingles with
    document frequency > ``max_df`` are dropped first — logged, never
    silent (``drop_hot_keys``) — then inverted-index self-join →
    intersection counts → sizes join → filter. Output
    (id_a, id_b, jaccard) with id_a < id_b. ``max_df=None`` restores
    the uncapped exact-oracle baseline.
    """
    # r14: persist the raw inverted index — its four consumers (the df
    # screen, both self-join sides, and the per-doc sizes) each re-ran
    # the corpus-sized explode+distinct otherwise; the cached table is
    # (id, shingle)-sized and the screen's anti-join stays broadcast.
    # Lifecycle (r15, VERDICT r14 #8): the result is returned lazily, so
    # there is no in-operator unpersist point; the engine contract is
    # caller-scoped cleanup (bench/registry clearCache per query) with
    # Spark's LRU as the backstop — MEMORY_AND_DISK (not MEMORY_ONLY)
    # so eviction under pressure spills a corpus-sized index to disk
    # instead of re-running the explode+distinct per consumer (guide §5).
    raw = shingle_index(df, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    idx = drop_hot_keys(raw, ["shingle"], max_df, "ngram_jaccard_pairs")
    sizes = idx.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        _candidate_pairs(idx, ["shingle"], id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", round_half_up(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def doc_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingles: array<string>) — distinct shingle set per doc.

    The array form (vs the exploded ``shingle_index``) keeps MinHash
    **shuffle-free**: every per-doc reduction becomes an array expression
    in one projection. A doc's shingle set is bounded (document-sized),
    so the row stays executor-friendly at any corpus scale.
    """
    return (
        fan_out(df)
        .withColumn("__tokens", tokens(text_col))  # attribute ref, see shingle_index
        .select(
            F.col(id_col),
            F.array_distinct(word_shingles(F.col("__tokens"), n)).alias("shingles"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Banded MinHash signatures: (id, band, signature).

    MinHash h_s(doc) = min over shingles of md5('{s}|{shingle}') — the
    lexicographic min of fixed-width hex IS the numeric min, so no hex
    decoding is needed. Band signature = md5 of the ','-joined minhashes
    of the band (in seed order). Docs sharing any (band, signature) are
    LSH candidates.

    Computed as ``array_min(transform(shingles, md5(...)))`` per seed —
    a single narrow projection, NO shuffle (the groupBy-over-exploded-
    shingles formulation shuffles |docs|·|shingles| rows for the same
    result).
    """
    ds = doc_shingles(df, text_col, id_col, shingle_n)
    return _signatures_from_doc_shingles(ds, id_col, num_hashes, band_size)


def _seeded_md5(seed: int):
    # NOTE: the seed must be captured in a closure, NOT as a second lambda
    # parameter — pyspark treats a 2-arg transform() lambda as
    # (element, index) and would silently bind the array index instead.
    return lambda x: F.md5(F.concat_ws("|", F.lit(seed), x))


def _band_signatures(
    mins: DataFrame, id_col: str, num_hashes: int, band_size: int
) -> DataFrame:
    """(id, band, signature) from a table already carrying the per-seed
    minima as ``mh0..mh{num_hashes-1}`` columns — split out (r14) so
    callers that need the minima TOO (``minhash_calibration``) derive
    the banding from one persisted minima table instead of re-running
    the num_hashes md5 array-transforms per consumer."""
    n_bands = num_hashes // band_size
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                    )
                ).alias("signature"),
            )
            for b in range(n_bands)
        ]
    )
    return mins.select(
        F.col(id_col), F.explode(band_structs).alias("bs")
    ).select(F.col(id_col), F.col("bs.band").alias("band"), F.col("bs.signature").alias("signature"))


def _signatures_from_doc_shingles(
    ds: DataFrame, id_col: str, num_hashes: int, band_size: int
) -> DataFrame:
    # A doc with no shingles has no MinHash (array_min(empty) is NULL and
    # every empty doc would band-match every other); the exploded-index
    # formulation naturally emitted no rows for them — keep that
    # semantic, and keep the downstream Jaccard denominator non-zero.
    ds = ds.filter(F.size("shingles") > 0)
    mins = ds.select(
        F.col(id_col),
        *[
            F.array_min(F.transform(F.col("shingles"), _seeded_md5(s))).alias(f"mh{s}")
            for s in range(num_hashes)
        ],
    )
    return _band_signatures(mins, id_col, num_hashes, band_size)


def _candidate_pairs(
    table: DataFrame, keys, id_col: str, carry: tuple = ()
) -> DataFrame:
    """(id_a, id_b, {c}_a, {c}_b for c in ``carry``) for every pair of
    rows of ``table`` that agree on all ``keys``, with id_a < id_b —
    the blocked self-join behind every pair operator here and
    ``similarity.embedding_lsh_pairs``. Its cost is Σ occupancy(key)²,
    so callers screen ``table`` with ``drop_hot_keys`` first. A pair
    sharing several keys appears once per key; callers dedupe or count
    the repeats."""
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    on.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return table.alias("a").join(table.alias("b"), on).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"{side}.{c}").alias(f"{c}_{side}") for c in carry for side in "ab"],
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = 8192,
) -> DataFrame:
    """Near-dup pairs via LSH candidates + exact Jaccard verification.

    Candidates = equi-join on (band, signature); verification runs ONLY
    on candidate pairs — at scale this is the whole point vs the
    all-pairs ``ngram_jaccard_pairs``.

    Plan shape (and why it scales): the per-doc shingle arrays feed the
    signature projection (narrow, no shuffle) and the two id-equi-joins
    hydrating candidate pairs; verification is
    ``size(array_intersect(...))`` per pair — no exploded inverted-index
    re-join. The only shuffles are the band self-join and the pair
    hydration joins. MEMORY_ONLY persist of the (small, one-row-per-doc)
    array table skips the disk-spill write path; an evicted partition
    just recomputes its narrow lineage.

    ``max_bucket`` is defense in depth for the band self-join
    (``drop_hot_keys``): a giant exact-dup cluster — the
    normal shape of web boilerplate — puts its whole membership in ONE
    (band, signature) bucket in EVERY band, and m members mean m²/2
    candidate pairs from each. The default (8192, matching the
    embedding path) never fires on a healthy corpus (measured max
    occupancy 4 at sf0.1, organic-probe evidence in SCALING.md) and
    bounds the worst bucket at ~3×10⁷ pairs; exact-dup mass should be
    removed by ``exact_dedup`` BEFORE near-dup LSH anyway, which is the
    pipeline-order contract this cap backstops. Set None to disable.
    """
    ds = doc_shingles(df, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_ONLY
    )
    sig = _signatures_from_doc_shingles(ds, id_col, num_hashes, band_size)
    if max_bucket is not None:
        # The occupancy screen adds a third consumer of the signature
        # projection (the two self-join aliases already re-ran its
        # num_hashes md5 array-transforms once EACH over the cached
        # shingles) — cache the narrow (id, band, signature) table so
        # the screen's eager job populates it and the transforms run
        # exactly once (the same economics as the round-7 embedding
        # LSH checkpoint; a lazy persist costs no job of its own).
        sig = sig.persist(StorageLevel.MEMORY_ONLY)
        sig = drop_hot_keys(
            sig, ["band", "signature"], max_bucket, "minhash_lsh_pairs"
        )
    cands = _candidate_pairs(sig, ["band", "signature"], id_col).distinct()
    sa = ds.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = ds.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", round_half_up(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 128
) -> DataFrame:
    """SimHash: ``bits``-wide signature as a bitstring, term-frequency
    weighted. Default 128 bits — the full md5 width (round 10, VERDICT
    r09 directive #2: the 64-bit default left too little entropy for
    corpus-sized blocking; see ``derive_simhash_block_bits``).

    Per (token-instance, hex nibble): nibble i of md5(token) is decoded
    once (pure SQL arithmetic, engine-portable) and its four bits
    aggregate as four ±1 sums per (id, i); signature bit b = 1 iff
    Σ_tokens freq·(2·bit_b−1) > 0, with bit b read from nibble b//4
    LSB-first. All codegen — the explode produces |tokens|·bits/4 rows
    which partial-aggregate map-side (round 11, VERDICT r10 directive
    #2: the per-bit explode's 4× row constant cut with byte-identical
    output).
    """
    assert 1 <= bits <= 128, "md5 supplies at most 128 bits"
    tok = fan_out(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    tok = tok.select(F.col(id_col), F.md5(F.col("token")).alias("hx"))
    # Explode NIBBLES, not bit positions (VERDICT r10 directive #2): a
    # per-bit explode generates |tokens|·bits rows before the map-side
    # partial aggregate — linear and distributed, but a 4× row constant
    # over what the hex decomposition needs, real money on a
    # 10¹³-token corpus. One row per (token-instance, hex nibble)
    # carries the nibble VALUE; the four bit-sums of that nibble ride
    # as four aggregate columns, so the shuffled (id, i) key space is
    # bits/4 groups per doc instead of bits. Bit b lives at nibble
    # i = b//4, LSB-first within the nibble (s{b%4}) — the exact layout
    # the per-bit version extracted, so signatures are byte-identical.
    n_nibbles = (bits + 3) // 4
    i = F.explode(F.sequence(F.lit(0), F.lit(n_nibbles - 1))).alias("i")
    nibrows = tok.select(F.col(id_col), F.col("hx"), i).select(
        F.col(id_col),
        F.col("i"),
        F.expr("instr('0123456789abcdef', substring(hx, i + 1, 1)) - 1").alias(
            "v"
        ),
    )
    sums = nibrows.groupBy(id_col, "i").agg(
        *[
            F.sum(F.expr(f"shiftright(v, {j}) % 2") * 2 - 1).alias(f"s{j}")
            for j in range(4)
        ]
    )
    return sums.groupBy(id_col).agg(
        F.substring(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("i", "s0", "s1", "s2", "s3"))
                    ),
                    lambda r: F.concat(
                        *[
                            F.when(r[f"s{j}"] > 0, F.lit("1")).otherwise(
                                F.lit("0")
                            )
                            for j in range(4)
                        ]
                    ),
                ),
            ),
            1,
            bits,
        ).alias("simhash")
    )


def derive_simhash_block_bits(
    n_docs: int,
    bits: int = 128,
    target_occupancy: int = 64,
    entropy_per_bit: float = 0.25,
    min_block_bits: int = 16,
    min_blocks: int = 4,
) -> int:
    """Corpus-sized SimHash block width (round 10, VERDICT r09 directive
    #2): choose block_bits so the hottest (q, block) bucket stays near
    ``target_occupancy`` instead of growing linearly with the corpus —
    ``2^(block_bits · entropy_per_bit) ≳ n_docs / target_occupancy``.

    ``entropy_per_bit`` is measured, not assumed: organic SimHash bits
    are correlated across documents (shared-token mass drives the bit
    sums), so a nominal block carries far less than 1 bit of entropy per
    bit. The round-10 width sweep over half-spliced organic corpora
    (5k/20k/80k docs × widths 16–32, SCALING.md "SimHash block geometry")
    measured the hottest-bucket occupancy as the binding constraint: it
    stays FLAT along the diagonal ``block_bits ≈ 16 + 4·log2(n/5000)``
    — i.e. ~4 nominal bits absorb one doubling of the corpus, hence the
    0.25 default. (Mean occupancy needs only ~0.65 effective bits/bit;
    sizing for the mean is what let the r09 16-bit geometry's max grow
    291→4238 across 16×.)

    Floors/caps: ``min_block_bits`` (16 — below that the block space is
    too small to matter and every historical oracle scale lands here,
    keeping the driver-gated plans deterministic) and ``bits //
    min_blocks`` (default 4 blocks → the pigeonhole guarantee never
    degrades below Hamming ≤ 3 exact, the same guarantee the r09 fixed
    geometry had). Width saturates at n ≈ target·2^(entropy·bits/4)
    (≈16k docs at the defaults); past it the hottest bucket resumes
    linear growth from a ~20× lower base, pushing the organic
    cap-fire horizon from the r09 ~160k docs to ~3M, with the logged
    ``max_bucket`` drop as the backstop beyond. For larger corpora,
    relax ``min_blocks`` (wider blocks, weaker pigeonhole) or raise
    ``target_occupancy`` — the trade is explicit, not hard-coded.
    """
    import math

    # min_blocks < 2 would allow a single-block geometry, which
    # _simhash_blocks rejects (one block = no pigeonhole, and the forced
    # second slice would be empty/truncated) — clamp rather than let a
    # derived width fail downstream. The same contract bounds EVERY
    # return at bits // 2 (ADVICE r10): for narrow signatures
    # (bits < 2·min_block_bits, e.g. bits=24 at the 16-bit floor) the
    # floor itself would hand _simhash_blocks a failing geometry, so the
    # floor is capped too — the derivation may weaken, but never errors
    # on a width the caller asked for.
    if bits < 2:
        raise ValueError(f"bits={bits}: need >= 2 for two 1-bit blocks")
    hard_cap = bits // 2  # _simhash_blocks requires >= 2 full blocks
    floor = min(min_block_bits, hard_cap)
    cap = min(max(floor, bits // max(min_blocks, 2)), hard_cap)
    if n_docs <= target_occupancy:
        return floor  # cap >= floor by construction
    needed = math.log2(n_docs / target_occupancy) / entropy_per_bit
    return int(max(floor, min(math.ceil(needed), cap)))


def _simhash_blocks(
    sig: DataFrame, id_col: str = "doc_id", bits: int = 128, block_bits: int = 16
) -> DataFrame:
    """(id, simhash, q, block): the ``bits // block_bits`` signature
    slices of ``block_bits`` bits each that the blocked self-join keys
    on (tail bits past ``n_blocks·block_bits`` stay unblocked but still
    count in the Hamming verify). Extracted so occupancy probes run the
    PRODUCTION banding (the same no-drift rule as
    ``similarity._signature_blocks``). Rejects geometries with fewer
    than two full blocks: one block is no pigeonhole at all, and the
    previous ``max(2, ...)`` fallback manufactured an empty or
    truncated out-of-range second slice — every doc sharing the ('' ,
    q=1) bucket is exactly the all-pairs degenerate join this module
    exists to prevent."""
    if block_bits < 1 or block_bits * 2 > bits:
        raise ValueError(
            f"block_bits={block_bits} must allow >= 2 full blocks of a "
            f"{bits}-bit signature (1 <= block_bits <= {bits // 2})"
        )
    n_blocks = bits // block_bits
    return sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("q"),
    ).select(
        F.col(id_col),
        F.col("simhash"),
        F.col("q"),
        F.expr(f"substring(simhash, q*{block_bits} + 1, {block_bits})").alias("block"),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int | None = None,
    max_bucket: int | None = 8192,
    bits: int = 128,
    block_bits: int | None = None,
    target_occupancy: int = 64,
) -> DataFrame:
    """Pairs within a Hamming radius of SimHash signatures.

    Blocked by ``block_bits``-wide signature slices (pigeonhole: a pair
    within Hamming distance d shares at least one of n_blocks slices
    EXACTLY when d ≤ n_blocks − 1; beyond that radius candidates are
    caught with high probability, not certainty — the same best-effort
    band the r09 fixed 4×16 geometry had for d in 4..6), so the
    self-join is an equi-join on (block_idx, block) rather than a cross
    join, and every candidate is verified by exact Hamming distance over
    all ``bits`` positions.

    ``block_bits=None`` (default) derives the width from the corpus via
    ``derive_simhash_block_bits`` — ``2^block_bits ≳ n/target_occupancy``
    in measured-entropy terms — so block occupancy stays near
    ``target_occupancy`` as the corpus grows instead of linearly
    (VERDICT r09 directive #2; the derivation costs one count() on the
    already-persisted one-row-per-doc signature table, which also
    materializes the cache the self-join needs anyway). The derivation
    is a pure function of the document count, so the driver-gated
    oracle plans stay deterministic. ``max_hamming=None`` derives the
    radius as ``3·bits/32`` — 12 at the 128-bit default, preserving the
    64-bit design's angular threshold (6/64) under the wider signature.

    The signature table is persisted before the self-join: without it
    BOTH join sides re-run the whole |tokens|·bits-row signature
    aggregation (measured 2× the query's cost at sf0.1 — the r04 bench
    flagged it). One row per doc, so the cache is corpus-linear and
    MEMORY_ONLY: an evicted partition recomputes narrow lineage, same
    policy as ``minhash_lsh_pairs``.

    ``max_bucket`` caps degenerate (q, block) buckets exactly as the
    MinHash band join does (``drop_hot_keys``): a
    near-constant corpus collapses SimHash blocks, and one collapsed
    block puts the whole corpus in one bucket. Dropping a hot bucket
    weakens the pigeonhole guarantee only for pairs whose sole agreeing
    block was the dropped one; with the corpus-sized width the default
    cap never fires on a healthy corpus (r10 probe: hottest bucket ~500
    at 80k docs and FLAT across 16×). Set None to disable.
    """
    if max_hamming is None:
        max_hamming = 3 * bits // 32
    sig = simhash_signatures(df, text_col, id_col, bits).persist(
        StorageLevel.MEMORY_ONLY
    )
    if block_bits is None:
        # One linear job over the cached one-row-per-doc table; the
        # count both sizes the geometry and materializes the persist.
        n_docs = sig.count()
        block_bits = derive_simhash_block_bits(
            n_docs, bits, target_occupancy=target_occupancy
        )
        logger.info(
            "simhash_pairs: derived block_bits=%d (n_docs=%d, bits=%d, "
            "target_occupancy=%d)",
            block_bits, n_docs, bits, target_occupancy,
        )
    blocks = drop_hot_keys(
        _simhash_blocks(sig, id_col, bits, block_bits),
        ["q", "block"],
        max_bucket,
        "simhash_pairs",
    )
    cands = _candidate_pairs(
        blocks, ["q", "block"], id_col, carry=("simhash",)
    ).distinct()
    # Hamming distance between bitstrings: count differing positions.
    ham = F.expr(
        f"size(filter(sequence(1, {bits}), "
        "i -> substring(simhash_a, i, 1) != substring(simhash_b, i, 1)))"
    )
    return cands.select(
        "id_a", "id_b", ham.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def duplicate_span_stats(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level duplication profile: per document, the fraction of
    its token n-gram positions whose n-gram also occurs in ANOTHER
    document (the span-dedup signal of Lee et al., "Deduplicating
    Training Data Makes Language Models Better" — here at n-gram
    granularity rather than suffix-array granularity).

    Plan: ONE positional n-gram explode, immediately aggregated to
    (gram, doc) position counts — the raw position stream is never
    shuffled twice or joined at full volume. Cross-doc visibility comes
    from a count() window over the gram hash (same key as the preceding
    aggregation's shuffle, uniform — xxhash64 of the n-gram, internal to
    the plan so the cheap Spark-native hash is fine), then one final
    re-aggregation per doc. Three narrow shuffles total, each on a
    uniformly distributed key; hot phrases fan out across grams, not
    into one key.

    Output: (id, n_spans, n_dup_spans, dup_ratio) where a span is
    "duplicated" when its n-gram appears in >= 2 distinct docs.
    """
    from pyspark.sql import Window

    per_gram_doc = (
        df.withColumn("__tokens", tokens(text_col))  # attribute ref, see shingle_index
        .select(
            F.col(id_col),
            F.explode(word_shingles(F.col("__tokens"), n)).alias("gram"),
        )
        .select(F.col(id_col), F.xxhash64("gram").alias("gram_h"))
        .groupBy("gram_h", id_col)
        .agg(F.count(F.lit(1)).alias("n_positions"))
    )
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("gram_h"))

    return (
        per_gram_doc.withColumn("n_docs", n_docs)
        .groupBy(id_col)
        .agg(
            F.sum("n_positions").alias("n_spans"),
            F.sum(
                F.when(F.col("n_docs") >= 2, F.col("n_positions")).otherwise(0)
            ).alias("n_dup_spans"),
        )
        .select(
            id_col,
            "n_spans",
            "n_dup_spans",
            round_half_up(F.col("n_dup_spans") / F.col("n_spans"), 6).alias("dup_ratio"),
        )
    )


def contamination_check(
    train: DataFrame,
    eval_set: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: for every training document, how many
    of its token n-grams also appear anywhere in the eval set. The
    standard pre-training hygiene pass (eval n-gram overlap, as in GPT-3
    / The Pile decontamination), expressed as one equi-join.

    The eval side collapses to DISTINCT n-gram hashes first — for a real
    benchmark suite that is thousands of grams, so Spark broadcasts it
    and the train-side explode never shuffles at all; with a huge eval
    set the join degrades gracefully to a hash join on the uniform gram
    key. Train docs with zero overlap are kept (count 0) so the output
    is a complete audit table.

    Output: (id, n_grams, n_contaminated_grams, contaminated).
    """
    def grams(df):
        return (
            df.withColumn("__tokens", tokens(text_col))  # attribute ref, see shingle_index
            .select(
                F.col(id_col),
                F.explode(word_shingles(F.col("__tokens"), n)).alias("gram"),
            )
            .select(F.col(id_col), F.xxhash64("gram").alias("gram_h"))
        )

    eval_grams = grams(eval_set).select("gram_h").distinct()
    per_doc = (
        grams(train)
        .join(eval_grams.withColumn("hit", F.lit(1)), "gram_h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated_grams"),
        )
    )
    return per_doc.select(
        id_col,
        "n_grams",
        "n_contaminated_grams",
        (F.col("n_contaminated_grams") > 0).alias("contaminated"),
    )


def incremental_exact_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingest dedup: flag each batch document that exactly
    duplicates (normalized-text fingerprint) a document already in the
    corpus. The daily-crawl shape: the corpus side collapses to one row
    per fingerprint BEFORE the join (partial-aggregated), so the join
    input is |distinct corpus texts|, and the batch side is the small
    side — at 100 TB the fingerprint join is a plain uniform-key hash
    join, and with the corpus fingerprints persisted as a bucketed table
    the shuffle disappears entirely.

    Output: (id, is_dup, dup_of) with dup_of = the smallest matching
    corpus doc id (NULL when new).
    """
    cfp = (
        corpus.select(fingerprint_md5(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("dup_of"))
    )
    return (
        batch.select(F.col(id_col), fingerprint_md5(text_col).alias("fingerprint"))
        .join(cfp, "fingerprint", "left")
        .select(
            id_col,
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )


def novelty_profile(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingestion-order novelty: per document, the fraction of its token
    n-gram positions whose n-gram does NOT occur in any EARLIER document
    (doc id = ingestion order). The data-curriculum / crawl-value signal:
    a feed whose novelty curve collapses is re-crawling what the corpus
    already has.

    Same plan skeleton as ``duplicate_span_stats`` — one positional
    explode pre-aggregated to (gram, doc) counts, a min-over-gram window
    on the uniform hash key, one per-doc re-aggregation. A gram is novel
    for the doc that holds its corpus-wide min id (hot phrases fan out
    across gram keys, never into one).

    Output: (id, n_grams, n_novel, novelty).
    """
    from pyspark.sql import Window

    per_gram_doc = (
        df.withColumn("__tokens", tokens(text_col))  # attribute ref, see shingle_index
        .select(
            F.col(id_col),
            F.explode(word_shingles(F.col("__tokens"), n)).alias("gram"),
        )
        .select(F.col(id_col), F.xxhash64("gram").alias("gram_h"))
        .groupBy("gram_h", id_col)
        .agg(F.count(F.lit(1)).alias("n_positions"))
    )
    first_doc = F.min(id_col).over(Window.partitionBy("gram_h"))
    return (
        per_gram_doc.withColumn("first_doc", first_doc)
        .groupBy(id_col)
        .agg(
            F.sum("n_positions").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col(id_col), F.col("n_positions")).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            id_col,
            "n_grams",
            "n_novel",
            round_half_up(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus snapshot diff — the change-data-capture pass between two
    crawls/exports: per document id, whether it was added, removed,
    changed (normalized-text fingerprint differs), or unchanged.

    One full-outer hash join on the id (uniform key); fingerprints are
    md5 of normalized text computed map-side, so each side is scanned
    once and only (id, 32-byte fp) rows shuffle — at 100 TB the diff
    moves ~50 bytes per document, not the corpus.

    Output: (id, status) with status in added|removed|changed|unchanged.
    """
    of = old.select(F.col(id_col), fingerprint_md5(text_col).alias("__fp_old"))
    nf = new.select(F.col(id_col), fingerprint_md5(text_col).alias("__fp_new"))
    status = (
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(F.col("__fp_old") != F.col("__fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return of.join(nf, id_col, "full_outer").select(
        F.col(id_col), status.alias("status")
    )


def incremental_near_dup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental ingest NEAR-dup screen: flag each batch document whose
    shingle Jaccard against some already-ingested corpus document clears
    ``threshold`` — the daily-crawl twin of ``incremental_exact_dedup``
    for paraphrase/boilerplate duplicates that fingerprints miss.

    Scale shape: both sides project banded MinHash signatures (narrow,
    shuffle-free); candidates are the (band, signature) equi-join of the
    SMALL batch against the corpus signature table — at 100 TB the
    corpus signatures are precomputed and bucketed by (band, signature),
    so screening a batch is a bucket-pruned join, never a corpus scan.
    Verification (exact Jaccard on shingle arrays) runs only on
    candidate pairs.

    Output: one row per batch doc — (id, has_near_dup, best_match,
    best_jaccard); best = highest verified Jaccard, ties to the smallest
    corpus id; NULLs when clean.
    """
    from pyspark.sql import Window

    # Both shingle tables feed two consumers (signature projection +
    # Jaccard verification) — persist so neither side re-tokenizes the
    # corpus (the simhash_pairs lesson from the r04 bench; MEMORY_ONLY,
    # narrow recompute on eviction). At 100 TB the corpus side is a
    # precomputed bucketed table instead.
    bs = doc_shingles(batch, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_ONLY
    )
    cs = doc_shingles(corpus, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_ONLY
    )
    sig_b = _signatures_from_doc_shingles(bs, id_col, num_hashes, band_size)
    sig_c = _signatures_from_doc_shingles(cs, id_col, num_hashes, band_size)
    cands = (
        sig_b.select(
            F.col(id_col).alias("batch_id"), "band", "signature"
        )
        .join(
            sig_c.select(
                F.col(id_col).alias("corpus_id"), "band", "signature"
            ),
            ["band", "signature"],
        )
        .select("batch_id", "corpus_id")
        .distinct()
    )
    sb = bs.select(F.col(id_col).alias("batch_id"), F.col("shingles").alias("sh_b"))
    sc = cs.select(F.col(id_col).alias("corpus_id"), F.col("shingles").alias("sh_c"))
    inter = F.size(F.array_intersect(F.col("sh_b"), F.col("sh_c")))
    union = F.size(F.col("sh_b")) + F.size(F.col("sh_c")) - inter
    verified = (
        cands.join(sb, "batch_id")
        .join(sc, "corpus_id")
        .select(
            "batch_id",
            "corpus_id",
            round_half_up(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("batch_id").orderBy(
        F.col("jaccard").desc(), F.col("corpus_id")
    )
    best = (
        verified.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "batch_id",
            F.col("corpus_id").alias("best_match"),
            F.col("jaccard").alias("best_jaccard"),
        )
    )
    return (
        batch.select(F.col(id_col))
        .join(best, batch[id_col] == best["batch_id"], "left")
        .select(
            id_col,
            F.col("best_match").isNotNull().alias("has_near_dup"),
            "best_match",
            "best_jaccard",
        )
    )


def blocked_name_linkage(
    df: DataFrame,
    name_col: str,
    key_col: str,
    max_dist: int = 2,
    k: int = 200,
) -> DataFrame:
    """Record linkage (entity resolution) by blocked edit distance: pair
    records whose names agree on a cheap blocking key (first token), and
    keep pairs within ``max_dist`` Levenshtein edits — the classic
    dirty-catalog merge step (same product, typo'd name) the reference's
    import pipeline leaves to the user.

    The scale structure is two-level:

    1. **Edit distance runs on DISTINCT names, never on records.** The
       kernel cost is |vocab in block|² per block, independent of row
       count — the decisive reduction when names repeat (the first cut
       of this operator ran record-level pairs: 50M levenshtein calls at
       sf0.1 where the name vocabulary supports 4096). Candidates are an
       equi-join on a COMPOUND block key — (first token, length bucket
       of width max_dist+1) — pruned by the length-difference lower
       bound before the kernel. The length bucket guards against the
       hot-BLOCK case (millions of distinct names sharing one first
       token, e.g. "The …"): a bare-first-token key would yield
       |block-vocab|² candidates, while bucketing caps each join group
       at the names within one ~(max_dist+1)-wide length band (VERDICT
       r04 "what's wrong" #3). Correctness is preserved by replicating
       the LEFT vocab side into its own and both adjacent buckets:
       |len_a − len_b| ≤ max_dist < width implies the buckets differ by
       at most 1, and each unordered pair meets exactly once — at the
       RIGHT side's home bucket.
    2. **Join-back is capped exactly.** A pair can only reach the global
       top-k (ranked by edit_dist, key_a, key_b) if each key is among
       the k smallest keys of its name — ≥k same-name-pair pairs with
       smaller keys precede any other. Each name's k smallest keys come
       from the two-level bounded aggregation (per-(name, input
       partition) sorted slice, then merge-and-reslice — the
       ``mixing.cap_per_group`` shape): a planet-hot name merges
       ≤ k·partitions keys, never its full record set through one
       ranking window task.

    Levenshtein is the JVM built-in (codegen, no UDF); the final top-k
    is ``orderBy().limit(k)`` — TakeOrderedAndProject, per-partition
    heaps, no global sort.
    """
    names = df.select(F.col(name_col).alias("__name")).distinct()
    blk = F.split(F.col("__name"), " ")[0]
    width = max_dist + 1
    vocab = names.select(
        blk.alias("__blk"),
        F.col("__name"),
        F.length("__name").alias("__len"),
        F.floor(F.length("__name") / width).cast("int").alias("__bkt"),
    )
    # Left side fans out to {bkt-1, bkt, bkt+1} (3 rows per DISTINCT
    # name — trivial); right side stays at its home bucket, so every
    # within-max_dist pair meets exactly once at (blk, right's bucket).
    va = vocab.select(
        "__blk",
        F.explode(
            F.array(F.col("__bkt") - 1, F.col("__bkt"), F.col("__bkt") + 1)
        ).alias("__jb"),
        F.col("__name").alias("name_a"),
        F.col("__len").alias("len_a"),
    )
    vb = vocab.select(
        "__blk",
        F.col("__bkt").alias("__jb"),
        F.col("__name").alias("name_b"),
        F.col("__len").alias("len_b"),
    )
    # Kernel spread: the join INPUTS are vocab-sized (tiny relative to
    # the record table), so AQE coalesces their shuffles to a couple of
    # partitions — and then the join body EXPLODES |block|² pairs inside
    # those few tasks (measured: the 20k-distinct-name hot-block
    # stressor ran its Levenshtein sweep on 2 partitions). Round-robin
    # repartition of the fanned-out left side (explicit numPartitions —
    # AQE leaves user-specified counts alone) plus broadcasting the
    # home-bucket side spreads pair generation AND the edit-distance
    # kernel evenly under ANY key skew, including the irreducible
    # one-band worst case. The broadcast is the distinct-name vocab —
    # dim-sized by construction; a corpus whose name vocab outgrows the
    # broadcast ceiling would swap this hint for a salted shuffle join
    # (same two-level structure as partitioning.salted_join).
    try:
        spread = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        spread = df.sparkSession.sparkContext.defaultParallelism
    va = va.repartition(max(8, spread))
    # name_a <= name_b keeps the self-pair (distinct records sharing one
    # name link at distance 0) exactly once.
    name_pairs = (
        va.join(F.broadcast(vb), ["__blk", "__jb"])
        .filter(F.col("name_a") <= F.col("name_b"))
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= max_dist)
    )
    slim = df.select(F.col(name_col), F.col(key_col))
    partials = slim.groupBy(
        name_col, F.spark_partition_id().alias("__pid")
    ).agg(F.slice(F.array_sort(F.collect_list(key_col)), 1, k).alias("__top"))
    reps = (
        partials.groupBy(name_col)
        .agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("__top"))), 1, k
            ).alias("__top")
        )
        .select(
            F.col(name_col).alias("__rname"),
            F.explode("__top").alias("__rkey"),
        )
    )
    joined = name_pairs.join(
        reps.select(
            F.col("__rname").alias("name_a"), F.col("__rkey").alias("key_a")
        ),
        "name_a",
    ).join(
        reps.select(
            F.col("__rname").alias("name_b"), F.col("__rkey").alias("key_b")
        ),
        "name_b",
    )
    # Orient every record pair as (smaller key, larger key). A cross-name
    # pair exists in ONE name orientation, so swap keys (and their names)
    # when the smaller key sits on the name_b side; a same-name pair
    # exists in BOTH key orientations, so the key_a < key_b filter alone
    # dedups it.
    lo_first = F.col("key_a") < F.col("key_b")
    cross = joined.filter(F.col("name_a") != F.col("name_b")).select(
        F.when(lo_first, F.col("key_a")).otherwise(F.col("key_b")).alias("key_a"),
        F.when(lo_first, F.col("key_b")).otherwise(F.col("key_a")).alias("key_b"),
        F.when(lo_first, F.col("name_a")).otherwise(F.col("name_b")).alias("name_a"),
        F.when(lo_first, F.col("name_b")).otherwise(F.col("name_a")).alias("name_b"),
        "edit_dist",
    )
    same = joined.filter(
        (F.col("name_a") == F.col("name_b")) & lo_first
    ).select("key_a", "key_b", "name_a", "name_b", "edit_dist")
    return (
        cross.unionByName(same)
        .orderBy(F.col("edit_dist"), F.col("key_a"), F.col("key_b"))
        .limit(k)
    )


def prefix_survivorship(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chars_col: str = "n_chars",
    prefix_tokens: int = 8,
) -> DataFrame:
    """Truncation-dedup with a survivorship policy: documents sharing
    the same leading ``prefix_tokens`` tokens are treated as variants of
    one source (the same page crawled with different truncation points),
    and the KEPT record is the longest text, ties to the smallest id —
    the keep-longest policy C4/CCNet apply to truncated duplicates,
    where exact-fingerprint dedup (identical full text) sees nothing.

    One fingerprint projection (md5 of the joined prefix — narrow,
    uniform key) + one AGGREGATE per fingerprint: the survivorship
    policy (longest, then smallest id) is an argmax —
    ``max(struct(n_chars, −id))`` — so it partial-aggregates map-side
    and a pathological hot cluster (10⁹ docs sharing a prefix) never
    funnels through a single ranking-window task. The shuffle carries
    (fp, length, id), never document payloads.
    """
    t = tokens(text_col)
    fp = F.md5(
        F.array_join(F.slice(t, 1, prefix_tokens), " ")
    )
    slim = df.select(
        F.col(id_col), F.col(chars_col), fp.alias("__fp")
    )
    canon = slim.groupBy("__fp").agg(
        F.max(
            F.struct(
                F.col(chars_col).alias("c"), (-F.col(id_col)).alias("nid")
            )
        ).alias("__best"),
        F.count(F.lit(1)).alias("group_size"),
    ).select(
        "__fp",
        (-F.col("__best.nid")).alias("canonical_id"),
        "group_size",
    )
    return (
        slim.join(canon, "__fp")
        .select(
            id_col,
            "canonical_id",
            "group_size",
            (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
        )
    )


def minhash_calibration(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash quality eval: for every LSH candidate pair, the Jaccard
    ESTIMATE the signatures imply (fraction of agreeing minhashes)
    against the EXACT shingle Jaccard — the calibration evidence behind
    choosing (num_hashes, band_size) for a dedup run, the text twin of
    ``ann_recall_at_k``.

    Same scale shape as ``minhash_lsh_pairs`` (narrow signature
    projection, band equi-join candidates, per-pair array verification);
    the only addition is carrying the per-seed minima through the pair
    hydration, which widens the join payload by num_hashes hex strings.
    """
    # r14: persist the MINIMA table, not the shingle table — the three
    # downstream consumers (the banding table and both pair-hydration
    # sides) previously each re-ran the num_hashes md5 array-transforms
    # over the cached shingles (3× the md5 work, the query's dominant
    # cost); with (shingles, mh0..mh{n-1}) cached once, the banding
    # derives from the mh columns (_band_signatures) and the hydration
    # reads the same cache. Expressions are unchanged, so signatures
    # and Jaccards are bit-identical.
    mins = (
        doc_shingles(df, text_col, id_col, shingle_n)
        .filter(F.size("shingles") > 0)
        .select(
            F.col(id_col),
            F.col("shingles"),
            *[
                F.array_min(F.transform(F.col("shingles"), _seeded_md5(s))).alias(
                    f"mh{s}"
                )
                for s in range(num_hashes)
            ],
        )
        # MEMORY_AND_DISK (r15): corpus-sized minima table with three
        # consumers — LRU eviction under pressure must spill, not
        # re-run the 16 md5 array-transforms (guide §5). Cleanup is
        # caller-scoped (clearCache per query); see ngram_jaccard_pairs.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sig = _band_signatures(mins, id_col, num_hashes, band_size)
    cands = _candidate_pairs(sig, ["band", "signature"], id_col).distinct()
    ma = mins.select(
        F.col(id_col).alias("id_a"),
        F.col("shingles").alias("sh_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(num_hashes)],
    )
    mb = mins.select(
        F.col(id_col).alias("id_b"),
        F.col("shingles").alias("sh_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(num_hashes)],
    )
    agree = sum(
        (F.col(f"a{s}") == F.col(f"b{s}")).cast("int") for s in range(num_hashes)
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    est = agree / F.lit(float(num_hashes))
    exact = inter / union
    return (
        cands.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            "id_a",
            "id_b",
            round_half_up(est, 6).alias("est_jaccard"),
            round_half_up(exact, 6).alias("exact_jaccard"),
            round_half_up(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


def cross_domain_neardup_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Domain×domain near-duplication matrix: verified MinHash-LSH pairs
    rolled up by (unordered) domain pair — the provenance view of
    near-duplication. The diagonal (same-domain mass) says which source
    re-publishes itself; off-diagonal cells say which sources mirror
    each other — the evidence behind "drop the mirror, keep the
    original" mixture decisions, and the cross-SPLIT version of this
    matrix is exactly ``split_leakage_check``.

    Pure composition: the banded LSH pair generator (never all-pairs)
    plus two broadcast-friendly id→domain hydration joins and a
    dimension-sized (domains²) aggregate.
    """
    pairs = minhash_lsh_pairs(
        df, text_col, id_col, num_hashes, band_size, shingle_n, threshold
    )
    doms = df.select(F.col(id_col), F.col(domain_col).alias("__dom"))
    hydrated = (
        pairs.join(
            doms.select(F.col(id_col).alias("id_a"), F.col("__dom").alias("da")),
            "id_a",
        )
        .join(
            doms.select(F.col(id_col).alias("id_b"), F.col("__dom").alias("db")),
            "id_b",
        )
        .select(
            F.least("da", "db").alias("domain_a"),
            F.greatest("da", "db").alias("domain_b"),
            "jaccard",
        )
    )
    return hydrated.groupBy("domain_a", "domain_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        round_half_up(F.avg("jaccard"), 4).alias("mean_jaccard"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 50,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT:
    |A∩B| / min(|A|, |B|) ≥ threshold — the excerpt/quote detector.
    Jaccard misses a short doc fully contained in a long one (the union
    dwarfs the intersection); containment is the right measure for
    "this document is substantially a copy OF PART OF that one", the
    dedup rule for boilerplate headers, syndicated excerpts, and
    quote-heavy posts.

    Same inverted-shingle-index self-join shape as
    ``ngram_jaccard_pairs``, and the same df cap: shingles with
    document frequency > ``max_df`` are dropped first (logged, never
    silent — ``drop_hot_keys``), bounding the otherwise
    Σ df(shingle)² join at |shingles|·max_df². Output
    (id_a, id_b, containment, jaccard) with id_a < id_b so the two
    measures are directly comparable per pair; ``max_df=None``
    restores the uncapped exact baseline.
    """
    # r14: persist the raw inverted index (same four-consumer shape,
    # storage-level and lifecycle rationale as ``ngram_jaccard_pairs``).
    raw = shingle_index(df, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    idx = drop_hot_keys(raw, ["shingle"], max_df, "containment_pairs")
    sizes = idx.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        _candidate_pairs(idx, ["shingle"], id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    cont = F.col("inter") / F.least(F.col("n_a"), F.col("n_b"))
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            round_half_up(cont, 6).alias("containment"),
            round_half_up(jac, 6).alias("jaccard"),
        )
        .filter(F.col("containment") >= threshold)
    )


def dedup_rate_by_key(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group duplication accounting: for each ``group_col`` value,
    how many of its documents share a CORPUS-WIDE exact fingerprint
    with at least one other document — the "which crawl is feeding me
    copies" attribution table that turns the global dedup number into a
    per-source action item (and the standard first column of a dataset
    card's provenance section).

    One fingerprint projection, one corpus-wide fingerprint-size
    aggregate (map-side combinable), a join back, one bounded per-group
    rollup. Note the sizes are corpus-wide by design: a document
    duplicated ACROSS two sources counts as duplicated in both — the
    attribution a per-source-only grouping would miss.
    """
    fp = df.select(
        F.col(group_col), fingerprint_md5(text_col).alias("__fp")
    )
    sizes = fp.groupBy("__fp").agg(F.count(F.lit(1)).alias("__n"))
    return (
        fp.join(sizes, "__fp")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("__n") > 1).cast("long")).alias("n_dup_docs"),
            round_half_up(
                F.sum((F.col("__n") > 1).cast("long")) / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )
    )


def cluster_size_histogram(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-dup cluster-size histogram: how many fingerprint clusters
    (and how many documents) fall in each size band — the one-glance
    shape of the duplication problem (a fat 11+ band means template
    spam; a thin 2-band means benign double-submits), the headline
    chart of a dedup report.

    Rolls up ``exact_dedup``'s (fingerprint, n_dups) output into five
    fixed bands — two bounded aggregates end-to-end.
    """
    sizes = exact_dedup(df, text_col, id_col).select("n_dups")
    band = (
        F.when(F.col("n_dups") == 1, "1")
        .when(F.col("n_dups") == 2, "2")
        .when(F.col("n_dups") <= 5, "3-5")
        .when(F.col("n_dups") <= 10, "6-10")
        .otherwise("11+")
    )
    return (
        sizes.select(band.alias("cluster_size_band"), "n_dups")
        .groupBy("cluster_size_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("n_dups").cast("long").alias("n_docs"),
        )
    )


def boilerplate_grams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n: int = 4,
    min_ratio: float = 0.05,
    top_k: int = 20,
) -> DataFrame:
    """Per-source boilerplate n-gram mining — the CCNet-style template
    detector: an n-gram that appears in >= ``min_ratio`` of a source's
    documents is domain boilerplate (headers, nav text, license
    blurbs), the text every dedup/quality pipeline strips BEFORE
    hashing so templates don't manufacture near-duplicates.

    One distinct (source, doc, gram) inverted index, one (source,
    gram) document-frequency aggregate, then a rank window PARTITIONED
    by source over the >= min_ratio survivors — the survivor table is
    bounded per source by total_grams / (min_ratio * n_docs), i.e.
    ~(1/min_ratio) * avg_grams_per_doc rows regardless of corpus
    size, so the window never sees an unbounded input. No all-pairs
    joins anywhere; this is the aggregate-side complement of
    the df cap's drop rule (what ``drop_hot_keys`` discards, this
    operator reports).

    Returns (source, gram_h, df_docs, n_docs, df_ratio, rank) with
    rank 1..top_k per source by (df_docs desc, gram_h).
    """
    idx = (
        fan_out(df)
        .withColumn("__tokens", tokens(text_col))
        .select(
            F.col(id_col),
            F.col(source_col),
            F.explode(word_shingles(F.col("__tokens"), n)).alias("gram"),
        )
        .select(id_col, source_col, F.md5("gram").alias("gram_h"))
        .distinct()
    )
    ndocs = idx.groupBy(source_col).agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    dfreq = idx.groupBy(source_col, "gram_h").agg(
        F.count(F.lit(1)).alias("df_docs")
    )
    survivors = dfreq.join(ndocs, source_col).where(
        (F.col("df_docs") >= F.col("n_docs") * F.lit(min_ratio))
        # a gram seen in ONE doc is never boilerplate, whatever the
        # ratio says (guards single-doc sources where 1/1 = 100%)
        & (F.col("df_docs") >= 2)
    )
    w = Window.partitionBy(source_col).orderBy(
        F.col("df_docs").desc(), "gram_h"
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            source_col,
            "gram_h",
            F.col("df_docs").cast("long").alias("df_docs"),
            F.col("n_docs").cast("long").alias("n_docs"),
            round_half_up(
                F.col("df_docs") / F.col("n_docs"), 6
            ).alias("df_ratio"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def cluster_representatives(
    docs: DataFrame,
    components: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    chars_col: str = "n_chars",
) -> DataFrame:
    """Quality-aware canonical-document selection for near-dup clusters:
    instead of keeping the OLDEST member (min id — what the plain
    cluster pipeline reports), keep the BEST member (max heuristic
    quality, ties on the smaller id) and account the bytes the drop
    saves — the actual "which copy survives dedup" policy decision of
    a training-corpus build, where near-dups often differ in boilerplate
    and truncation.

    Per-cluster argmax is a cluster-partitioned row_number (per-group
    sorts, never global); everything else is equi-joins on the doc id
    and integer sums.

    Output per cluster: rep_doc, rep_quality, n_docs, chars_total,
    chars_dropped (= Σ member chars − rep chars).
    """
    from pyspark.sql import Window

    members = (
        components.select(
            F.col("node").alias(id_col), F.col("component").alias("cluster_id")
        )
        .join(docs.select(F.col(id_col), F.col(chars_col)), id_col)
        .join(quality.select(F.col(id_col), "quality"), id_col)
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col(id_col).asc()
    )
    ranked = members.withColumn("__rn", F.row_number().over(w))
    reps = ranked.filter(F.col("__rn") == 1).select(
        "cluster_id",
        F.col(id_col).alias("rep_doc"),
        F.col("quality").alias("rep_quality"),
        F.col(chars_col).alias("__rep_chars"),
    )
    sizes = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(chars_col).cast("bigint").alias("chars_total"),
    )
    return reps.join(sizes, "cluster_id").select(
        "cluster_id",
        "rep_doc",
        "rep_quality",
        "n_docs",
        "chars_total",
        (F.col("chars_total") - F.col("__rep_chars"))
        .cast("bigint")
        .alias("chars_dropped"),
    )


def dedup_rate_projection(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quarters: int = 4,
    digits: int = 6,
) -> DataFrame:
    """Dedup-rate growth curve: evaluate the verified near-dup PAIR
    count on nested md5-subsamples (25% / 50% / 75% / 100% of the
    corpus) in ONE pass — duplicates grow superlinearly with corpus
    size (every new doc can match all prior docs), so the curve is how
    a pipeline forecasts dedup cost and dup fraction at the next crawl
    scale before running it.

    The nesting trick: a pair belongs to subsample s iff BOTH endpoint
    hash-fractions fall below s, i.e. iff max(fracₐ, frac_b) < s — so
    one bucket assignment per pair + a cumulative sum over the
    ``quarters``-row grid replaces ``quarters`` separate pair joins.
    Hash fractions are the standard md5 uniform; bucket floors are
    engine-identical doubles. The cumulative windows run over the
    ``quarters``-row grid only.

    Output per subsample: share, n_docs, n_pairs,
    pairs_per_kdoc (= 1000·pairs/docs).
    """
    from pyspark.sql import Window

    from .mixing import hash_frac

    q = F.lit(quarters)
    doc_bucket = docs.select(
        (F.floor(hash_frac(F.col(id_col)) * q) + 1).cast("int").alias("b")
    ).groupBy("b").agg(F.count(F.lit(1)).alias("nd"))
    fa = hash_frac(F.col("id_a"))
    fb = hash_frac(F.col("id_b"))
    pair_bucket = pairs.select(
        (F.floor(F.greatest(fa, fb) * q) + 1).cast("int").alias("b")
    ).groupBy("b").agg(F.count(F.lit(1)).alias("np"))
    grid = docs.sparkSession.range(1, quarters + 1).select(
        F.col("id").cast("int").alias("b")
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        grid.join(doc_bucket, "b", "left")
        .join(pair_bucket, "b", "left")
        .select(
            "b",
            F.coalesce(F.col("nd"), F.lit(0)).alias("nd"),
            F.coalesce(F.col("np"), F.lit(0)).alias("np"),
        )
        .withColumn("n_docs", F.sum("nd").over(w).cast("bigint"))
        .withColumn("n_pairs", F.sum("np").over(w).cast("bigint"))
    )
    return curve.select(
        round_half_up(F.col("b") / q, 2).alias("share"),
        "n_docs",
        "n_pairs",
        round_half_up(
            F.lit(1000) * F.col("n_pairs") / F.col("n_docs"), digits
        ).alias("pairs_per_kdoc"),
    )
