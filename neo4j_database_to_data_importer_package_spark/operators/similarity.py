"""Vector similarity search over embedding columns (beyond-reference).

Brute-force cosine top-k as the exact baseline, plus an IVF-style
coarse-quantized variant as the 100 TB scale path (search only the
nprobe nearest cells → candidate set shrinks by ~n_cells/nprobe).

Dot products run as ``aggregate(zip_with(...))`` over array<double> —
JVM-side, no UDF, deterministic left-to-right accumulation (matches
DuckDB's list_dot_product for oracle parity).

The embedding LSH join is the same blocked self-join as the text dedup
operators (``dedup._candidate_pairs``) behind the same logged hot-key
cap (``partitioning.drop_hot_keys``); its drops count in
``dedup.dropped_bucket_counts``.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import round_half_up
from ..partitioning import drop_hot_keys, fan_out
from .dedup import _candidate_pairs


def _as_double(col) -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


def _literal_matrix_expr(rows: list[list[float]]) -> F.Column:
    """A nested array<array<double>> literal built as ONE parsed SQL
    expression instead of per-element ``F.lit`` calls.

    ``F.array(*[F.array(*[F.lit(x) ...])])`` costs one py4j round-trip
    per element — measured 4.5 s of pure DRIVER time for the 128×64
    hyperplane matrix (8 192 elements), dwarfing the 0.4 s the dot
    products actually take (r14 profile, OPTIMIZATION_r14.md). One
    ``F.expr`` string is a single round-trip; the JVM parses the 8 192
    numeric literals in milliseconds. Values are emitted with ``repr``
    (shortest round-trip form) and the whole array is CAST to
    ARRAY<ARRAY<DOUBLE>>: a decimal literal converted to double is
    correctly rounded to the nearest double — the exact same bits as
    the Python float — so plans, signatures, and oracles are unchanged.
    """
    body = ",".join(
        "array(" + ",".join(repr(x) for x in row) + ")" for row in rows
    )
    return F.expr(f"CAST(array({body}) AS ARRAY<ARRAY<DOUBLE>>)")


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def with_norm(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    v = _as_double(F.col(vec_col))
    return fan_out(df).select(
        F.col(id_col), v.alias("v"), F.sqrt(_dot(v, v)).alias("norm")
    )


def cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact, O(n²) — the correctness
    baseline; use minhash/IVF for scale). Output (id_a, id_b, cosine)."""
    n = with_norm(df, vec_col, id_col)
    a = n.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = n.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.select("id_a", "id_b", round_half_up(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def brute_force_topk(
    df: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_queries: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for a set of query vectors.

    Queries are broadcast (small side); candidates scan once. Ranking is
    deterministic: (rounded cosine desc, neighbor id asc).
    """
    n = with_norm(df, vec_col, id_col)
    q = n.select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    if query_ids is not None:
        q = q.filter(F.col("query_id").isin(query_ids))
    else:
        q = q.filter(F.col("query_id") < n_queries)
    c = n.select(F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"), F.col("norm").alias("cn"))
    joined = F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    cos = round_half_up(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6)
    scored = joined.select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_assign(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF coarse quantization: centroids = the first ``n_cells`` vectors
    by id (deterministic seed choice; a KMeans refinement can swap in
    without changing the interface). Returns (id, v, norm, cell)."""
    n = with_norm(df, vec_col, id_col)
    cents = (
        n.filter(F.col(id_col) < n_cells)
        .select(F.col(id_col).alias("cell"), F.col("v").alias("cv"), F.col("norm").alias("cn"))
    )
    joined = n.crossJoin(F.broadcast(cents))
    cos = _dot(F.col("v"), F.col("cv")) / (F.col("norm") * F.col("cn"))
    w = Window.partitionBy(id_col).orderBy(round_half_up(cos, 6).desc(), F.col("cell"))
    return (
        joined.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(id_col, "v", "norm", "cell")
    )


def ivf_topk(
    df: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    n_queries: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k: search only the ``nprobe`` nearest cells per query.

    At scale the assignment is precomputed and the index DataFrame is
    partitioned by cell → a query touches nprobe partitions instead of
    the full corpus.
    """
    # localCheckpoint, not cache: storage is released with the reference
    # instead of leaking in the cache manager (see ivf_pq_topk).
    assigned = ivf_assign(df, n_cells, vec_col, id_col).localCheckpoint(eager=True)
    cents = (
        assigned.filter(F.col(id_col) < n_cells)
        .select(F.col(id_col).alias("cell2"), F.col("v").alias("cv"), F.col("norm").alias("cn"))
    )
    q = assigned.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    qc = F.broadcast(q).crossJoin(F.broadcast(cents))
    ccos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    wq = Window.partitionBy("query_id").orderBy(round_half_up(ccos, 6).desc(), F.col("cell2"))
    probe = (
        qc.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "qv", "qn", F.col("cell2").alias("cell"))
    )
    cands = probe.join(
        assigned.select(F.col(id_col).alias("neighbor_id"), F.col("v").alias("nv"), F.col("norm").alias("nn"), "cell"),
        "cell",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    cos = round_half_up(_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6)
    scored = cands.select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(n_bits: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: each component derived
    from md5(bit|dim) mapped to [-1, 1]. No runtime randomness — the
    same planes can be regenerated in any engine (SQL oracle parity)."""
    import hashlib

    planes = []
    for b in range(n_bits):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{b}|{d}".encode()).hexdigest()[:8], 16)
            row.append(round(h / float(0xFFFFFFFF) * 2.0 - 1.0, 6))
        planes.append(row)
    return planes


def _signature_blocks(
    n: DataFrame, id_col: str, dim: int, n_bits: int, block_size: int
) -> DataFrame:
    """The (id, band q, block) banding table behind ``embedding_lsh_pairs``
    (input is ``with_norm`` output carrying ``v``). Extracted so
    occupancy probes (tools/lsh_occupancy_64x.py) measure EXACTLY the
    production banding, not a reimplementation that could drift.

    One transform over a literal plane matrix, not n_bits separate dot
    expressions: identical semantics, but the plan carries a single
    aggregate/zip_with node (fast analysis + codegen at 128 planes).
    The (id, sig) table is persisted (~150 B/row) so the dot products
    run once, not once per self-join branch; a persist keeps the plan
    hash stable, so ``drop_hot_keys`` memoizes the screen across
    rebuilds of the same banding (a localCheckpoint would give every
    rebuild a fresh hash). Cleanup is caller-scoped, as for the dedup
    persists."""
    planes = _hyperplanes(n_bits, dim)
    planes_arr = _literal_matrix_expr(planes)
    sig_expr = F.array_join(
        F.transform(
            planes_arr,
            lambda p: F.when(_dot(p, F.col("v")) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            ),
        ),
        "",
    )
    sig = n.select(F.col(id_col), sig_expr.alias("sig")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_blocks = n_bits // block_size
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(q).alias("q"),
                    F.substring("sig", q * block_size + 1, block_size).alias("block"),
                )
                for q in range(n_blocks)
            ])
        ).alias("bq"),
    ).select(id_col, F.col("bq.q").alias("q"), F.col("bq.block").alias("block"))


def embedding_lsh_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_bits: int = 128,
    block_size: int = 16,
    threshold: float = 0.30,
    max_bucket: int | None = 8192,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine, LSH-bucketed (the scale
    path next to the exact O(n²) ``cosine_pairs``).

    Random-hyperplane signatures: bit b = (v · h_b >= 0). Vectors within
    a small angle share most bits, so candidates = equi-join on any of
    the ``n_bits/block_size`` signature blocks (pigeonhole, same blocking
    as SimHash); only candidates pay the exact-cosine verification.

    Bucket cardinality is the scale knob (VERDICT r06 #1): each band
    partitions the corpus into at most ``2**block_size`` buckets and the
    candidate join costs Σ occ(bucket)² per band, so a block must be
    wide enough that ``n_rows / 2**block_size`` stays small. The old
    4-bit blocks (16 buckets/band) made candidate volume ≈ n²/8 — an
    all-pairs join in LSH costume at 10⁹ vectors. The defaults are now
    128 bits in 16-bit blocks: 65 536 buckets per band (4 096× more),
    8 bands. As defense in depth, ``max_bucket`` caps any still-hot
    bucket with a logged drop (``drop_hot_keys`` — the same cap as the
    shingle joins' ``max_df``); set it None to disable.

    Recall regime: P(bit agree) = 1 − θ/π, so a 16-bit block matches
    with p^16 and 8 bands give 1−(1−p^16)^8 ≈ 0.93 at cos ≥ 0.99 and
    ≈ 0.50 at cos ≈ 0.9 — the true near-duplicate regime. For
    low-threshold *similarity* mining add bands (more total bits at the
    same block width), or use ``ivf_topk``; this operator's job is
    dedup. ``threshold`` is only the exact-cosine cutoff applied to
    verified candidates (production dedup ≈ 0.9; the default 0.30 is
    calibrated to the synthetic near-uniform test embeddings, whose top
    cosine band is ~0.45).
    The banding table carries only (id, band, 16-char block) — NOT the
    vector: at 10⁹ rows the exploded table is ``n_bits/block_size`` ×
    corpus size, and dragging a 64-double payload through that shuffle
    is ~10× the bytes for nothing. Vectors re-join only the verified
    candidates (few by design). The (id, sig) table is persisted
    (~150 B/row) so the b fixed-literal dot products run exactly once,
    not once per self-join branch; the dots themselves are codegen
    ``zip_with``/``aggregate`` expressions.
    """
    n = with_norm(df, vec_col, id_col)
    blocks = _signature_blocks(n, id_col, dim, n_bits, block_size)
    blocks = drop_hot_keys(
        blocks, ["q", "block"], max_bucket, "embedding_lsh_pairs"
    )
    cands = _candidate_pairs(blocks, ["q", "block"], id_col).dropDuplicates(
        ["id_a", "id_b"]
    )
    x, y = n.alias("x"), n.alias("y")
    pairs = (
        cands.join(x, F.col("id_a") == F.col(f"x.{id_col}"))
        .join(y, F.col("id_b") == F.col(f"y.{id_col}"))
    )
    cos = _dot(F.col("x.v"), F.col("y.v")) / (F.col("x.norm") * F.col("y.norm"))
    return (
        pairs.select("id_a", "id_b", round_half_up(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def quantize_stats(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 quantization audit: per vector, the scale
    (max|x| / 127), the count of clipped components, and the mean
    absolute dequantization error. Entirely element-wise array
    expressions — a map-side operator with no shuffle; the pattern for
    shrinking an embedding store 4x before ANN serving.

    Rounding is floor(x + 0.5) (engine-portable half-up) and all math is
    double precision in a fixed per-element order, so the result is
    bit-reproducible in any engine.

    ``__ed``/``__scale`` are materialized columns, not inline
    expressions: the quantize/clip lambdas reference the scale per
    element, and an inline ``array_max(transform(...))`` there would be
    re-reduced over the whole vector once per component — O(d²) per
    vector (1M+ ops at production dims). Attribute references are
    per-element field reads.
    """
    base = df.select(
        F.col(id_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias("__ed"),
    ).withColumn(
        "__scale", F.array_max(F.transform("__ed", F.abs)) / F.lit(127.0)
    )
    ed, scale = F.col("__ed"), F.col("__scale")

    def q(x):
        return F.greatest(
            F.lit(-127.0), F.least(F.lit(127.0), F.floor(x / scale + 0.5))
        )

    err = F.aggregate(
        F.transform(ed, lambda x: F.abs(x - q(x) * scale)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.size(ed)
    n_clipped = F.size(F.filter(ed, lambda x: F.abs(F.floor(x / scale + 0.5)) > 127))
    return base.select(
        F.col(id_col),
        round_half_up(scale, 9).alias("scale"),
        n_clipped.alias("n_clipped"),
        round_half_up(err, 9).alias("mean_abs_err"),
    )


def kmeans_step(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One Lloyd's k-means iteration with deterministic seeding (the k
    lowest-id vectors are the initial centroids): assign every vector to
    its nearest centroid (ties broken by centroid id), then emit the
    updated centroids element-wise with assignment counts.

    The k-row centroid table broadcasts into a map-side distance
    projection (sequential-fold dist², engine-reproducible); the argmin
    is a per-vector window (partitioned on the vector id — never
    global); the centroid update is a (cluster, dim) aggregation whose
    key space is k × dim. This is the building block the full iterative
    clustering loops over — persist + localCheckpoint per round like
    PageRank/CC.

    Output: (cluster_id, pos, centroid_val, n_assigned) — the updated
    centroid matrix in scalar long form.
    """
    ed = df.select(
        F.col(id_col), F.transform(vec_col, lambda x: x.cast("double")).alias("ed")
    )
    cent = ed.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cid"), F.col("ed").alias("cvec")
    )
    dist2 = F.aggregate(
        F.zip_with("ed", "cvec", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy(id_col).orderBy("dist2", "cid")
    assigned = (
        ed.crossJoin(F.broadcast(cent))
        .select(F.col(id_col), "ed", "cid", dist2.alias("dist2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    n = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_assigned"))
    return (
        assigned.select("cid", F.posexplode("ed").alias("pos", "v"))
        .groupBy("cid", "pos")
        .agg(round_half_up(F.avg("v"), 6).alias("centroid_val"))
        .join(F.broadcast(n), "cid")
        .select(
            F.col("cid").alias("cluster_id"), "pos", "centroid_val", "n_assigned"
        )
    )


def ivf_cell_stats(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF index health audit: per cell, member count and mean cosine of
    members to their centroid — the balance/coherence read-out that
    decides whether an ANN index needs re-clustering (empty or
    incoherent cells degrade recall; giant cells degrade latency).

    One broadcast of the n_cells centroids, one narrow scoring pass,
    one cell-keyed aggregate. The per-vector cosine is rounded before
    the mean and summed in exact decimal, so the stats are identical
    under any partitioning (functions/numeric.dsum rationale).
    """
    from ..functions.numeric import dsum, round_half_up

    assigned = ivf_assign(df, n_cells, vec_col, id_col)
    cents = (
        with_norm(df, vec_col, id_col)
        .filter(F.col(id_col) < n_cells)
        .select(
            F.col(id_col).alias("cell"),
            F.col("v").alias("cv"),
            F.col("norm").alias("cn"),
        )
    )
    cos = round_half_up(
        _dot(F.col("v"), F.col("cv")) / (F.col("norm") * F.col("cn")), 6
    )
    scored = assigned.join(F.broadcast(cents), "cell").select(
        "cell", cos.alias("c")
    )
    return scored.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        round_half_up(dsum(F.col("c"), 6) / F.count(F.lit(1)), 6).alias(
            "mean_cosine"
        ),
    )


def ann_recall_at_k(
    df: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    n_queries: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN quality eval: recall@k of the IVF index against the exact
    brute-force top-k, per query — the accept/reject metric for every
    (n_cells, nprobe) configuration before it ships.

    Both rankings are deterministic (rounded cosines, id tie-breaks), so
    recall is a well-defined exact quantity: |ivf ∩ brute| / k. The join
    is on (query, neighbor) pairs of two already-bounded top-k tables —
    the eval costs nothing at any corpus scale beyond the two searches.
    """
    from ..functions.numeric import round_half_up

    ivf = ivf_topk(df, k, n_cells, nprobe, n_queries, vec_col, id_col).select(
        "query_id", "neighbor_id"
    )
    brute = brute_force_topk(
        df, k=k, n_queries=n_queries, vec_col=vec_col, id_col=id_col
    ).select(F.col("query_id").alias("bq"), F.col("neighbor_id").alias("bn"))
    hits = ivf.join(
        brute,
        (F.col("query_id") == F.col("bq")) & (F.col("neighbor_id") == F.col("bn")),
        "left_semi",
    )
    per_q = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_overlap"))
    queries = ivf.select("query_id").distinct()
    return (
        queries.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            round_half_up(
                F.coalesce("n_overlap", F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall_at_k"),
        )
    )


def pq_assign_audit(
    df: DataFrame,
    n_subspaces: int = 4,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization assignment audit: split each vector into
    ``n_subspaces`` contiguous sub-vectors, assign each to its nearest
    code (codebook = the first ``n_codes`` vectors' sub-vectors —
    deterministic seed choice, same contract as ``ivf_assign``), and
    report the squared reconstruction error per (vector, subspace).
    PQ is the memory side of large-scale ANN: 64 floats become
    ``n_subspaces`` bytes; this audit measures what that costs.

    One broadcast of the n_subspaces·n_codes codebook rows, one narrow
    scoring pass, a (vector, subspace)-partitioned argmin window —
    corpus-linear, no unbounded shuffle.
    """
    from ..functions.numeric import round_half_up

    dim_probe = 64  # embeddings table contract (validated by tests)
    sub = dim_probe // n_subspaces
    base = with_norm(df, vec_col, id_col).select(id_col, "v")
    m = F.explode(F.sequence(F.lit(0), F.lit(n_subspaces - 1))).alias("m")
    sv = base.select(F.col(id_col), "v", m).select(
        F.col(id_col),
        "m",
        F.slice(F.col("v"), F.col("m") * sub + 1, sub).alias("sv"),
    )
    codes = (
        base.filter(F.col(id_col) < n_codes)
        .select(F.col(id_col).alias("cid"), "v", m)
        .select(
            "cid",
            "m",
            F.slice(F.col("v"), F.col("m") * sub + 1, sub).alias("cv"),
        )
    )
    dist2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = sv.join(F.broadcast(codes), "m").select(
        F.col(id_col), "m", F.col("cid"), dist2.alias("d2")
    )
    w = Window.partitionBy(id_col, "m").orderBy(F.col("d2").asc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col(id_col),
            F.col("m").alias("subspace"),
            F.col("cid").alias("code"),
            round_half_up(F.col("d2"), 6).alias("sq_err"),
        )
    )


def dim_stats(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-dimension distribution audit of an embedding column: n, mean,
    population std, min, max for every coordinate. The feature-space
    health check a training pipeline runs before normalization /
    whitening — dead dimensions (std ~ 0) and scale outliers show up
    here first.

    ``posexplode`` fans each vector into (dim, value) rows — a narrow
    map-side expansion (two small columns, never the full vector row) —
    and the aggregate keys on the dimension index, so state is
    O(dim · partitions) regardless of corpus size. Variance uses the
    explicit sum/sum-of-squares formula (s2/n - mean²) on BOTH the Spark
    and oracle sides, so the only engine difference is double-summation
    order — absorbed by the 6-decimal rounding.
    """
    exploded = df.select(
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "v")
    )
    agg = exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    return agg.select(
        "dim",
        "n",
        round_half_up(mean, 6).alias("mean_val"),
        round_half_up(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_val"),
        round_half_up(F.col("mn"), 6).alias("min_val"),
        round_half_up(F.col("mx"), 6).alias("max_val"),
    )


def norm_outliers(
    df: DataFrame,
    pctl: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Norm-outlier screen: compute each vector's L2 norm, find the
    global ``pctl`` quantile of norms EXACTLY (distributed
    ``exact_quantiles`` — range-partitioned rank lookup, no single-node
    percentile buffer), and report per-label how many vectors exceed it.
    Embedding-norm outliers are the classic symptom of corrupt inputs or
    untrained rows; this is the reject gate before cosine search (which
    normalizes them invisibly).

    Two passes over a two-column projection (norm is a codegen array
    fold); the threshold returns to the plan as a broadcast literal, so
    the flagging pass is a pure map + dimension-sized groupBy.
    """
    from .analytics import exact_quantiles

    norm = F.sqrt(
        F.aggregate(
            _as_double(F.col(vec_col)),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    per_vec = df.select(F.col(label_col), norm.alias("nrm"))
    ((_, thr),) = exact_quantiles(per_vec, "nrm", [pctl])
    return per_vec.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum((F.col("nrm") > F.lit(thr)).cast("long")).alias("n_outliers"),
        round_half_up(F.avg("nrm"), 6).alias("mean_norm"),
        round_half_up(F.lit(thr), 6).alias("norm_threshold"),
    )


def centroid_outliers(
    df: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Label-noise screen: distance of every vector to its own label's
    centroid, reporting the ``k`` farthest per label — the candidates a
    curation pass reviews for mislabeling or contamination (the
    confident-learning heuristic, distance form).

    Centroids come from one posexplode + (label, dim) mean — state
    O(labels·dim) — reassembled into arrays and broadcast back, so the
    scoring pass is a map-side join + codegen array fold. Per-label
    top-k is a window PARTITIONED by label (never global); ties break
    on id.
    """
    ed = _as_double(F.col(vec_col))
    px = df.select(F.col(label_col), F.posexplode(ed).alias("dim", "v"))
    cent = px.groupBy(label_col, "dim").agg(F.avg("v").alias("c"))
    carr = cent.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda s: s["c"],
        ).alias("__cent")
    )
    d2 = F.aggregate(
        F.zip_with(ed, F.col("__cent"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # Rank on the ROUNDED distance (matching the output precision): the
    # unrounded double differs across engines in the last ulp (centroid
    # means sum in different orders), and a rank must not hinge on it.
    scored = df.join(F.broadcast(carr), label_col).select(
        F.col(label_col),
        F.col(id_col),
        round_half_up(F.sqrt(d2), 6).alias("centroid_dist"),
    )
    # Per-label top-k via the two-level bounded aggregation (sort key =
    # (−dist, id) so the ascending array slice is (dist desc, id asc)):
    # a hot label merges ≤ k·partitions candidates, never its full
    # vector set through one ranking-window task. The k survivors then
    # rank inside a k-row array — no window over unbounded input.
    partials = scored.groupBy(
        label_col, F.spark_partition_id().alias("__pid")
    ).agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("centroid_dist")).alias("nd"),
                        F.col(id_col).alias("i"),
                    )
                )
            ),
            1,
            k,
        ).alias("__top")
    )
    merged = partials.groupBy(label_col).agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("__top"))), 1, k
        ).alias("__top")
    )
    return merged.select(
        F.col(label_col), F.posexplode("__top").alias("__pos", "__e")
    ).select(
        label_col,
        F.col("__e.i").alias(id_col),
        (-F.col("__e.nd")).alias("centroid_dist"),
        (F.col("__pos") + 1).cast("int").alias("rank"),
    )


def dim_quantiles(
    df: DataFrame,
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Per-dimension quartile audit (q25/median/q75 + IQR) — the
    robust companion to ``dim_stats``: heavy-tailed or clipped
    coordinates move the mean/std audit but hide in it; quartiles
    expose them directly and feed robust scalers (median/IQR
    whitening). Fixed quartiles by design — the output schema IS the
    contract (ADVICE r05: a free-form ``qs`` parameter silently
    mislabeled any non-quartile request).

    Same narrow ``posexplode`` fan-out as ``dim_stats``; per-dimension
    EXACT ``percentile`` (quantile_cont semantics, rank 1+(n−1)q —
    identical to the DuckDB oracle). Exact per-group percentiles buffer
    a dimension's values in one aggregation buffer — fine for corpus
    audits (state is n_rows per dimension task, dims spread across the
    cluster); at 100 TB swap in ``approx_percentile`` or the mergeable
    ``histogram_quantiles`` sketch, same output shape.
    """
    exploded = df.select(
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "v")
    )
    q_arr = "array(0.25, 0.5, 0.75)"
    agg = exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"percentile(v, {q_arr})").alias("__qs"),
    )
    lo, mid, hi = (F.col("__qs")[i] for i in range(3))
    return agg.select(
        "dim",
        "n",
        round_half_up(lo, digits).alias("q25"),
        round_half_up(mid, digits).alias("median"),
        round_half_up(hi, digits).alias("q75"),
        round_half_up(hi - lo, digits).alias("iqr"),
    )


def ivf_pq_topk(
    df: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    n_queries: int = 10,
    n_subspaces: int = 4,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The full modern ANN search stack in one operator: IVF cell
    pruning (visit ``nprobe`` of ``n_cells`` cells) + PQ asymmetric
    distance computation (database vectors live as ``n_subspaces``
    codes; the query stays full-precision and scores candidates via a
    per-query lookup table) — the FAISS ``IVFPQ`` recipe re-expressed
    as joins. ``ann_recall_at_k`` already audits IVF-vs-brute recall;
    this adds the memory side: candidates are scored WITHOUT touching
    their float vectors.

    Scale shape: the codebook (n_subspaces × n_codes sub-vectors) and
    the per-query ADC lookup table (n_queries × n_subspaces × n_codes
    rows) broadcast; database vectors appear only as (id, cell,
    subspace code) — the narrow representation that is the entire point
    of PQ at 100 TB. One cell-equi-join prunes candidates, one
    broadcast-LUT join + (query, neighbor) sum scores them, one
    query-partitioned rank window cuts top-k. Codebook/centroids are
    the deterministic first-``n`` seed choice (same contract as
    ``ivf_assign``/``pq_assign_audit``; a trained KMeans/OPQ swap-in
    keeps the interface).

    Output: (query_id, neighbor_id, approx_dist2, rank) — rank by the
    6-dp-rounded PQ distance ascending, ties to the smaller id, so the
    ranking is engine-independent.
    """
    from ..functions.numeric import round_half_up

    # Derive the dimensionality from the data (ADVICE r05: a hard-coded
    # dim made F.slice past the array end pad nulls for any other
    # embedding width — silently wrong instead of loudly wrong). One
    # bounded 1-row fetch; at scale this is a metadata probe.
    probe_row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if probe_row is None:
        raise ValueError("ivf_pq_topk: empty input DataFrame")
    dim_probe = int(probe_row["d"])
    if dim_probe % n_subspaces:
        raise ValueError(
            f"ivf_pq_topk: embedding dim {dim_probe} not divisible by "
            f"n_subspaces={n_subspaces}"
        )
    sub = dim_probe // n_subspaces
    # localCheckpoint (not cache): materializes once for the ~5 reuses
    # below AND releases its storage with the DataFrame reference —
    # cache() entries live in the cache manager until an explicit
    # unpersist, which a lazily-returned result can never safely issue
    # (ADVICE r05 leak).
    assigned = ivf_assign(df, n_cells, vec_col, id_col).localCheckpoint(eager=True)
    m = F.explode(F.sequence(F.lit(0), F.lit(n_subspaces - 1))).alias("m")

    base = assigned.select(id_col, "v", "norm")
    sv = base.select(F.col(id_col), "v", m).select(
        F.col(id_col), "m", F.slice(F.col("v"), F.col("m") * sub + 1, sub).alias("sv")
    )
    codebook = (
        base.filter(F.col(id_col) < n_codes)
        .select(F.col(id_col).alias("cid"), "v", m)
        .select("cid", "m", F.slice(F.col("v"), F.col("m") * sub + 1, sub).alias("cv"))
    )
    d2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wc = Window.partitionBy(id_col, "m").orderBy(F.col("d2").asc(), F.col("cid"))
    codes = (
        sv.join(F.broadcast(codebook), "m")
        .select(F.col(id_col), "m", "cid", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") == 1)
        .select(F.col(id_col).alias("neighbor_id"), "m", F.col("cid").alias("code"))
    )

    # Per-query ADC lookup table: ||q_m - codebook[m, cid]||^2
    lut = (
        sv.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), "m", F.col("sv"))
        .join(F.broadcast(codebook), "m")
        .select("query_id", "m", "cid", d2.alias("qd2"))
    )

    cents = assigned.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell2"), F.col("v").alias("cv2"), F.col("norm").alias("cn")
    )
    q = assigned.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    ccos = _dot(F.col("qv"), F.col("cv2")) / (F.col("qn") * F.col("cn"))
    wq = Window.partitionBy("query_id").orderBy(
        round_half_up(ccos, 6).desc(), F.col("cell2")
    )
    probe = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("query_id", F.col("cell2").alias("cell"))
    )
    cands = (
        probe.join(
            assigned.select(F.col(id_col).alias("neighbor_id"), "cell"), "cell"
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    scored = (
        cands.join(codes, "neighbor_id")
        .join(
            F.broadcast(lut.withColumnRenamed("cid", "code")),
            ["query_id", "m", "code"],
        )
        .groupBy("query_id", "neighbor_id")
        .agg(round_half_up(F.sum("qd2"), 6).alias("approx_dist2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist2").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dist2", "rank")
    )


def matryoshka_prefix_audit(
    df: DataFrame,
    prefix_dims: tuple = (8, 16, 32),
    k: int = 10,
    n_queries: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka/prefix-dimension retrieval audit: recall@k of search
    over only the FIRST ``d`` coordinates against the full-dimension
    exact top-k, for each ``d`` in ``prefix_dims`` — the measurement
    behind adaptive-dimension retrieval (MRL-style embeddings ship with
    exactly this table: how much ranking quality survives truncation,
    per byte saved).

    Each prefix search is the same broadcast-queries brute-force shape
    with ``slice(v, 1, d)`` dots — truncation is free at scan time
    (narrower arithmetic, same rows). Output one row per (prefix_dim,
    query): recall@k — both rankings deterministic (rounded cosine,
    id tie-break), so recall is exact.
    """
    from ..functions.numeric import round_half_up

    full = brute_force_topk(
        df, k=k, n_queries=n_queries, vec_col=vec_col, id_col=id_col
    ).select(F.col("query_id").alias("fq"), F.col("neighbor_id").alias("fn"))
    n = with_norm(df, vec_col, id_col)
    out = None
    for d in prefix_dims:
        pv = F.slice(F.col("v"), 1, d)
        pn = n.select(
            F.col(id_col),
            pv.alias("pv"),
            F.sqrt(_dot(pv, pv)).alias("pnorm"),
        ).filter(F.col("pnorm") > 0)
        q = pn.select(
            F.col(id_col).alias("query_id"),
            F.col("pv").alias("qv"),
            F.col("pnorm").alias("qn"),
        ).filter(F.col("query_id") < n_queries)
        c = pn.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("pv").alias("cv"),
            F.col("pnorm").alias("cn"),
        )
        joined = (
            F.broadcast(q)
            .crossJoin(c)
            .filter(F.col("query_id") != F.col("neighbor_id"))
        )
        cos = round_half_up(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        pref = (
            joined.select("query_id", "neighbor_id", cos.alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
        is_hit = pref.join(
            full,
            (F.col("query_id") == F.col("fq"))
            & (F.col("neighbor_id") == F.col("fn")),
            "left",
        )
        # Aggregate over ALL of the query's k prefix results (a query
        # whose prefix ranking shares nothing with the full ranking must
        # still emit recall 0, not vanish).
        rec = (
            is_hit.groupBy("query_id")
            .agg(F.sum(F.col("fq").isNotNull().cast("long")).alias("__hits"))
            .select(
                F.lit(d).alias("prefix_dim"),
                "query_id",
                round_half_up(F.col("__hits") / F.lit(float(k)), 6).alias(
                    "recall_at_k"
                ),
            )
        )
        out = rec if out is None else out.unionByName(rec)
    return out


def pca_power_iteration(
    df: DataFrame,
    iterations: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top principal direction of the (uncentered) embedding matrix by
    power iteration: v ← normalize(Xᵀ(Xv)), started from the exact
    uniform unit vector — the dominant-singular-direction probe behind
    anisotropy audits ("is the embedding space collapsing onto one
    axis?") and the first step of any distributed PCA/whitening.

    Each iteration is two passes that never materialize more than
    (rows × 1) scores and (dim) sums: the per-row score x·v is a
    codegen fold against the current direction as LITERALS (the 64
    scalars are a bounded driver fetch per iteration — the manifest-
    scalar class), and the per-dimension accumulation is one
    posexplode aggregate with a dim-sized key space. The direction is
    rounded to 6 decimals after every normalization so both engines
    iterate on identical inputs (the kmeans_step precedent for
    float-aggregate parity). Output: (pos, loading, explained_share)
    where explained_share = Σ(x·v)² / Σ‖x‖² under the final direction.
    """
    import math

    # r15: the loop runs iterations+1 sequential driver jobs over this
    # projection (one 64-sum aggregate per iteration + the final share
    # pass) — persist it once so each job reads the cached (rows × dim)
    # doubles instead of re-scanning + re-casting the parquet (guide §5:
    # reused ≥4×, recompute cost ≥ cache cost). Unpersisted before
    # return: every consumer job has already collected.
    ed = df.select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("ed")
    ).persist()

    def _vec_lit(vals: list[float]) -> F.Column:
        # One parsed expression instead of ``dim`` F.lit round-trips —
        # the 1-D case of _literal_matrix_expr, same repr/CAST
        # bit-identity argument.
        return F.expr(
            "CAST(array(" + ",".join(repr(x) for x in vals)
            + ") AS ARRAY<DOUBLE>)"
        )

    v = [1.0 / math.sqrt(dim)] * dim  # 0.125 for dim=64 — exact binary
    for _ in range(iterations):
        v_lit = _vec_lit(v)
        s = _dot(F.col("ed"), v_lit)
        # 64 direct sum aggregates over (element × score) — one codegen
        # pass with map-side combine, no posexplode fan-out (the
        # exploded formulation shuffled rows × dim and measured 4× the
        # wall at 8× data).
        scored = ed.select(s.alias("s"), "ed")
        m_row = scored.agg(
            *[
                F.sum(F.element_at(F.col("ed"), i + 1) * F.col("s")).alias(f"m{i}")
                for i in range(dim)
            ]
        ).collect()[0]
        m = [m_row[f"m{i}"] for i in range(dim)]
        nn = math.sqrt(sum(x * x for x in m))
        v = [math.floor(x / nn * 1e6 + 0.5) / 1e6 for x in m]
    v_lit = _vec_lit(v)
    s = _dot(F.col("ed"), v_lit)
    xx = _dot(F.col("ed"), F.col("ed"))
    share = ed.agg(
        (F.sum(s * s) / F.sum(xx)).alias("share")
    ).collect()[0]["share"]
    ed.unpersist()
    share = math.floor(share * 1e6 + 0.5) / 1e6
    spark = df.sparkSession
    return spark.createDataFrame(
        [(i, v[i], share) for i in range(dim)],
        "pos int, loading double, explained_share double",
    )


def cluster_label_purity(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Cluster-vs-label agreement audit: assign every vector to its IVF
    cell and report each cell's dominant label and purity (dominant-
    label share) — the unsupervised-vs-ground-truth eval that decides
    whether an embedding space separates the classes before anyone
    trains on it (purity ≈ 1/|labels| means the space carries no label
    signal).

    Reuses ``ivf_assign`` (broadcast centroids, per-vector argmin);
    then one (cell, label) count aggregate and a two-aggregate argmax
    (per-cell max count, then min label among the tied labels) — no
    ranking window, a hot cell aggregates, and the tie-break is
    TYPE-AGNOSTIC: ``min(label)`` orders strings and numbers alike,
    matching the oracle's ``ORDER BY n DESC, label`` (ADVICE r05: the
    former ``-label`` negation only worked for numeric labels).
    """
    from ..functions.numeric import round_half_up

    assigned = ivf_assign(df, n_cells, vec_col, id_col)
    labeled = assigned.select(id_col, "cell").join(
        df.select(F.col(id_col), F.col(label_col).alias("__label")), id_col
    )
    cell_label = labeled.groupBy("cell", "__label").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = cell_label.groupBy("cell").agg(F.sum("n").alias("n_vecs"))
    max_n = cell_label.groupBy("cell").agg(F.max("n").alias("n_dominant"))
    best = (
        cell_label.join(max_n, "cell")
        .filter(F.col("n") == F.col("n_dominant"))
        .groupBy("cell", "n_dominant")
        .agg(F.min("__label").alias("dominant_label"))
    )
    return (
        totals.join(best, "cell")
        .select(
            "cell",
            "n_vecs",
            "dominant_label",
            "n_dominant",
            round_half_up(F.col("n_dominant") / F.col("n_vecs"), 6).alias("purity"),
        )
    )


def semdedup_prune(
    df: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic pruning: assign every vector to its IVF
    cell, find within-cell pairs with cosine ≥ ``threshold``, and prune
    each vector that has a SMALLER-id near-twin in its cell (the
    survivor is the minimum such twin) — the embedding-space analogue
    of MinHash dedup that catches paraphrases exact/shingle methods
    miss, exactly the Abbas et al. web-dedup recipe.

    Scale shape: the quadratic pair step runs WITHIN cells only —
    |cell|² bounded because the cluster count is scaled with the corpus
    (that is SemDeDup's own design contract; n_cells here is the
    deterministic-seed stand-in for the trained k-means). One cell
    equi-join, one (hash-aggregate) min per pruned vector, no windows.
    Output (pruned_id, kept_id, cosine) — cosine of the kept pair,
    6-dp-rounded so the ranking/choice is engine-independent.
    """
    from ..functions.numeric import round_half_up

    assigned = ivf_assign(df, n_cells, vec_col, id_col)
    a = assigned.select(
        F.col("cell"), F.col(id_col).alias("id_a"),
        F.col("v").alias("va"), F.col("norm").alias("na"),
    )
    b = assigned.select(
        F.col("cell"), F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"), F.col("norm").alias("nb"),
    )
    cos = round_half_up(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(F.col("id_a"), F.col("id_b"), cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    return (
        pairs.groupBy(F.col("id_b").alias("pruned_id"))
        .agg(F.min(F.struct(F.col("id_a"), F.col("cosine"))).alias("k"))
        .select(
            "pruned_id",
            F.col("k.id_a").alias("kept_id"),
            F.col("k.cosine").alias("cosine"),
        )
    )


def knn_label_agreement(
    df: DataFrame,
    k: int = 10,
    n_queries: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """k-NN label-agreement audit: for each query vector, the fraction
    of its k nearest neighbors (exact cosine) sharing its label,
    averaged per label — the label-noise / class-separability probe run
    before training a classifier on the embeddings (agreement ≈ 1/|L|
    means the space carries no label signal; a single low-agreement
    label usually means mislabeled or heterogeneous data).

    Reuses the broadcast-queries brute-force top-k (deterministic
    rounded-cosine ranking), two label hydrations, then one bounded
    per-label aggregate. Output (label, n_queries, mean_agreement).
    """
    from ..functions.numeric import round_half_up

    top = brute_force_topk(
        df, k=k, vec_col=vec_col, id_col=id_col, n_queries=n_queries
    )
    lab = df.select(F.col(id_col), F.col(label_col))
    ql = lab.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("__ql")
    )
    nl = lab.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    per_q = (
        top.join(ql, "query_id")
        .join(nl, "neighbor_id")
        .groupBy("query_id", "__ql")
        .agg(
            (F.sum((F.col("__ql") == F.col("__nl")).cast("long")) / F.count(F.lit(1)))
            .alias("__agree")
        )
    )
    return (
        per_q.groupBy(F.col("__ql").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            round_half_up(F.avg("__agree"), 6).alias("mean_agreement"),
        )
    )


def centroid_split_drift(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
) -> DataFrame:
    """Embedding-distribution drift audit: split the corpus 50/50 by id
    hash, compute each IVF cell's mean vector PER SIDE, and report the
    cosine between the two side-centroids — per-region drift detection
    for embedding pipelines (a model/version change that shifts one
    semantic region shows up as a low-cosine cell long before any
    global statistic moves).

    Everything is per-(cell, side, dim) aggregates over the exploded
    coordinates: means via exact decimal sums, the 64-term cosine via
    9-dp-rounded mean products summed exactly — deterministic under
    any partitioning and in SQL. No arrays are re-assembled; the dot
    product is itself an aggregate over the dim-keyed join of the two
    side tables.
    """
    from ..functions.numeric import dsum

    assigned = ivf_assign(df, n_cells, vec_col, id_col)
    side = F.when(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 1).isin(*"01234567"),
        F.lit("a"),
    ).otherwise(F.lit("b"))
    coords = assigned.select(
        "cell", side.alias("side"), F.posexplode(F.col("v")).alias("dim", "x")
    )
    means = coords.groupBy("cell", "side", "dim").agg(
        round_half_up(dsum("x", 9) / F.count(F.lit(1)), 9).alias("m")
    )
    a = means.filter(F.col("side") == "a").select(
        "cell", "dim", F.col("m").alias("ma")
    )
    b = means.filter(F.col("side") == "b").select(
        "cell", "dim", F.col("m").alias("mb")
    )
    per_cell = (
        a.join(b, ["cell", "dim"])
        .groupBy("cell")
        .agg(
            dsum(F.col("ma") * F.col("mb"), 18).alias("dot"),
            dsum(F.col("ma") * F.col("ma"), 18).alias("na2"),
            dsum(F.col("mb") * F.col("mb"), 18).alias("nb2"),
        )
    )
    sizes = assigned.select("cell", side.alias("side")).groupBy("cell").agg(
        F.sum((F.col("side") == "a").cast("long")).alias("n_a"),
        F.sum((F.col("side") == "b").cast("long")).alias("n_b"),
    )
    return (
        per_cell.join(sizes, "cell")
        .select(
            "cell",
            "n_a",
            "n_b",
            round_half_up(
                F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2")), digits
            ).alias("centroid_cosine"),
        )
    )


def intrinsic_dimension_twonn(
    df: DataFrame,
    n_queries: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al.): from each
    query point's two nearest neighbors, μ = r₂/r₁, and the MLE
    d = n / Σ ln μ — the "how many dimensions does this embedding
    manifold actually use" number that decides PQ subspace counts,
    Matryoshka truncation points, and whether a 64-d index is wasted
    on 9-d data.

    Reuses the broadcast-queries brute-force top-k (k=2, rounded-cosine
    deterministic ranking); with unit-normalized vectors r² = 2−2·cos,
    so μ = √((1−cos₂)/(1−cos₁)) comes straight from the two rounded
    cosines — engine-deterministic. Queries whose nearest neighbor is
    an exact duplicate (cos₁ = 1, μ undefined) are excluded and
    counted. ln μ terms are 9-dp-rounded and summed exactly.
    """
    from ..functions.numeric import dsum, round_half_up

    top2 = brute_force_topk(
        df, k=2, vec_col=vec_col, id_col=id_col, n_queries=n_queries
    )
    per_q = top2.groupBy("query_id").agg(
        F.max(F.when(F.col("rank") == 1, F.col("cosine"))).alias("c1"),
        F.max(F.when(F.col("rank") == 2, F.col("cosine"))).alias("c2"),
    )
    valid = per_q.filter(
        (F.col("c1") < 1.0) & F.col("c2").isNotNull()
    )
    ln_mu = round_half_up(
        0.5 * F.log((1.0 - F.col("c2")) / (1.0 - F.col("c1"))), 9
    )
    return valid.agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        round_half_up(
            F.count(F.lit(1)) / dsum(ln_mu, 9), digits
        ).alias("intrinsic_dim"),
    )


def ann_recall_curve(
    df: DataFrame,
    ks: tuple = (1, 5, 10, 20),
    n_cells: int = 16,
    nprobe: int = 4,
    n_queries: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
) -> DataFrame:
    """Recall@k CURVE of the IVF index against exact brute force, for
    several k in one pass — the index-tuning chart (one recall point
    hides whether losses sit at the top of the ranking or the tail;
    the curve decides nprobe/n_cells).

    Both rankings run once at max(ks) (deterministic rounded-cosine
    order); per k the prefix intersection |I_k ∩ B_k| comes from one
    rank-filtered join + a bounded aggregate. Output one row per k:
    mean recall@k over the query set.
    """
    from ..functions.numeric import round_half_up

    kmax = max(ks)
    ivf = ivf_topk(
        df, k=kmax, n_cells=n_cells, nprobe=nprobe, n_queries=n_queries,
        vec_col=vec_col, id_col=id_col,
    ).select("query_id", "neighbor_id", F.col("rank").alias("ri"))
    brute = brute_force_topk(
        df, k=kmax, n_queries=n_queries, vec_col=vec_col, id_col=id_col
    ).select("query_id", "neighbor_id", F.col("rank").alias("rb"))
    matched = ivf.join(brute, ["query_id", "neighbor_id"])
    kdf = matched.crossJoin(
        F.broadcast(
            df.sparkSession.createDataFrame([(k,) for k in ks], "k int")
        )
    ).filter((F.col("ri") <= F.col("k")) & (F.col("rb") <= F.col("k")))
    per_qk = kdf.groupBy("k", "query_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    # normalize by the FULL query count (a query with zero overlap at
    # some k has no per_qk row but still belongs in the mean)
    qtot = brute.agg(F.countDistinct("query_id").alias("qn"))
    return (
        per_qk.groupBy("k")
        .agg(F.sum(F.col("n_overlap") / F.col("k")).alias("__s"))
        .crossJoin(F.broadcast(qtot))
        .select(
            "k",
            F.col("qn").cast("long").alias("n_queries"),
            round_half_up(F.col("__s") / F.col("qn"), digits).alias(
                "mean_recall"
            ),
        )
    )


def simplified_silhouette(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster: a(x) is the
    distance to the assigned centroid, b(x) the distance to the nearest
    OTHER centroid, s = (b-a)/max(a,b) — the O(n·k) cluster-quality
    read-out that replaces the O(n²) pairwise silhouette at corpus
    scale (the standard large-n approximation; same deterministic
    lowest-id seeding as ``kmeans_step`` so the two are comparable
    across rounds).

    One k-row centroid broadcast into a map-side distance projection,
    one per-vector aggregate (the k candidate rows collapse to a
    sorted k-struct array — bounded, never a window), one per-cluster
    rollup. Per-vector s is 6-dp rounded then decimal-summed, so the
    cluster means are partition-independent.
    """
    from ..functions.numeric import dsum, round_half_up

    ed = df.select(
        F.col(id_col), F.transform(vec_col, lambda x: x.cast("double")).alias("ed")
    )
    cent = ed.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cid"), F.col("ed").alias("cvec")
    )
    dist2 = F.aggregate(
        F.zip_with("ed", "cvec", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cand = ed.crossJoin(F.broadcast(cent)).select(
        F.col(id_col), F.struct(dist2.alias("d2"), F.col("cid")).alias("c")
    )
    best2 = cand.groupBy(id_col).agg(
        F.slice(F.array_sort(F.collect_list("c")), 1, 2).alias("top2")
    )
    a = F.sqrt(F.col("top2")[0]["d2"])
    b = F.sqrt(F.col("top2")[1]["d2"])
    s = F.when(F.greatest(a, b) == 0.0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b)
    )
    per_vec = best2.select(
        F.col("top2")[0]["cid"].alias("cluster_id"),
        round_half_up(s, 6).alias("s"),
    )
    return per_vec.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        round_half_up(dsum("s", 6) / F.count(F.lit(1)), 6).alias(
            "mean_silhouette"
        ),
    )


def davies_bouldin(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Davies–Bouldin cluster-separation audit (lowest-id seeding, same
    assignment as ``simplified_silhouette``): per cluster i the scatter
    s_i (mean member→centroid distance) and the worst similarity ratio
    max_{j≠i} (s_i+s_j)/d(c_i,c_j) — the complement to silhouette:
    silhouette scores the members, DB scores the centroid layout (a
    high ratio names WHICH other cluster it blurs into).

    Assignment is the same broadcast + bounded per-vector argmin; the
    pair grid is k×k (64 rows) built from two broadcasts of the k-row
    centroid table; the per-i argmax is a window over that bounded
    grid, partitioned by i. Scatters are 6-dp rounded then
    decimal-summed — partition-independent.
    """
    from ..functions.numeric import dsum, round_half_up

    ed = df.select(
        F.col(id_col), F.transform(vec_col, lambda x: x.cast("double")).alias("ed")
    )
    cent = ed.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cid"), F.col("ed").alias("cvec")
    )
    dist2 = F.aggregate(
        F.zip_with("ed", "cvec", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cand = ed.crossJoin(F.broadcast(cent)).select(
        F.col(id_col), F.struct(dist2.alias("d2"), F.col("cid")).alias("c")
    )
    own = cand.groupBy(id_col).agg(F.min("c").alias("own"))
    scat = own.select(
        F.col("own")["cid"].alias("cid"),
        round_half_up(F.sqrt(F.col("own")["d2"]), 6).alias("d"),
    ).groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        round_half_up(dsum("d", 6) / F.count(F.lit(1)), 6).alias("scatter"),
    )
    cdist = F.aggregate(
        F.zip_with("cvec", "cvec2", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        cent.crossJoin(
            F.broadcast(
                cent.select(
                    F.col("cid").alias("cjd"), F.col("cvec").alias("cvec2")
                )
            )
        )
        .where(F.col("cid") != F.col("cjd"))
        .select("cid", "cjd", F.sqrt(cdist).alias("cd"))
    )
    si = scat.select(
        F.col("cid"), F.col("n_members"), F.col("scatter").alias("s_i")
    )
    sj = scat.select(F.col("cid").alias("cjd"), F.col("scatter").alias("s_j"))
    ratio = round_half_up((F.col("s_i") + F.col("s_j")) / F.col("cd"), 6)
    grid = pairs.join(si, "cid").join(sj, "cjd").select(
        "cid", "cjd", "n_members", "s_i", ratio.alias("r")
    )
    w = Window.partitionBy("cid").orderBy(F.desc("r"), F.asc("cjd"))
    return (
        grid.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            F.col("s_i").alias("scatter"),
            F.col("cjd").alias("worst_other"),
            F.col("r").alias("db_ratio"),
        )
    )


def jl_sign_matrix(d_in: int = 64, d_out: int = 16) -> list[list[float]]:
    """Deterministic ±1 Johnson–Lindenstrauss sign matrix: entry (j, i)
    is the parity of the first hex byte of md5("j:i") — reproducible in
    any engine/language, no RNG state (the md5-derandomization rule
    this package uses everywhere randomness appears)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:2], 16) % 2 == 0
            else -1.0
            for i in range(d_in)
        ]
        for j in range(d_out)
    ]


def random_projection_distortion(
    df: DataFrame,
    d_out: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
) -> DataFrame:
    """Johnson–Lindenstrauss projection audit: project every vector
    through the deterministic ±1/√d_out sign matrix and measure the
    pairwise-distance distortion ‖y_a−y_b‖/‖x_a−x_b‖ over the
    consecutive-id pair sample — the go/no-go check before swapping
    full vectors for projected ones in a 100 TB ANN/dedup pipeline
    (JL says the ratio concentrates near 1; this measures how tightly
    at YOUR dimensionality).

    The sign matrix is a driver-side constant folded into the plan as
    literals (d_out sequential folds per row — codegen, no UDF); the
    pair sample is one self-equi-join on id+1 (linear, never all
    pairs); ratios are 6-dp rounded, then min/max/decimal-mean.
    """
    from ..functions.numeric import dsum, round_half_up

    signs = jl_sign_matrix(64, d_out)
    scale = 1.0 / float(d_out) ** 0.5
    ed = df.select(
        F.col(id_col), F.transform(vec_col, lambda x: x.cast("double")).alias("ed")
    )
    # r14: one parsed literal matrix + a transform over its rows instead
    # of d_out per-row F.lit arrays (same folds, same order, one py4j
    # round-trip instead of 64·d_out — see _literal_matrix_expr).
    signs_arr = _literal_matrix_expr([[float(v) for v in row] for row in signs])
    proj = ed.select(
        F.col(id_col),
        "ed",
        F.transform(
            signs_arr,
            lambda row: F.aggregate(
                F.zip_with("ed", row, lambda x, s: x * s),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(scale),
        ).alias("y"),
    )
    b = proj.select(
        (F.col(id_col) - 1).alias(id_col),
        F.col("ed").alias("ed2"),
        F.col("y").alias("y2"),
    )
    d2 = lambda a, c: F.aggregate(  # noqa: E731 — shared fold
        F.zip_with(a, c, lambda x, z: (x - z) * (x - z)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = proj.join(b, id_col).select(
        round_half_up(
            F.sqrt(d2("y", "y2")) / F.sqrt(d2("ed", "ed2")), digits
        ).alias("ratio")
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("ratio").alias("min_ratio"),
        F.max("ratio").alias("max_ratio"),
        round_half_up(dsum("ratio", digits) / F.count(F.lit(1)), digits).alias(
            "mean_ratio"
        ),
    )


def fisher_discriminant_dims(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    digits: int = 6,
) -> DataFrame:
    """Per-dimension Fisher discriminant ratio (between-class variance /
    within-class variance) of an embedding against its labels — the
    feature-selection audit that names WHICH coordinates carry the
    label signal (dims with F ≈ 0 are label-blind; a handful of high-F
    dims means a cheap projected classifier will work).

    One posexplode into (label, dim) moment aggregates (state bounded
    by labels × dims), then a per-dim rollup using the algebraic
    decomposition B = (Σ s_c²/n_c − S²/N)/N, W = (Σ q_c − Σ s_c²/n_c)/N
    — no second data pass, no windows. Double-sum order is absorbed by
    the 6-dp rounding (the ``dim_stats`` precedent).
    """
    from ..functions.numeric import round_half_up

    exploded = df.select(
        F.col(label_col).alias("lbl"),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "v"),
    )
    t1 = exploded.groupBy("lbl", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("q"),
    )
    agg = t1.groupBy("dim").agg(
        F.sum("n").alias("nn"),
        F.sum("s").alias("ss"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sb"),
        F.sum("q").alias("qq"),
        F.count(F.lit(1)).cast("long").alias("n_labels"),
    )
    between = (F.col("sb") - F.col("ss") * F.col("ss") / F.col("nn")) / F.col("nn")
    within = (F.col("qq") - F.col("sb")) / F.col("nn")
    return agg.select(
        "dim",
        "n_labels",
        round_half_up(between, digits).alias("between_var"),
        round_half_up(within, digits).alias("within_var"),
        F.when(within > 0, round_half_up(between / within, digits)).alias(
            "f_ratio"
        ),
    )


def pair_cosine_histogram(
    df: DataFrame,
    offset: int = 25,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Anisotropy audit: histogram (0.1-wide bins) of cosines between
    id-offset vector pairs — a healthy embedding space concentrates
    pair cosines near 0; a collapsed/anisotropic one (the classic
    "all my embeddings are similar" failure after bad pooling or
    fine-tuning) shifts the whole mass toward 1, which silently
    breaks every cosine threshold downstream. The fixed-id-offset
    pairing is deterministic and unclustered — the same role the
    consecutive pairing plays in the JL audit.

    One equi-join on id+offset, map-side cosine, one bounded
    histogram aggregate (≤ 21 bins). No windows, no sampling state.
    """
    from ..functions.numeric import round_half_up

    a = with_norm(df, vec_col, id_col)
    b = a.select(
        (F.col(id_col) - offset).alias(id_col),
        F.col("v").alias("v2"),
        F.col("norm").alias("n2"),
    )
    cos = round_half_up(
        _dot(F.col("v"), F.col("v2")) / (F.col("norm") * F.col("n2")), 6
    )
    pairs = a.join(b, id_col).select(cos.alias("c"))
    bucket = F.floor(F.col("c") * 10.0 + 0.5) / 10.0
    return pairs.groupBy(bucket.alias("cos_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


def hubness_audit(
    df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """k-occurrence (hubness) histogram of the exact k-NN graph: for
    every vector, count how many OTHER vectors list it in their top-k,
    then roll up the distribution — the standard high-dimensional
    pathology audit (hubs appear in thousands of lists and poison
    retrieval; antihubs appear in none and are unreachable). A healthy
    embedding space concentrates near n_appearances = k.

    Exact all-pairs scoring like [cosine_pairs] — the O(n²)
    correctness baseline over the audited sample; at corpus scale the
    same rollup runs over IVF-bucketed candidate lists
    ([ivf_topk] / [ivf_pq_topk]) instead of the dense graph. Cosines
    are rounded before ranking with neighbor-id tiebreaks
    (engine-stable ranks); the k-occurrence count and histogram are
    two hash aggregates, with id-complete zero rows (antihubs) via a
    left anti pattern on the occurrence table.

    Returns (n_appearances, n_vectors) — the k-occurrence histogram
    including the zero bucket.
    """
    n = with_norm(df, vec_col, id_col)
    a = n.select(
        F.col(id_col).alias("qid"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
    )
    b = n.select(
        F.col(id_col).alias("nid"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cn"),
    )
    scored = a.join(b, F.col("qid") != F.col("nid")).select(
        "qid",
        "nid",
        round_half_up(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("nid")
    )
    occ = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .groupBy("nid")
        .agg(F.count(F.lit(1)).alias("n_appearances"))
    )
    per_vec = (
        df.select(F.col(id_col).alias("nid"))
        .join(occ, "nid", "left")
        .select(
            F.coalesce(F.col("n_appearances"), F.lit(0)).alias(
                "n_appearances"
            )
        )
    )
    return per_vec.groupBy("n_appearances").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    ).select(
        F.col("n_appearances").cast("long").alias("n_appearances"),
        "n_vectors",
    )


def centrality_length_correlation(
    docs: DataFrame,
    embeddings: DataFrame,
    doc_id_col: str = "doc_id",
    len_col: str = "n_chars",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Cross-modal drift probe: Pearson correlation between document
    LENGTH and the embedding's cosine to the corpus CENTROID over the
    id-aligned (doc, vector) pairs — do long documents embed
    systematically nearer (or farther from) the center of the space?
    A strong correlation means retrieval/clustering on this embedding
    will stratify by length, not content. (The naive norm-vs-length
    probe is DEGENERATE on unit-normalized embeddings — norms are all
    1.0 and the correlation is 0/0; cosine-to-centroid varies
    genuinely.)

    Shape: one posexplode for the 64-dim centroid (9-dp-rounded
    coordinate terms, decimal-summed — order-independent), a
    broadcast join back by dimension for per-vector dots, one keyed
    doc join, then Pearson from rounded-decimal x-moments against
    exact integer length moments. Returns one row: (n, corr).
    """
    from ..functions.numeric import dsum, round_half_up

    ex = embeddings.select(
        F.col(vec_id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "pos", "v"
        ),
    )
    cent = ex.groupBy("pos").agg(
        (dsum(round_half_up(F.col("v"), 9), 9) / F.count(F.lit(1))).alias(
            "c"
        )
    )
    dots = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("id")
        .agg(
            dsum(round_half_up(F.col("v") * F.col("c"), 9), 9).alias(
                "dot"
            ),
            dsum(round_half_up(F.col("v") * F.col("v"), 9), 9).alias(
                "nn"
            ),
        )
    )
    cc = cent.agg(
        dsum(round_half_up(F.col("c") * F.col("c"), 9), 9).alias("cc")
    )
    xs = dots.crossJoin(F.broadcast(cc)).select(
        "id",
        round_half_up(
            F.col("dot") / F.sqrt(F.col("nn") * F.col("cc")), 9
        ).alias("x"),
    )
    j = docs.select(
        F.col(doc_id_col).alias("id"),
        F.col(len_col).cast("long").alias("y"),
    ).join(xs, "id")
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("x", 9).alias("sx"),
        dsum(round_half_up(F.col("x") * F.col("x"), 9), 9).alias("sxx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        dsum(round_half_up(F.col("x") * F.col("y"), 9), 9).alias("sxy"),
    )
    nn = F.col("n").cast("double")
    num = nn * F.col("sxy") - F.col("sx") * F.col("sy").cast("double")
    dx = nn * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = nn * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    return s.select(
        "n", round_half_up(num / F.sqrt(dx * dy), digits).alias("corr")
    )


def mmr_topk(
    df: DataFrame,
    query_id: int = 0,
    pool: int = 20,
    k: int = 5,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): retrieve a relevance top-``pool`` for one query vector, then
    greedily pick ``k`` results maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-picked — the standard
    diversity-aware retrieval epilogue for RAG / dedup'd search.

    Two-phase by design, and that IS the 100 TB shape: phase 1 is the
    fully distributed relevance scan + top-``pool`` cut (same plan as
    ``brute_force_topk``; the IVF variants swap in unchanged as the
    candidate generator); phase 2 is the greedy re-rank, inherently
    sequential (each pick changes the next argmax) but touching only
    the CONSTANT-size pool — an O(k·pool²) driver epilogue on ≤
    ``pool`` rows, the same bounded-collect contract as
    ``bpe_train_merges``' per-round argmax.

    Determinism: relevance and pairwise cosines are rounded to 6 dp
    (the module standard), every argmax breaks ties on the vector id
    ascending, and the epilogue uses the identical left-fold dot
    product and floor(x·1e6+0.5) rounding as the engines, so a SQL
    oracle replays the greedy trace exactly.
    """
    import math

    n = with_norm(df, vec_col, id_col)
    q = n.filter(F.col(id_col) == query_id).select(
        F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    rel = (
        n.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            "v",
            "norm",
            round_half_up(
                _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("norm")), 6
            ).alias("rel"),
        )
    )
    pool_rows = (
        rel.orderBy(F.col("rel").desc(), F.col(id_col).asc())
        .limit(pool)  # TakeOrderedAndProject — per-partition heaps, no sort
        .select(id_col, "v", "norm", "rel")
        .collect()  # bounded: `pool` is a constant parameter, not data-sized
    )

    def r6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    def cos(a: int, b: int) -> float:
        va, na, _ = vecs[a]
        vb, nb, _ = vecs[b]
        s = 0.0
        for x, y in zip(va, vb):  # left fold — matches _dot / list_dot_product
            s += x * y
        return r6(s / (na * nb))

    vecs = {
        int(r[id_col]): (list(r["v"]), float(r["norm"]), float(r["rel"]))
        for r in pool_rows
    }
    remaining = set(vecs)
    picked: list[tuple[int, int, float, float]] = []
    sim: dict[tuple[int, int], float] = {}
    while remaining and len(picked) < k:
        best = None
        for cid in sorted(remaining):
            relv = vecs[cid][2]
            if picked:
                maxsim = None
                for _, pid, _, _ in picked:
                    key = (min(cid, pid), max(cid, pid))
                    if key not in sim:
                        sim[key] = cos(cid, pid)
                    if maxsim is None or sim[key] > maxsim:
                        maxsim = sim[key]  # true max — may be NEGATIVE
                score = r6(lam * relv - (1.0 - lam) * maxsim)
            else:
                score = r6(lam * relv)
            if best is None or score > best[3] or (score == best[3] and cid < best[1]):
                best = (len(picked) + 1, cid, relv, score)
        picked.append(best)
        remaining.discard(best[1])
    return df.sparkSession.createDataFrame(
        picked, schema="rank INT, vec_id BIGINT, relevance DOUBLE, mmr_score DOUBLE"
    )


def ood_centroid_distance_histogram(
    df: DataFrame,
    n_cells: int = 16,
    bin_width: float = 0.1,
    n_bins: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
) -> DataFrame:
    """Out-of-distribution screen: each vector's squared distance to its
    NEAREST IVF centroid, histogrammed into ``n_bins`` fixed-width
    buckets — points far from every centroid are the OOD candidates an
    embedding pipeline quarantines before they poison retrieval or
    training. Same deterministic centroid seed as ``ivf_assign``.

    Per-vector min-distance is rounded at 9 dp BEFORE the bucket floor
    (so the bin cut is engine-identical), bucket means decimal-sum the
    rounded distances.

    Scale shape: one broadcast of the ``n_cells`` centroids, one narrow
    scoring pass, a vector-keyed min aggregate, and a ``n_bins``-row
    output — corpus-linear.
    """
    n = with_norm(df, vec_col, id_col)
    cents = (
        n.filter(F.col(id_col) < n_cells)
        .select(F.col(id_col).alias("cell"), F.col("v").alias("cv"))
    )
    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        n.crossJoin(F.broadcast(cents))
        .select(F.col(id_col), round_half_up(d2, 9).alias("d2"))
        .groupBy(id_col)
        .agg(F.min("d2").alias("min_d2"))
    )
    binned = scored.select(
        F.least(
            F.floor(F.col("min_d2") / bin_width), F.lit(n_bins - 1)
        ).cast("int").alias("bin"),
        "min_d2",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        round_half_up(
            F.sum(F.col("min_d2").cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1)),
            digits,
        ).alias("mean_min_d2"),
    )


def triplet_margin_audit(
    df: DataFrame,
    n_anchors: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    digits: int = 6,
) -> DataFrame:
    """Metric-learning health check: for an md5-deterministic anchor
    sample, find each anchor's nearest SAME-label vector (positive) and
    nearest DIFFERENT-label vector (negative) and report the triplet
    margin d²(a,n) − d²(a,p) — a violated triplet (margin < 0: some
    other class sits closer than your own) is exactly what a triplet /
    contrastive loss would penalize, so the violation rate measures how
    well the embedding space respects the labels.

    Determinism: squared distances round at 9 dp before both argmins
    (ties on the candidate id), the margin at ``digits``; the anchor
    sample is TakeOrdered(md5) — constant size at any corpus scale.

    Scale shape: constant anchors × corpus scoring join (the
    ``brute_force_topk`` shape), two anchor-partitioned argmin windows
    bounded by the anchor count.
    """
    n = with_norm(df, vec_col, id_col)
    labeled = n.join(
        df.select(F.col(id_col), F.col(label_col).alias("__lbl")), id_col
    )
    anchors = (
        labeled.orderBy(F.md5(F.col(id_col).cast("string")).asc())
        .limit(n_anchors)
        .select(
            F.col(id_col).alias("anchor"),
            F.col("v").alias("av"),
            F.col("__lbl").alias("albl"),
        )
    )
    d2 = F.aggregate(
        F.zip_with(F.col("av"), F.col("v"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(anchors)
        .join(labeled, F.col("anchor") != F.col(id_col))
        .select(
            "anchor",
            "albl",
            F.col(id_col).alias("cand"),
            F.col("__lbl").alias("clbl"),
            round_half_up(d2, 9).alias("d2"),
        )
    )
    w = Window.partitionBy("anchor").orderBy(F.col("d2").asc(), F.col("cand"))
    pos = (
        scored.filter(F.col("clbl") == F.col("albl"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("anchor", "albl", F.col("cand").alias("pos_id"), F.col("d2").alias("__dp"))
    )
    neg = (
        scored.filter(F.col("clbl") != F.col("albl"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("anchor", F.col("cand").alias("neg_id"), F.col("d2").alias("__dn"))
    )
    return pos.join(neg, "anchor").select(
        "anchor",
        F.col("albl").alias("label"),
        "pos_id",
        "neg_id",
        round_half_up(F.col("__dn") - F.col("__dp"), digits).alias("margin"),
        (F.col("__dn") - F.col("__dp") < 0).cast("int").alias("violated"),
    )


def binary_quantization_recall(
    df: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
) -> DataFrame:
    """Binary-quantization retrieval audit: collapse every vector to its
    SIGN BITS (64 dims → two 32-bit words), rank neighbors by Hamming
    distance, and measure recall@k against the exact cosine top-k —
    the production question behind binary embeddings (32× memory cut;
    how much of the ranking survives?).

    All signature/Hamming arithmetic is integer (bit_count over XOR),
    the exact side reuses ``brute_force_topk``'s rounded-cosine
    contract, and overlap/recall are integer ratios — deterministic
    everywhere.

    Scale shape: signatures are a map-side projection; the Hamming scan
    is queries×corpus with a per-query top-k window bounded by the
    constant query set — the same plan as the exact baseline but
    shuffling two ints per row instead of the float vector.
    """
    def words(v):
        def word(lo: int):
            return F.aggregate(
                F.sequence(F.lit(lo), F.lit(lo + 31)),
                F.lit(0).cast("long"),
                lambda acc, i: acc
                + F.when(
                    F.element_at(v, i + 1) > 0,
                    # shiftleft needs a literal count; 2^(i−lo) ≤ 2^31 is
                    # double-exact, so pow→long is the same integer
                    F.pow(F.lit(2.0), (i - lo).cast("double")).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            )
        return word(0).alias("w1"), word(32).alias("w2")

    n = with_norm(df, vec_col, id_col)
    sigs = n.select(F.col(id_col), *words(F.col("v")))
    q = sigs.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col("w1").alias("q1"),
        F.col("w2").alias("q2"),
    )
    ham = (
        F.broadcast(q)
        .join(sigs, F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (
                F.bit_count(F.col("q1").bitwiseXOR(F.col("w1")))
                + F.bit_count(F.col("q2").bitwiseXOR(F.col("w2")))
            ).alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id")
    )
    approx = ham.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    exact = brute_force_topk(df, k=k, n_queries=n_queries, vec_col=vec_col, id_col=id_col)
    overlap = (
        approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        q.select("query_id")
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias("n_overlap"),
            round_half_up(
                F.coalesce(F.col("n_overlap"), F.lit(0)) / F.lit(k), digits
            ).alias("recall_at_k"),
        )
    )
