"""Registry section split from the former monolithic registry.py
(round 6, VERDICT r05 #7); registration order is preserved by the
import order in ``__init__.py``."""

from __future__ import annotations

from ._core import (  # noqa: F401  (full monolith-global namespace)
    Callable,
    DataFrame,
    F,
    ORACLES,
    QUERIES,
    SparkSession,
    TPCH_GRAPH_SPEC,
    _TS_FMT_DUCK,
    _TS_FMT_SPARK,
    _VIEW_CACHE,
    _dsum,
    _fmt_ts,
    _view,
    detect_identifiers,
    discover_patterns_map,
    dsum,
    export_node_table,
    export_relationship_table,
    infer_type_col,
    load_graph_view,
    nodes_from_view,
    register,
    schema_union_map,
    uniqueness_profile,
)
from .dedup import _NORM_DUCK, _SHINGLES_DUCK, _TOKS_DUCK
from .streaming import _STREAM_SEQ, _replayed_events_stream

# Round-5 additions: corpus statistics, drift, curriculum, provenance,
# feature-space robustness, sampled centrality. Ledgered in
# __spark_entry__._NEXT_ROTATION for the round-6 gate window.
# ---------------------------------------------------------------------------

@register(
    "term_zipf_fit",
    f"""WITH freq AS (
          SELECT w, count(*) AS c
          FROM (SELECT unnest({_TOKS_DUCK}) AS w FROM documents)
          GROUP BY w),
        top AS (SELECT w, c FROM freq ORDER BY c DESC, w LIMIT 1000),
        r AS (SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w) AS DOUBLE)) AS lnr,
                     ln(CAST(c AS DOUBLE)) AS lnf
              FROM top)
        SELECT count(*) AS n_terms,
               floor(regr_slope(lnf, lnr) * 1000000.0 + 0.5) / 1000000.0 AS slope,
               floor((avg(lnf) - regr_slope(lnf, lnr) * avg(lnr)) * 1000000.0 + 0.5)
                 / 1000000.0 AS intercept,
               floor(corr(lnr, lnf) * 1000000.0 + 0.5) / 1000000.0 AS pearson_r
        FROM r""",
)
def term_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency fit over the corpus vocabulary (top-1000 via
    TakeOrderedAndProject, closed-form regression — the natural-language
    sanity probe). See text_analysis.term_zipf_fit."""
    from ..operators.text_analysis import term_zipf_fit as op

    view = _view(spark, sf_dir)
    return op(view.tables["documents"])


@register(
    "language_script_stats",
    """WITH d AS (
         SELECT lang, CAST(length(text) AS DOUBLE) AS n,
                CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) AS l,
                CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS g,
                CAST(length(text) - length(regexp_replace(text, '[ \t\n]', '', 'g')) AS DOUBLE) AS s
         FROM documents WHERE length(text) > 0)
       SELECT lang, count(*) AS n_docs,
              floor(avg(l / n) * 1000000.0 + 0.5) / 1000000.0 AS mean_letter_frac,
              floor(avg(g / n) * 1000000.0 + 0.5) / 1000000.0 AS mean_digit_frac,
              floor(avg(s / n) * 1000000.0 + 0.5) / 1000000.0 AS mean_space_frac,
              floor(avg((n - l - g - s) / n) * 1000000.0 + 0.5) / 1000000.0 AS mean_other_frac
       FROM d GROUP BY lang""",
)
def language_script_stats(spark, sf_dir):
    """Per-language character-class profile (letters/digits/space/other
    fractions) — the cheap mojibake/base64/wrong-bucket screen.
    See text_analysis.script_char_stats."""
    from ..operators.text_analysis import script_char_stats

    view = _view(spark, sf_dir)
    return script_char_stats(view.tables["documents"])


@register(
    "domain_term_entropy",
    f"""WITH dt AS (
          SELECT source, w, count(*) AS c
          FROM (SELECT source, unnest({_TOKS_DUCK}) AS w FROM documents)
          GROUP BY source, w),
        corpus AS (SELECT w, sum(c) AS cc FROM dt GROUP BY w),
        dom_tot AS (SELECT source, sum(c) AS dtot FROM dt GROUP BY source),
        corp_tot AS (SELECT sum(cc) AS ctot FROM corpus)
        SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS vocab,
               floor(-sum((c / dtot) * ln(c / dtot)) * 10000.0 + 0.5) / 10000.0 AS entropy,
               floor(sum((c / dtot) * ln((c / dtot) / (cc / ctot))) * 10000.0 + 0.5)
                 / 10000.0 AS kl_vs_corpus
        FROM dt
        JOIN dom_tot USING (source)
        JOIN corpus USING (w)
        CROSS JOIN corp_tot
        GROUP BY source""",
)
def domain_term_entropy(spark, sf_dir):
    """Per-domain unigram entropy + KL vs the corpus distribution — the
    'statistically weird source' screen behind mixture reweighting.
    See text_analysis.domain_term_entropy."""
    from ..operators.text_analysis import domain_term_entropy as op

    view = _view(spark, sf_dir)
    return op(view.tables["documents"])


@register(
    "events_cusum_drift",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
         FROM events GROUP BY 1, 2),
       stats AS (
         SELECT event_type, avg(x) AS m, stddev_pop(x) AS sd,
                count(*) AS n_days
         FROM daily GROUP BY 1),
       cum AS (
         SELECT d.event_type, d.day, s.n_days, s.sd,
                sum(d.x - s.m) OVER (PARTITION BY d.event_type ORDER BY d.day) AS cs
         FROM daily d JOIN stats s USING (event_type)),
       peak AS (
         SELECT event_type, day AS peak_day
         FROM cum
         QUALIFY row_number() OVER (
           PARTITION BY event_type ORDER BY abs(cs) DESC, day DESC) = 1)
       SELECT c.event_type, c.n_days,
              floor(max(abs(c.cs)) * 10000.0 + 0.5) / 10000.0 AS max_cusum,
              any_value(p.peak_day) AS peak_day,
              CASE WHEN any_value(c.sd) > 0
                   THEN floor(max(abs(c.cs)) / (any_value(c.sd) * sqrt(c.n_days))
                              * 10000.0 + 0.5) / 10000.0
                   END AS drift_stat
       FROM cum c JOIN peak p USING (event_type)
       GROUP BY c.event_type, c.n_days""",
)
def events_cusum_drift(spark, sf_dir):
    """CUSUM change-point screen over the per-type daily event-count
    series (max |Σ(x−x̄)|, its day, and the scale-free drift statistic).
    The window runs over days-per-type rows, never event rows.
    See windows.cusum_drift."""
    from ..operators.windows import cusum_drift

    view = _view(spark, sf_dir)
    return cusum_drift(view.tables["events"])


@register(
    "curriculum_order_plan",
    """WITH ranked AS (
         SELECT doc_id, CAST(n_chars AS DOUBLE) AS score,
                row_number() OVER (ORDER BY n_chars, doc_id) AS position,
                count(*) OVER () AS n
         FROM documents)
       SELECT doc_id,
              floor(score * 1000000.0 + 0.5) / 1000000.0 AS score,
              position,
              CAST(1 + floor(4.0 * (position - 1) / n) AS INT) AS phase
       FROM ranked""",
)
def curriculum_order_plan(spark, sf_dir):
    """Curriculum-learning schedule: global training position (total
    order over (length score, doc_id)) + 4 equal difficulty phases,
    computed WITHOUT a global window (range-repartition + partition-
    offset rank arithmetic — exact_quantiles' shape). The oracle's
    global ROW_NUMBER is the semantic spec, not the plan.
    See mixing.curriculum_phases."""
    from ..operators.mixing import curriculum_phases

    view = _view(spark, sf_dir)
    return curriculum_phases(view.tables["documents"], score_col="n_chars")


@register(
    "cross_domain_neardup_matrix",
    """WITH pairs AS ({minhash_pairs}),
        doms AS (SELECT doc_id, source FROM documents)
        SELECT least(a.source, b.source) AS domain_a,
               greatest(a.source, b.source) AS domain_b,
               count(*) AS n_pairs,
               floor(avg(jaccard) * 10000.0 + 0.5) / 10000.0 AS mean_jaccard
        FROM pairs
        JOIN doms a ON a.doc_id = pairs.id_a
        JOIN doms b ON b.doc_id = pairs.id_b
        GROUP BY 1, 2""",
)
def cross_domain_neardup_matrix(spark, sf_dir):
    """Domain x domain near-duplication matrix over verified MinHash-LSH
    pairs — the provenance rollup behind 'drop the mirror' mixture
    decisions. See dedup.cross_domain_neardup_matrix."""
    from ..operators.dedup import cross_domain_neardup_matrix as op

    view = _view(spark, sf_dir)
    return op(view.tables["documents"])


ORACLES["cross_domain_neardup_matrix"] = ORACLES[
    "cross_domain_neardup_matrix"
].format(minhash_pairs=ORACLES["dedup_minhash_lsh_pairs"])


@register(
    "embedding_dim_quantiles",
    """WITH x AS (
         SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                CAST(unnest(embedding) AS DOUBLE) AS v
         FROM embeddings),
       q AS (
         SELECT dim, count(*) AS n,
                quantile_cont(v, 0.25) AS q25,
                quantile_cont(v, 0.5) AS med,
                quantile_cont(v, 0.75) AS q75
         FROM x GROUP BY dim)
       SELECT dim, n,
              floor(q25 * 1000000.0 + 0.5) / 1000000.0 AS q25,
              floor(med * 1000000.0 + 0.5) / 1000000.0 AS median,
              floor(q75 * 1000000.0 + 0.5) / 1000000.0 AS q75,
              floor((q75 - q25) * 1000000.0 + 0.5) / 1000000.0 AS iqr
       FROM q""",
)
def embedding_dim_quantiles(spark, sf_dir):
    """Per-dimension quartiles/IQR of the embedding space — the robust
    companion to embedding_dim_stats (feeds median/IQR scalers).
    See similarity.dim_quantiles."""
    from ..operators.similarity import dim_quantiles

    view = _view(spark, sf_dir)
    return dim_quantiles(view.tables["embeddings"])


@register(
    "dataset_card_stats",
    f"""WITH base AS (
          SELECT source, lang, md5({_NORM_DUCK}) AS fp,
                 len({_TOKS_DUCK}) AS ntok, length(text) AS nchars
          FROM documents),
        vol AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(ntok) AS BIGINT) AS n_tokens,
                 floor(avg(nchars) * 100.0 + 0.5) / 100.0 AS mean_chars
          FROM base GROUP BY 1),
        dups AS (
          SELECT source, CAST(sum(c - 1) AS BIGINT) AS n_dup_docs
          FROM (SELECT source, fp, count(*) AS c FROM base GROUP BY 1, 2)
          GROUP BY 1),
        langs AS (SELECT source, lang, count(*) AS lc FROM base GROUP BY 1, 2),
        nl AS (SELECT source, count(*) AS n_langs FROM langs GROUP BY 1),
        top AS (
          SELECT source, lang AS top_lang, lc
          FROM langs
          QUALIFY row_number() OVER (
            PARTITION BY source ORDER BY lc DESC, lang) = 1)
        SELECT v.source, v.n_docs, v.n_tokens, v.mean_chars, nl.n_langs,
               t.top_lang,
               floor(t.lc / CAST(v.n_docs AS DOUBLE) * 1000000.0 + 0.5)
                 / 1000000.0 AS top_lang_share,
               floor(d.n_dup_docs / CAST(v.n_docs AS DOUBLE) * 1000000.0 + 0.5)
                 / 1000000.0 AS dup_rate
        FROM vol v
        JOIN dups d USING (source)
        JOIN nl USING (source)
        JOIN top t USING (source)""",
)
def dataset_card_stats(spark, sf_dir):
    """Per-source dataset-card row: volume, token count, language spread
    (distinct + dominant), within-source exact-dup rate — the release
    summary assembled from one scan + dimension-sized aggregates.
    See profiling.dataset_card_stats."""
    from ..operators.profiling import dataset_card_stats as op

    view = _view(spark, sf_dir)
    return op(view.tables["documents"])


@register(
    "embedding_ivf_pq_topk",
    """WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cv, norm AS cn FROM v WHERE vec_id < 16),
assigned AS (
  SELECT vec_id, v, norm, cell FROM (
    SELECT a.vec_id, a.v, a.norm, c.cell,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY floor((list_dot_product(a.v, c.cv)/(a.norm*c.cn)) * 1000000.0 + 0.5)/1000000.0 DESC,
                      c.cell) AS r
    FROM v a CROSS JOIN cents c) t WHERE r = 1),
sub AS (
  SELECT vec_id, m.m, v[m.m * 16 + 1 : m.m * 16 + 16] AS sv
  FROM v CROSS JOIN (SELECT unnest(range(0, 4)) AS m) m),
codebook AS (SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id < 16),
d AS (
  SELECT s.vec_id, s.m, c.cid,
         list_sum(list_transform(list_zip(s.sv, c.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM sub s JOIN codebook c ON s.m = c.m),
codes AS (
  SELECT vec_id AS neighbor_id, m, cid AS code FROM (
    SELECT vec_id, m, cid,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
    FROM d) t WHERE rn = 1),
lut AS (SELECT vec_id AS query_id, m, cid AS code, d2 AS qd2
        FROM d WHERE vec_id < 10),
q AS (SELECT vec_id AS query_id, v AS qv, norm AS qn FROM assigned WHERE vec_id < 10),
probe AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY floor((list_dot_product(q.qv, c.cv)/(q.qn*c.cn)) * 1000000.0 + 0.5)/1000000.0 DESC,
                      c.cell) AS r
    FROM q CROSS JOIN cents c) t WHERE r <= 4),
cands AS (
  SELECT p.query_id, n.vec_id AS neighbor_id
  FROM probe p JOIN assigned n ON n.cell = p.cell AND n.vec_id != p.query_id),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         floor(sum(l.qd2) * 1000000.0 + 0.5) / 1000000.0 AS approx_dist2
  FROM cands c
  JOIN codes k ON k.neighbor_id = c.neighbor_id
  JOIN lut l ON l.query_id = c.query_id AND l.m = k.m AND l.code = k.code
  GROUP BY 1, 2)
SELECT query_id, neighbor_id, approx_dist2,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY approx_dist2, neighbor_id) AS INT) AS rank
FROM scored QUALIFY rank <= 10""",
)
def embedding_ivf_pq_topk(spark, sf_dir):
    """IVF + PQ asymmetric-distance ANN search (the FAISS IVFPQ recipe
    as joins): nprobe cell pruning, candidates scored from subspace
    codes against a broadcast per-query lookup table — never touching
    candidate float vectors. See similarity.ivf_pq_topk."""
    from ..operators.similarity import ivf_pq_topk

    view = _view(spark, sf_dir)
    return ivf_pq_topk(view.tables["embeddings"])


def _matryoshka_oracle(prefix_dims=(8, 16, 32), k: int = 10, nq: int = 10) -> str:
    cos = ("floor((list_dot_product(a.{v}, b.{v}) / (a.{n} * b.{n})) "
           "* 1000000.0 + 0.5) / 1000000.0")
    parts = []
    for d in prefix_dims:
        parts.append(f"""
SELECT {d} AS prefix_dim, p.query_id,
       floor(sum(CASE WHEN f.fn IS NOT NULL THEN 1 ELSE 0 END) / {float(k)}
             * 1000000.0 + 0.5) / 1000000.0 AS recall_at_k
FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM p{d} a JOIN p{d} b ON a.vec_id != b.vec_id
  WHERE a.vec_id < {nq}
  QUALIFY row_number() OVER (PARTITION BY a.vec_id
    ORDER BY {cos.format(v='pv', n='pn')} DESC, b.vec_id) <= {k}) p
LEFT JOIN full_topk f ON f.fq = p.query_id AND f.fn = p.neighbor_id
GROUP BY p.query_id""")
    prefix_ctes = ",\n".join(
        f"""p{d} AS (
  SELECT vec_id, v[1:{d}] AS pv,
         sqrt(list_dot_product(v[1:{d}], v[1:{d}])) AS pn
  FROM v WHERE list_dot_product(v[1:{d}], v[1:{d}]) > 0)"""
        for d in prefix_dims
    )
    return f"""WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings),
full_topk AS (
  SELECT a.vec_id AS fq, b.vec_id AS fn
  FROM v a JOIN v b ON a.vec_id != b.vec_id
  WHERE a.vec_id < {nq}
  QUALIFY row_number() OVER (PARTITION BY a.vec_id
    ORDER BY {cos.format(v='v', n='norm')} DESC, b.vec_id) <= {k}),
{prefix_ctes}
SELECT * FROM ({" UNION ALL ".join(parts)})"""


@register(
    "vocab_coverage_curve",
    f"""WITH freq AS (
          SELECT w, count(*) AS c
          FROM (SELECT unnest({_TOKS_DUCK}) AS w FROM documents)
          GROUP BY w),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM freq),
        top AS (
          SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rnk
          FROM freq QUALIFY rnk <= 10000)
        SELECT n.n AS vocab_size,
               CAST(sum(CASE WHEN rnk <= n.n THEN c ELSE 0 END) AS BIGINT)
                 AS covered_tokens,
               floor(sum(CASE WHEN rnk <= n.n THEN c ELSE 0 END)
                     / CAST((SELECT t FROM tot) AS DOUBLE) * 1000000.0 + 0.5)
                 / 1000000.0 AS coverage
        FROM top CROSS JOIN (VALUES (100), (1000), (10000)) n(n)
        GROUP BY n.n""",
)
def vocab_coverage_curve(spark, sf_dir):
    """Top-N vocabulary token-mass coverage at N=100/1000/10000 — the
    vocab-size decision table; bounded TakeOrdered slice + one
    conditional aggregate. See text_analysis.vocab_coverage_curve."""
    from ..operators.text_analysis import vocab_coverage_curve as op

    view = _view(spark, sf_dir)
    return op(view.tables["documents"])


@register(
    "dedup_containment_pairs",
    f"""WITH toks AS (SELECT doc_id, {_TOKS_DUCK} AS t FROM documents),
        sh0 AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM toks),
        keep AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 50),
        sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b,
               floor((i * 1.0 / least(sa.n, sb.n)) * 1000000.0 + 0.5)
                 / 1000000.0 AS containment,
               floor((i * 1.0 / (sa.n + sb.n - i)) * 1000000.0 + 0.5)
                 / 1000000.0 AS jaccard
        FROM inter
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE floor((i * 1.0 / least(sa.n, sb.n)) * 1000000.0 + 0.5)
                / 1000000.0 >= 0.8""",
)
def dedup_containment_pairs(spark, sf_dir):
    """Asymmetric containment near-dups (|A∩B|/min — the excerpt/quote
    detector Jaccard misses), with the Jaccard carried per pair for
    comparison. Runs with the df(shingle) ≤ 50 cap ACTIVE (mirrored in
    the oracle), so the registered query exercises the scale path —
    see dedup.containment_pairs / partitioning.drop_hot_keys."""
    from ..operators.dedup import containment_pairs

    view = _view(spark, sf_dir)
    return containment_pairs(view.tables["documents"])


@register(
    "graph_assortativity",
    """WITH e AS (
         SELECT 'C' || c_custkey AS a, 'N' || c_nationkey AS b FROM customer
         UNION ALL
         SELECT 'S' || s_suppkey AS a, 'N' || s_nationkey AS b FROM supplier
         UNION ALL
         SELECT 'N' || n_nationkey AS a, 'R' || n_regionkey AS b FROM nation),
       und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
       deg AS (SELECT a AS node, count(*) AS deg FROM und GROUP BY 1),
       h AS (
         SELECT CAST(da.deg AS DOUBLE) AS da, CAST(db.deg AS DOUBLE) AS db
         FROM und
         JOIN deg da ON da.node = und.a
         JOIN deg db ON db.node = und.b)
       SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
              CASE WHEN var_pop(da) > 0 AND var_pop(db) > 0
                   THEN floor(covar_pop(da, db)
                              / sqrt(var_pop(da) * var_pop(db))
                              * 1000000.0 + 0.5) / 1000000.0 END
                AS assortativity
       FROM h""",
)
def graph_assortativity(spark, sf_dir):
    """Degree assortativity of the undirected FK graph — the "do hubs
    attach to hubs" one-number diagnostic (strongly negative for this
    hub-and-spoke schema) and a cheap skew screen.
    See graph_algos.degree_assortativity."""
    from ..operators.graph_algos import degree_assortativity

    view = _view(spark, sf_dir)
    cust = view.tables["customer"].select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
    )
    supp = view.tables["supplier"].select(
        F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
        F.concat(F.lit("N"), F.col("s_nationkey")).alias("dst"),
    )
    nat = view.tables["nation"].select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("src"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
    )
    return degree_assortativity(cust.unionByName(supp).unionByName(nat))


_TRI_EDGES_DUCK = """
  SELECT DISTINCT least('P' || l_partkey, 'S' || l_suppkey) AS u,
         greatest('P' || l_partkey, 'S' || l_suppkey) AS v
  FROM lineitem WHERE l_partkey % 50 = 0"""


@register(
    "graph_clustering_coefficients",
    f"""WITH base AS ({{tri_edges}}),
       und AS (SELECT u AS a, v AS b FROM base UNION SELECT v, u FROM base),
       deg AS (SELECT a AS node, count(*) AS degree FROM und GROUP BY 1),
       tri AS (
         SELECT e1.u AS x, e1.v AS y, e2.v AS z
         FROM base e1
         JOIN base e2 ON e2.u = e1.v
         JOIN base e3 ON e3.u = e1.u AND e3.v = e2.v),
       roles AS (
         SELECT x AS node FROM tri
         UNION ALL SELECT y FROM tri
         UNION ALL SELECT z FROM tri),
       tcounts AS (SELECT node, count(*) AS n_triangles FROM roles GROUP BY 1)
       SELECT d.node, d.degree,
              CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
              CASE WHEN d.degree >= 2
                   THEN floor(coalesce(t.n_triangles, 0)
                              / (d.degree * (d.degree - 1) / 2.0)
                              * 1000000.0 + 0.5) / 1000000.0
                   ELSE 0.0 END AS clustering_coef
       FROM deg d LEFT JOIN tcounts t USING (node)""".format(
        tri_edges=_TRI_EDGES_DUCK
    ),
)
def graph_clustering_coefficients(spark, sf_dir):
    """Per-node local clustering coefficient over the same part-supplier
    co-occurrence graph the triangle counter uses — community-structure
    probe composing the hub-safe wedge join with the degree table.
    See graph_algos.clustering_coefficients."""
    from ..operators.graph_algos import clustering_coefficients

    view = _view(spark, sf_dir)
    li = view.tables["lineitem"].filter(F.col("l_partkey") % 50 == 0)
    edges = li.select(
        F.least(
            F.concat(F.lit("P"), F.col("l_partkey")),
            F.concat(F.lit("S"), F.col("l_suppkey")),
        ).alias("src"),
        F.greatest(
            F.concat(F.lit("P"), F.col("l_partkey")),
            F.concat(F.lit("S"), F.col("l_suppkey")),
        ).alias("dst"),
    ).distinct()
    return clustering_coefficients(edges)


@register(
    "events_active_user_curves",
    """WITH d AS (
         SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
       real_days AS (SELECT DISTINCT day FROM d),
       fan AS (
         SELECT d.u, d.day, r.day AS obs_day
         FROM d JOIN real_days r
           ON r.day BETWEEN d.day AND d.day + INTERVAL 27 DAY)
       SELECT obs_day AS day,
              count(DISTINCT CASE WHEN obs_day = day THEN u END) AS dau,
              count(DISTINCT CASE WHEN obs_day < day + INTERVAL 7 DAY THEN u END) AS wau,
              count(DISTINCT u) AS mau
       FROM fan GROUP BY obs_day""",
)
def events_active_user_curves(spark, sf_dir):
    """Exact DAU/WAU/MAU per day via the contribute-forward fan-out (a
    bounded 28x map-side explode + one aggregate per day — no range
    self-join, no window). See windows.active_user_curves."""
    from ..operators.windows import active_user_curves

    view = _view(spark, sf_dir)
    return active_user_curves(view.tables["events"])


@register(
    "brand_price_qty_regression",
    """WITH b AS (
         SELECT p_brand,
                ln(l_extendedprice / l_quantity) AS x,
                ln(l_quantity) AS y
         FROM lineitem JOIN part ON l_partkey = p_partkey)
       SELECT p_brand, count(*) AS n_points,
              CASE WHEN count(*) >= 3 AND var_pop(x) > 0
                   THEN floor(covar_pop(x, y) / var_pop(x) * 1000000.0 + 0.5)
                        / 1000000.0 END AS slope,
              CASE WHEN count(*) >= 3 AND var_pop(x) > 0
                   THEN floor((avg(y) - covar_pop(x, y) / var_pop(x) * avg(x))
                              * 1000000.0 + 0.5) / 1000000.0 END AS intercept,
              CASE WHEN count(*) >= 3 AND var_pop(x) > 0 AND var_pop(y) > 0
                   THEN floor(covar_pop(x, y) / sqrt(var_pop(x) * var_pop(y))
                              * 1000000.0 + 0.5) / 1000000.0 END AS pearson_r
       FROM b GROUP BY p_brand""",
)
def brand_price_qty_regression(spark, sf_dir):
    """Per-brand log-log price/quantity least squares (the grouped
    elasticity shape): one map-side-combined aggregation pass, NULL fits
    for degenerate groups instead of ANSI division errors.
    See analytics.grouped_linear_regression."""
    from ..operators.analytics import grouped_linear_regression

    view = _view(spark, sf_dir)
    li = view.tables["lineitem"].join(
        view.tables["part"],
        view.tables["lineitem"]["l_partkey"] == view.tables["part"]["p_partkey"],
    )
    return grouped_linear_regression(
        li,
        "p_brand",
        F.log(F.col("l_extendedprice") / F.col("l_quantity")),
        F.log(F.col("l_quantity")),
    )


@register(
    "embedding_cluster_purity",
    """WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cv, norm AS cn FROM v WHERE vec_id < 16),
assigned AS (
  SELECT vec_id, label, cell FROM (
    SELECT a.vec_id, a.label, c.cell,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY floor((list_dot_product(a.v, c.cv)/(a.norm*c.cn)) * 1000000.0 + 0.5)/1000000.0 DESC,
                      c.cell) AS r
    FROM v a CROSS JOIN cents c) t WHERE r = 1),
cl AS (SELECT cell, label, count(*) AS n FROM assigned GROUP BY 1, 2),
tot AS (SELECT cell, CAST(sum(n) AS BIGINT) AS n_vecs FROM cl GROUP BY 1),
best AS (
  SELECT cell, label AS dominant_label, n AS n_dominant
  FROM cl QUALIFY row_number() OVER (
    PARTITION BY cell ORDER BY n DESC, label) = 1)
SELECT t.cell, t.n_vecs, b.dominant_label, b.n_dominant,
       floor(b.n_dominant / CAST(t.n_vecs AS DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS purity
FROM tot t JOIN best b USING (cell)""",
)
def embedding_cluster_purity(spark, sf_dir):
    """Cluster-vs-label purity per IVF cell (dominant label + share) —
    does the embedding space separate the classes before training.
    See similarity.cluster_label_purity."""
    from ..operators.similarity import cluster_label_purity

    view = _view(spark, sf_dir)
    return cluster_label_purity(view.tables["embeddings"])


def _walk_corpus_oracle(steps: int = 4, n_walks: int = 1) -> str:
    walk_id = (
        "'N' || n_nationkey"
        if n_walks == 1
        else "'N' || n_nationkey || '#' || w"
    )
    ctes = [f"""e AS (
  SELECT 'C' || c_custkey AS a, 'N' || c_nationkey AS b FROM customer
  UNION ALL
  SELECT 'S' || s_suppkey AS a, 'N' || s_nationkey AS b FROM supplier
  UNION ALL
  SELECT 'N' || n_nationkey AS a, 'R' || n_regionkey AS b FROM nation),
und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
ws AS (SELECT unnest(range(0, {n_walks})) AS w),
w0 AS (
  SELECT {walk_id} AS walk_id, w, 'N' || n_nationkey AS cur,
         'N' || n_nationkey AS path, 1 AS n_nodes
  FROM nation CROSS JOIN ws)"""]
    for t in range(1, steps + 1):
        ctes.append(f"""p{t} AS (
  SELECT a, w, arg_min(b, md5(a || '|' || b || '|' || {t} || '|' || w)) AS b
  FROM und CROSS JOIN ws GROUP BY a, w),
w{t} AS (
  SELECT w.walk_id, w.w, coalesce(p.b, w.cur) AS cur,
         CASE WHEN p.b IS NOT NULL THEN w.path || ' ' || p.b
              ELSE w.path END AS path,
         w.n_nodes + CASE WHEN p.b IS NOT NULL THEN 1 ELSE 0 END AS n_nodes
  FROM w{t - 1} w LEFT JOIN p{t} p ON p.a = w.cur AND p.w = w.w)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT walk_id, path, n_nodes FROM w{steps}"
    )


@register("graph_walk_corpus", _walk_corpus_oracle())
def graph_walk_corpus(spark, sf_dir):
    """DeepWalk-style walk-corpus generation over the FK graph with
    md5-derandomized neighbor choices (reproducible across engines /
    partitionings); one frontier join + per-walk min-aggregate per hop,
    walks from every nation node. See graph_algos.walk_corpus."""
    from ..operators.graph_algos import walk_corpus

    view = _view(spark, sf_dir)
    cust = view.tables["customer"].select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
    )
    supp = view.tables["supplier"].select(
        F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
        F.concat(F.lit("N"), F.col("s_nationkey")).alias("dst"),
    )
    nat = view.tables["nation"].select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("src"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
    )
    seeds = view.tables["nation"].select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("node")
    )
    return walk_corpus(cust.unionByName(supp).unionByName(nat), seeds, steps=4)


@register("graph_walk_corpus_multi", _walk_corpus_oracle(n_walks=3))
def graph_walk_corpus_multi(spark, sf_dir):
    """Multi-walk corpus (VERDICT r05 #3): 3 walks per seed, the md5
    choice keyed by the walk index so repeated samples diverge — the
    actual skip-gram training corpus shape (production uses 10–80
    walks/node; 3 keeps the oracle recurrence tractable). See
    graph_algos.walk_corpus."""
    from ..operators.graph_algos import walk_corpus

    view = _view(spark, sf_dir)
    cust = view.tables["customer"].select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
    )
    supp = view.tables["supplier"].select(
        F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
        F.concat(F.lit("N"), F.col("s_nationkey")).alias("dst"),
    )
    nat = view.tables["nation"].select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("src"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
    )
    seeds = view.tables["nation"].select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("node")
    )
    return walk_corpus(
        cust.unionByName(supp).unionByName(nat), seeds, steps=4, n_walks=3
    )


def _pca_power_oracle(iterations: int = 3, dim: int = 64) -> str:
    ctes = [f"""e AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
  FROM embeddings),
v0 AS (SELECT list_transform(range(0, {dim}), j -> {1.0 / dim ** 0.5!r}) AS v)"""]
    for i in range(1, iterations + 1):
        ctes.append(f"""s{i} AS (
  SELECT ed, list_dot_product(ed, (SELECT v FROM v{i - 1})) AS s FROM e),
m{i} AS (
  SELECT j, sum(x * s) AS m FROM (
    SELECT generate_subscripts(ed, 1) - 1 AS j, unnest(ed) AS x, s FROM s{i})
  GROUP BY j),
n{i} AS (SELECT sqrt(sum(m * m)) AS nn FROM m{i}),
v{i} AS (
  SELECT list(floor(m / (SELECT nn FROM n{i}) * 1000000.0 + 0.5) / 1000000.0
              ORDER BY j) AS v
  FROM m{i})""")
    t = iterations
    return f"""WITH {",".join(ctes)},
fin AS (SELECT ed, list_dot_product(ed, (SELECT v FROM v{t})) AS s FROM e),
sh AS (
  SELECT floor(sum(s * s) / sum(list_dot_product(ed, ed)) * 1000000.0 + 0.5)
           / 1000000.0 AS share
  FROM fin)
SELECT generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS loading,
       (SELECT share FROM sh) AS explained_share
FROM v{t}"""


@register("embedding_pca_power_iteration", _pca_power_oracle())
def embedding_pca_power_iteration(spark, sf_dir):
    """Top principal direction by 3 power iterations (uncentered), the
    per-iteration direction rounded to 6 decimals so both engines
    iterate on identical literals; plus the explained-variance share
    under the final direction. See similarity.pca_power_iteration."""
    from ..operators.similarity import pca_power_iteration

    view = _view(spark, sf_dir)
    return pca_power_iteration(view.tables["embeddings"])


@register("embedding_matryoshka_audit", _matryoshka_oracle())
def embedding_matryoshka_audit(spark, sf_dir):
    """Matryoshka/prefix-dimension retrieval audit: recall@10 of search
    over the first 8/16/32 coordinates vs the full-dimension exact
    top-10, per query — the adaptive-dimension retrieval trade table.
    See similarity.matryoshka_prefix_audit."""
    from ..operators.similarity import matryoshka_prefix_audit

    view = _view(spark, sf_dir)
    return matryoshka_prefix_audit(view.tables["embeddings"])


@register(
    "user_sequence_anomaly",
    """WITH seq AS (
         SELECT user_id, event_type AS from_type,
                lead(event_type) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS to_type
         FROM events),
       trans AS (SELECT * FROM seq WHERE to_type IS NOT NULL),
       counts AS (
         SELECT from_type, to_type, count(*) AS n
         FROM trans GROUP BY 1, 2),
       tot AS (SELECT from_type, sum(n) AS t FROM counts GROUP BY 1),
       probs AS (
         SELECT from_type, to_type,
                floor(n / CAST(t AS DOUBLE) * 10000000000.0 + 0.5)
                  / 10000000000.0 AS prob
         FROM counts JOIN tot USING (from_type))
       SELECT user_id, count(*) AS n_transitions,
              floor(avg(ln(prob)) * 10000.0 + 0.5) / 10000.0 AS mean_logprob,
              floor(min(prob) * 1000000.0 + 0.5) / 1000000.0
                AS min_transition_prob
       FROM trans JOIN probs USING (from_type, to_type)
       GROUP BY user_id""",
)
def user_sequence_anomaly(spark, sf_dir):
    """Per-user Markov sequence-likelihood anomaly score: mean
    transition log-likelihood under the corpus' own transition matrix +
    the rarest transition probability — flags unusual behavior ORDER
    even when individual events look normal.
    See windows.sequence_anomaly_scores."""
    from ..operators.windows import sequence_anomaly_scores

    view = _view(spark, sf_dir)
    return sequence_anomaly_scores(view.tables["events"])


@register(
    "data_quality_checks",
    """SELECT 'orders' AS table_name, 'o_custkey_in_customer' AS rule,
              count(*) AS n_rows,
              CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_violations,
              floor((count(*) - sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END))
                    / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
                AS pass_rate
       FROM orders LEFT JOIN customer ON o_custkey = c_custkey
       UNION ALL
       SELECT 'lineitem', 'l_orderkey_in_orders', count(*),
              CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
              floor((count(*) - sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END))
                    / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
       FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
       UNION ALL
       SELECT 'lineitem', 'l_quantity_in_1_50', count(*),
              CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT),
              floor((count(*) - sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END))
                    / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
       FROM lineitem
       UNION ALL
       SELECT 'events', 'value_non_negative', count(*),
              CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT),
              floor((count(*) - sum(CASE WHEN value < 0 THEN 1 ELSE 0 END))
                    / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
       FROM events
       UNION ALL
       SELECT 'documents', 'text_non_empty', count(*),
              CAST(sum(CASE WHEN coalesce(length(text), 0) = 0 THEN 1 ELSE 0 END) AS BIGINT),
              floor((count(*) - sum(CASE WHEN coalesce(length(text), 0) = 0 THEN 1 ELSE 0 END))
                    / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
       FROM documents
       UNION ALL
       SELECT 'customer', 'c_custkey_unique', count(*),
              CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT),
              floor((count(*) - sum(CASE WHEN c > 1 THEN 1 ELSE 0 END))
                    / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
       FROM (SELECT c_custkey, count(*) AS c FROM customer GROUP BY 1)""",
)
def data_quality_checks(spark, sf_dir):
    """Expectation-suite audit: referential integrity (FK left-join null
    probes on key-only projections), domain ranges, and key uniqueness —
    one (table, rule, n_rows, n_violations, pass_rate) row per rule.
    See profiling.data_quality_checks."""
    from ..operators.profiling import data_quality_checks as op

    return op(_view(spark, sf_dir))


@register(
    "streaming_cusum_drift",
    """WITH daily AS (
         SELECT CAST(event_type AS VARCHAR) AS key, CAST(ts AS DATE) AS day,
                count(*) AS x
         FROM events GROUP BY 1, 2),
       stats AS (
         SELECT key, avg(x) AS m, stddev_pop(x) AS sd, count(*) AS n_days,
                CAST(sum(x) AS BIGINT) AS n_events
         FROM daily GROUP BY 1),
       cum AS (
         SELECT d.key, d.day, s.n_days, s.n_events, s.sd,
                sum(d.x - s.m) OVER (PARTITION BY d.key ORDER BY d.day) AS cs
         FROM daily d JOIN stats s USING (key)),
       peak AS (
         SELECT key, day AS peak_day
         FROM cum
         QUALIFY row_number() OVER (
           PARTITION BY key ORDER BY abs(cs) DESC, day DESC) = 1)
       SELECT c.key, c.n_events, c.n_days,
              floor(max(abs(c.cs)) * 10000.0 + 0.5) / 10000.0 AS max_cusum,
              strftime(any_value(p.peak_day), '%Y-%m-%d') AS peak_day,
              CASE WHEN any_value(c.sd) > 0
                   THEN floor(max(abs(c.cs)) / (any_value(c.sd) * sqrt(c.n_days))
                              * 10000.0 + 0.5) / 10000.0
                   END AS drift_stat
       FROM cum c JOIN peak p USING (key)
       GROUP BY c.key, c.n_days, c.n_events""",
)
def streaming_cusum_drift(spark, sf_dir):
    """Streaming CUSUM drift monitor (applyInPandasWithState): per-key
    day→count map state accumulates commutatively, so the final emission
    equals the batch CUSUM under any micro-batch schedule — the
    streaming twin of ``events_cusum_drift``.
    See streaming/stateful.streaming_cusum_monitor."""
    from pyspark.sql import Window

    from ..streaming.events import run_stream_to_memory
    from ..streaming.stateful import streaming_cusum_monitor as op

    stream = _replayed_events_stream(spark, sf_dir, max_files_per_trigger=1)
    _STREAM_SEQ[0] += 1
    got = run_stream_to_memory(
        op(stream), f"q_stream_cusum_{_STREAM_SEQ[0]}", output_mode="update",
        state_partitions=8,
    )
    w = Window.partitionBy("key").orderBy(F.desc("n_events"))
    return (
        got.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("key", "n_events", "n_days", "max_cusum", "peak_day", "drift_stat")
    )


@register(
    "copurchase_recommendations",
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       purch AS (
         SELECT DISTINCT o_custkey AS c, l_partkey AS p
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       pairs AS (
         SELECT a.p AS p1, b.p AS p2, count(*) AS n_co
         FROM li a JOIN li b ON a.o = b.o AND a.p != b.p
         GROUP BY 1, 2 HAVING count(*) >= 2),
       cand AS (
         SELECT pu.c, pr.p2 AS rec_part, count(*) AS common_items
         FROM purch pu JOIN pairs pr ON pu.p = pr.p1
         GROUP BY 1, 2),
       fresh AS (
         SELECT cd.c, cd.rec_part, cd.common_items
         FROM cand cd
         LEFT JOIN purch x ON x.c = cd.c AND x.p = cd.rec_part
         WHERE x.p IS NULL)
       SELECT c AS custkey, rec_part, common_items,
              CAST(row_number() OVER (
                PARTITION BY c ORDER BY common_items DESC, rec_part) AS INT) AS rnk
       FROM fresh QUALIFY rnk <= 3""",
)
def copurchase_recommendations(spark, sf_dir):
    """Item-based collaborative filtering: top-3 not-yet-bought parts
    per customer scored by co-purchase common-neighbor count — the
    candidate-generation stage of a recommender, joins over the bounded
    basket-pair table. See analytics.copurchase_recommendations."""
    from ..operators.analytics import copurchase_recommendations as op

    return op(_view(spark, sf_dir))


@register(
    "events_markov_transitions",
    """WITH seq AS (
         SELECT event_type AS from_type,
                lead(event_type) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS to_type
         FROM events),
       counts AS (
         SELECT from_type, to_type, count(*) AS n
         FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
       tot AS (SELECT from_type, sum(n) AS t FROM counts GROUP BY 1)
       SELECT from_type, to_type, n,
              floor(n / CAST(t AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS prob
       FROM counts JOIN tot USING (from_type)""",
)
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams
    (lead window partitioned by user, (ts, event_id) tie-break) — the
    behavioral-sequence baseline. See windows.markov_transitions."""
    from ..operators.windows import markov_transitions

    view = _view(spark, sf_dir)
    return markov_transitions(view.tables["events"])


@register(
    "events_first_touch_attribution",
    """WITH a AS (
         SELECT user_id, event_type,
                first_value(CASE WHEN event_type != 'purchase'
                                 THEN event_type END IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft
         FROM events),
       conv AS (
         SELECT coalesce(ft, '(none)') AS channel
         FROM a WHERE event_type = 'purchase'),
       counts AS (SELECT channel, count(*) AS n_conversions FROM conv GROUP BY 1),
       tot AS (SELECT sum(n_conversions) AS t FROM counts)
       SELECT channel, n_conversions,
              floor(n_conversions / CAST(t AS DOUBLE) * 1000000.0 + 0.5)
                / 1000000.0 AS share
       FROM counts CROSS JOIN tot""",
)
def events_first_touch_attribution(spark, sf_dir):
    """First-touch conversion attribution: each purchase credited to the
    user's earliest prior non-purchase channel via a prefix-frame
    running first — no self-join against the event history.
    See windows.first_touch_attribution."""
    from ..operators.windows import first_touch_attribution

    view = _view(spark, sf_dir)
    return first_touch_attribution(view.tables["events"])


def _bpe_train_oracle(rounds: int = 3) -> str:
    def round_cte(r):
        return f"""
l{r} AS (SELECT c, string_split(s, chr(31)) AS l FROM s{r - 1}),
p{r} AS (SELECT lsym, rsym, sum(c) AS cnt FROM (
           SELECT c, l[i] AS lsym, l[i+1] AS rsym
           FROM (SELECT c, l, unnest(range(1, len(l))) AS i FROM l{r} WHERE len(l) >= 2))
         GROUP BY 1, 2),
b{r} AS (SELECT lsym, rsym, cnt FROM p{r} ORDER BY cnt DESC, lsym, rsym LIMIT 1),
s{r} AS (SELECT c, list_reduce(l, (acc, x) -> CASE
            WHEN (acc = b.lsym OR right(acc, length(b.lsym) + 1) = chr(31) || b.lsym)
                 AND x = b.rsym
            THEN acc || x ELSE acc || chr(31) || x END) AS s
         FROM l{r} CROSS JOIN b{r} b)"""

    finals = "\n  UNION ALL ".join(
        f"SELECT {r} AS round, lsym, rsym, lsym || rsym AS merged, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return f"""WITH words AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest({_TOKS_DUCK}) AS w FROM documents) GROUP BY w),
s0 AS (SELECT c, array_to_string(
         list_transform(range(1, length(w) + 1), i -> w[i]), chr(31)) AS s
       FROM words),{",".join(round_cte(r) for r in range(1, rounds + 1))}
SELECT * FROM ({finals})"""


@register("bpe_train_merges", _bpe_train_oracle(3))
def bpe_train_merges(spark, sf_dir):
    """TRUE sequential BPE training (3 rounds): each round re-counts
    adjacent symbol pairs AFTER the previous merge applied, so later
    merges can contain earlier merged symbols — the real tokenizer-
    induction recurrence, state = word vocabulary, merge application a
    separator-string fold in codegen. The oracle unrolls the identical
    recurrence with DuckDB list_reduce.
    See text_analysis.bpe_train_merges."""
    from ..operators.text_analysis import bpe_train_merges as op

    view = _view(spark, sf_dir)
    return op(view.tables["documents"], rounds=3)


@register(
    "graph_closeness_sampled",
    """WITH e AS (
         SELECT 'C' || c_custkey AS a, 'N' || c_nationkey AS b FROM customer
         UNION ALL
         SELECT 'S' || s_suppkey AS a, 'N' || s_nationkey AS b FROM supplier
         UNION ALL
         SELECT 'N' || n_nationkey AS a, 'R' || n_regionkey AS b FROM nation),
       und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
       seeds AS (SELECT DISTINCT 'N' || n_nationkey AS node FROM nation),
       reach AS (
         WITH RECURSIVE r(seed, node, dist) AS (
           SELECT node, node, 0 FROM seeds
           UNION
           SELECT r.seed, u.b, r.dist + 1 FROM r JOIN und u ON u.a = r.node
           WHERE r.dist < 4)
         SELECT seed, node, min(dist) AS dist FROM r GROUP BY 1, 2)
       SELECT seed, count(*) - 1 AS n_reached,
              CAST(sum(dist) AS BIGINT) AS sum_dist,
              floor(CASE WHEN sum(dist) > 0
                         THEN (count(*) - 1) / CAST(sum(dist) AS DOUBLE)
                         ELSE 0.0 END * 1000000.0 + 0.5) / 1000000.0 AS closeness
       FROM reach GROUP BY seed""",
)
def graph_closeness_sampled(spark, sf_dir):
    """Bounded-hop closeness centrality from the nation seed set over
    the undirected customer/supplier/nation/region FK graph — the
    landmark scheme for at-scale centrality (exact all-pairs is O(V·E)).
    Recursive-CTE oracle. See graph_algos.closeness_sampled."""
    from ..operators.graph_algos import closeness_sampled

    view = _view(spark, sf_dir)
    cust = view.tables["customer"].select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
    )
    supp = view.tables["supplier"].select(
        F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
        F.concat(F.lit("N"), F.col("s_nationkey")).alias("dst"),
    )
    nat = view.tables["nation"].select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("src"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
    )
    seeds = view.tables["nation"].select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("node")
    )
    return closeness_sampled(
        cust.unionByName(supp).unionByName(nat), seeds, max_hops=4
    )
