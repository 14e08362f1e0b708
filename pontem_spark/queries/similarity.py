"""Similarity-search queries over `embeddings` — exact brute-force top-k and
the LSH-bucketed approximate variant, both oracle-checked (the LSH
hyperplanes are md5-derived, so even the approximate path is deterministic
across engines)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pontem_spark.functions.compat import rnd
from pontem_spark.operators import similarity as S
from pontem_spark.queries.oracle_fragments import HIER_COS as _HIER_COS
from pontem_spark.queries.oracle_fragments import kmeans_centroids_cte as _kmeans_centroids_cte
from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table

_N_QUERIES = 10  # vec_id < 10 are the query set
_K = 5
_COS_SQL = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))) / "
    "(sqrt(list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)))) * "
    "sqrt(list_sum(list_transform(generate_series(1, len({b})), "
    "i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))))"
)


@register(
    "q_ann_brute_force_topk",
    oracle=f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND({_COS_SQL.format(a='q.embedding', b='c.embedding')}, 6) AS cos_sim
        FROM embeddings q JOIN embeddings c ON q.vec_id < {_N_QUERIES} AND c.vec_id != q.vec_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {_K}
    """,
    tags=("similarity", "ann", "topk"),
)
def q_ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors: broadcast queries, one corpus
    scan, per-query window rank. Linear in corpus size at any scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return S.brute_force_topk(emb, queries, k=_K, dim=64)


from pontem_spark.queries.oracle_fragments import lsh_sig_sql  # shared, no registrations


def _lsh_oracle(n_planes: int = 4, dim: int = 64) -> str:
    def sig(vec: str) -> str:
        return lsh_sig_sql(vec, n_planes, dim)

    return f"""
    WITH b AS (
        SELECT vec_id, embedding, {sig('embedding')} AS bucket FROM embeddings
    ), cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND({_COS_SQL.format(a='q.embedding', b='c.embedding')}, 6) AS cos_sim
        FROM b q JOIN b c ON q.bucket = c.bucket
        WHERE q.vec_id < {_N_QUERIES} AND c.vec_id != q.vec_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        FROM cand
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {_K}
    """


@register(
    "q_ann_lsh_topk",
    oracle=_lsh_oracle(4, 64),
    tags=("similarity", "ann", "lsh"),
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH buckets: a query scores
    only its own bucket (~corpus/16 here) — the equi-join-on-bucket shape
    that scales sub-linearly. Deterministic hyperplanes → oracle-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return S.lsh_bucket_topk(emb, queries, k=_K, n_planes=4, dim=64)


@register(
    "q_embedding_label_stats",
    oracle="""
    SELECT label,
           COUNT(*) AS n_vectors,
           ROUND(AVG(sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
                 i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))), 4) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
    tags=("similarity", "agg", "vector"),
)
def q_embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector counts and mean L2 norm — array math fully JVM-side."""
    from pontem_spark.functions import vector as V

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        rnd(F.avg(V.norm("embedding")), 4).alias("avg_norm"),
    )


def _ivf_oracle(dim: int = 64, n_probe: int = 3, cdigits: int = 6) -> str:
    cos = (
        "(list_sum(list_transform(generate_series(1, {d}), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))) / "
        "(sqrt(list_sum(list_transform(generate_series(1, {d}), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)))) * "
        "sqrt(list_sum(list_transform(generate_series(1, {d}), i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))))"
    )
    qc = cos.format(a="e.embedding", b="c.centroid", d=dim)
    nc = cos.format(a="q.embedding", b="c.embedding", d=dim)
    return f"""
    WITH cent_parts AS (
        SELECT label, i, ROUND(avg(CAST(embedding[i] AS DOUBLE)), {cdigits}) AS m
        FROM embeddings, generate_series(1, {dim}) AS t(i)
        GROUP BY label, i
    ), centroids AS (
        SELECT label AS centroid_id, list(m ORDER BY i) AS centroid
        FROM cent_parts GROUP BY label
    ), corpus_cells AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY ROUND({qc}, {cdigits}) DESC, c.centroid_id) AS r
            FROM embeddings e CROSS JOIN centroids c
        ) WHERE r <= 1
    ), query_cells AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY ROUND({qc}, {cdigits}) DESC, c.centroid_id) AS r
            FROM embeddings e CROSS JOIN centroids c
            WHERE e.vec_id < {_N_QUERIES}
        ) WHERE r <= {n_probe}
    ), cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND({nc}, 6) AS cos_sim
        FROM query_cells q JOIN corpus_cells c ON q.centroid_id = c.centroid_id
        WHERE c.vec_id != q.vec_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        FROM cand
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {_K}
    """


@register(
    "q_ann_ivf_topk",
    oracle=_ivf_oracle(64, 3),
    tags=("similarity", "ann", "ivf"),
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: per-label mean centroids (broadcast), map-side cell
    assignment, probe = equi-join on cell id — |corpus|*n_probe/K scored
    per query instead of |corpus|. Deterministic (rounded centroids) →
    the entire two-stage index is oracle-checked."""
    from pontem_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return ivf_topk(emb, queries, k=_K, dim=64, n_probe=3)


@register(
    "q_embedding_quantize",
    oracle="""
    -- norm via list_reduce: a strict LEFT fold, the same summation order as
    -- Spark's aggregate() HOF, so the double is bit-identical (list_sum may
    -- sum pairwise and drift 1 ulp). recon terms are floored onto a 1e-9
    -- integer grid so THAT sum is order-exact on both engines.
    WITH n AS (
        SELECT vec_id, embedding,
               sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (a, x) -> a + x)) AS nrm
        FROM embeddings
    )
    SELECT vec_id,
           ROUND(nrm, 4) AS l2_norm,
           ROUND(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))), 4) AS max_abs,
           CAST(list_sum(list_transform(embedding,
                 x -> floor(CAST(x AS DOUBLE) / nrm * 127 + 0.5))) AS BIGINT) AS q_checksum,
           ROUND(list_sum(list_transform(embedding,
                 x -> floor(abs(CAST(x AS DOUBLE) / nrm
                                - floor(CAST(x AS DOUBLE) / nrm * 127 + 0.5) / 127.0)
                            * 1000000000.0)))
                 / 1000000000.0 / len(embedding), 5) AS recon_err
    FROM n
    """,
    tags=("embeddings", "quantization", "curation"),
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize + int8-quantize every embedding, reporting norm, max
    component, integer quantization checksum (exact cross-engine match) and
    mean reconstruction error. Pure per-row array folds — zero shuffles."""
    from pontem_spark.operators.curation import normalize_quantize

    emb = load_table(spark, sf_dir, "embeddings")
    return normalize_quantize(emb, "vec_id", "embedding", levels=127)


def _ivf_hier_oracle(
    m: int = 16,
    dim: int = 64,
    n_probe: int = 3,
    k: int = 5,
    n_queries: int = 10,
    n_probe_groups: int = 1,
    centroids_cte: str | None = None,
) -> str:
    """DuckDB twin of ivf_topk_hier: same composite cell key, same
    (first-component, id)-ordered chunking into ceil(sqrt(K)) groups, same
    two-stage argmin with (-sim, id) tie-breaks. ``n_probe_groups`` mirrors
    the multi-group probe: query vectors rank cells over the UNION of their
    g nearest groups' members (corpus vectors always stay single-group).
    ``centroids_cte`` swaps the centroid source: CTE text that must end
    with a CTE named ``centroids(centroid_id, centroid)`` (default: the
    composite-label mean build)."""
    vg_cos = _HIER_COS.format(a="e.embedding", b="g.gcentroid", d=dim)
    cc_cos = _HIER_COS.format(a="v.embedding", b="c.centroid", d=dim)
    nn_cos = _HIER_COS.format(a="q.embedding", b="c.embedding", d=dim)
    if centroids_cte is None:
        centroids_cte = f"""cent_parts AS (
        SELECT label * {m} + (vec_id % {m}) AS centroid_id, i,
               ROUND(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
        FROM embeddings, generate_series(1, {dim}) AS t(i)
        GROUP BY 1, i
    ), centroids AS (
        SELECT centroid_id, list(m ORDER BY i) AS centroid FROM cent_parts GROUP BY 1
    )"""
    return f"""
    WITH {centroids_cte}, meta AS (
        SELECT COUNT(*) AS kk, CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS ng FROM centroids
    ), corder AS (
        SELECT centroid_id, centroid,
               ROW_NUMBER() OVER (ORDER BY centroid[1], centroid_id) - 1 AS rn
        FROM centroids
    ), cgrouped AS (
        SELECT centroid_id, centroid,
               CAST(rn // CAST(ceil(kk * 1.0 / ng) AS BIGINT) AS INTEGER) AS group_id
        FROM corder, meta
    ), gcent_parts AS (
        SELECT group_id, i, ROUND(avg(CAST(centroid[i] AS DOUBLE)), 6) AS m
        FROM cgrouped, generate_series(1, {dim}) AS t(i)
        GROUP BY 1, 2
    ), gcentroids AS (
        SELECT group_id, list(m ORDER BY i) AS gcentroid FROM gcent_parts GROUP BY 1
    ), vg AS (
        SELECT vec_id, embedding, group_id FROM (
            SELECT e.vec_id, e.embedding, g.group_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY ROUND({vg_cos}, 6) DESC, g.group_id) AS r
            FROM embeddings e CROSS JOIN gcentroids g
        ) WHERE r = 1
    ), corpus_cells AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT v.vec_id, v.embedding, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY ROUND({cc_cos}, 6) DESC, c.centroid_id) AS r
            FROM vg v JOIN cgrouped c ON c.group_id = v.group_id
        ) WHERE r <= 1
    ), vgq AS (
        SELECT vec_id, embedding, group_id FROM (
            SELECT e.vec_id, e.embedding, g.group_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY ROUND({vg_cos}, 6) DESC, g.group_id) AS r
            FROM embeddings e CROSS JOIN gcentroids g
            WHERE e.vec_id < {n_queries}
        ) WHERE r <= {n_probe_groups}
    ), query_cells AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT v.vec_id, v.embedding, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY ROUND({cc_cos}, 6) DESC, c.centroid_id) AS r
            FROM vgq v JOIN cgrouped c ON c.group_id = v.group_id
        ) WHERE r <= {n_probe}
    ), cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND({nn_cos}, 6) AS cos_sim
        FROM query_cells q JOIN corpus_cells c ON q.centroid_id = c.centroid_id
        WHERE c.vec_id != q.vec_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        FROM cand
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


@register(
    "q_ann_ivf_hier_topk",
    oracle=_ivf_hier_oracle(16, 64, 3, 5, 10),
    tags=("similarity", "ann", "ivf", "hierarchical"),
)
def q_ann_ivf_hier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical IVF ANN (the large-K production build): ~160 fine cells
    from a composite (label, vec_id%16) key, coarse sqrt(K) quantizer routes
    map-side, within-group argmin picks the cell — per-row assignment work
    O(sqrt(K)·dim), centroids carried as array literals (data, not plan), so
    the same code serves K in the tens of thousands. Fully oracle-checked,
    including the hierarchy's exact routing rule."""
    from pontem_spark.operators.ivf import ivf_topk_hier

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "cell_key", F.col("label") * 16 + F.col("vec_id") % 16
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk_hier(
        emb, queries, cell_key_col="cell_key", k=5, dim=64, n_probe=3
    )


@register(
    "q_ann_ivf_hier_g2_topk",
    oracle=_ivf_hier_oracle(16, 64, 3, 5, 10, n_probe_groups=2),
    tags=("similarity", "ann", "ivf", "hierarchical"),
)
def q_ann_ivf_hier_g2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical IVF ANN with the boundary-recall mitigation: queries
    take their 2 nearest coarse GROUPS, pool both groups' cells, and probe
    the n_probe nearest of the union — so a query on a group boundary also
    sees the adjacent group's cells (the single-group trade documented in
    ivf.py). The DuckDB oracle mirrors the exact two-stage rule."""
    from pontem_spark.operators.ivf import ivf_topk_hier

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "cell_key", F.col("label") * 16 + F.col("vec_id") % 16
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk_hier(
        emb, queries, cell_key_col="cell_key", k=5, dim=64, n_probe=3,
        n_probe_groups=2,
    )


@register(
    "q_ann_ivf_trained_topk",
    oracle=_ivf_hier_oracle(
        dim=64, n_probe=3, k=5, n_queries=10,
        centroids_cte=_kmeans_centroids_cte(k=24, pct=30, dim=64),
    ),
    tags=("similarity", "ann", "ivf", "kmeans"),
)
def q_ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with TRAINED centroids (VERDICT r04 #5): sampled Lloyd k-means
    (deterministic md5-bucket sample, smallest-id init, 2 iterations as
    DataFrame aggs) feeds the hierarchical assign/probe machinery — no
    label crutch anywhere. The oracle replays the identical training
    (unrolled to 2 iterations) and the identical two-stage probe, so the
    whole index build is hash-checked cross-engine."""
    from pontem_spark.operators.ivf import ivf_topk_hier, train_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_centroids(
        emb, "vec_id", "embedding", dim=64, k=24, sample_pct=30, iters=2
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk_hier(
        emb, queries, k=5, dim=64, n_probe=3, centroids=cents
    )


def _mmr_oracle(n_queries: int = 10, n_cand: int = 20, k: int = 5, dim: int = 64) -> str:

    qc = _HIER_COS.format(a="q.embedding", b="c.embedding", d=dim)
    ab = _HIER_COS.format(a="a.emb", b="b.emb", d=dim)
    ctes = [
        f"""cand0 AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.embedding AS emb,
               ROUND({qc}, 6) AS rel
        FROM embeddings q JOIN embeddings c
          ON q.vec_id < {n_queries} AND c.vec_id != q.vec_id
    )""",
        f"""cands AS (
        SELECT query_id, neighbor_id, emb, rel FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY rel DESC, neighbor_id) AS r
            FROM cand0
        ) WHERE r <= {n_cand}
    )""",
        f"""ps AS (
        SELECT a.query_id, a.neighbor_id AS c1, b.neighbor_id AS c2,
               ROUND({ab}, 6) AS s
        FROM cands a JOIN cands b
          ON a.query_id = b.query_id AND a.neighbor_id != b.neighbor_id
    )""",
        """sel1 AS (
        SELECT query_id, neighbor_id, rel AS score, 1 AS mmr_rank FROM (
            SELECT query_id, neighbor_id, rel,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY rel DESC, neighbor_id) AS r
            FROM cands
        ) WHERE r = 1
    )""",
        "selall1 AS (SELECT * FROM sel1)",
    ]
    for i in range(2, k + 1):
        prev = f"selall{i - 1}"
        ctes.append(
            f"""sel{i} AS (
        SELECT query_id, neighbor_id, score, {i} AS mmr_rank FROM (
            SELECT query_id, neighbor_id, score,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id) AS r
            FROM (
                SELECT c.query_id, c.neighbor_id,
                       CAST(0.7 AS DOUBLE) * MAX(c.rel)
                       - CAST(0.3 AS DOUBLE) * MAX(p.s) AS score
                FROM cands c
                JOIN ps p ON p.query_id = c.query_id AND p.c1 = c.neighbor_id
                JOIN {prev} sp ON sp.query_id = p.query_id AND sp.neighbor_id = p.c2
                WHERE NOT EXISTS (SELECT 1 FROM {prev} sx
                                  WHERE sx.query_id = c.query_id
                                    AND sx.neighbor_id = c.neighbor_id)
                GROUP BY 1, 2
            )
        ) WHERE r = 1
    )"""
        )
        ctes.append(
            f"selall{i} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM sel{i})"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT query_id, neighbor_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
           ROUND(score, 6) AS score
    FROM selall{k}
    """
    )


@register(
    "q_ann_mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("similarity", "ann", "mmr", "rerank"),
)
def q_ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking: exact top-20 candidates per query
    (distributed scan), then the greedy lam=0.7 selection down to 5 inside
    one Arrow-batched applyInPandas per query group — the sequential part
    is bounded by the candidate set, never the corpus. The oracle unrolls
    all five greedy iterations in SQL (cumulative-selection CTEs), so the
    hash check proves the entire iterative selection, tie-breaks included,
    is engine-portable (operators/similarity.py::mmr_rerank)."""
    from pontem_spark.operators.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return mmr_rerank(emb, queries, n_candidates=20, k=5, dim=64)


@register(
    "q_embedding_dim_profile",
    oracle="""
    WITH x AS (
      SELECT CAST(u.i - 1 AS INTEGER) AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
      FROM embeddings,
      LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(v) / COUNT(*), 4) AS mean,
           ROUND(sqrt(GREATEST((SUM(v * v) - SUM(v) * SUM(v) / COUNT(*))
                               / (COUNT(*) - 1), CAST(0 AS DOUBLE))), 4) AS sd,
           ROUND(MIN(v), 4) AS lo,
           ROUND(MAX(v), 4) AS hi
    FROM x GROUP BY dim
    """,
    tags=("profile", "embedding", "vector"),
)
def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QA profile: posexplode + map-side-combined
    groupBy(pos), so the shuffle carries ~dims×partitions partial rows,
    never rows×dims; stddev from (n, Σx, Σx²) mirrored term-for-term in
    the oracle (operators/profile.py::embedding_dimension_profile)."""
    from pontem_spark.operators.profile import embedding_dimension_profile

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dimension_profile(emb, "embedding")


@register(
    "q_ann_filtered_topk",
    oracle=f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND({_COS_SQL.format(a='q.embedding', b='c.embedding')}, 6) AS cos_sim
        FROM embeddings q
        JOIN embeddings c
          ON q.vec_id < 10 AND c.vec_id != q.vec_id AND c.label IN (0, 1)
    ), ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
    tags=("similarity", "ann", "filtered", "topk"),
)
def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the production ANN shape almost every
    retrieval system needs (metadata predicate AND nearest-neighbor): the
    label predicate is applied to the corpus BEFORE pair scoring, so it
    reaches the parquet scan as a pushed filter and the similarity work is
    proportional to the filtered subset, not the corpus. Post-filtering
    top-k instead (score all, then filter) would both waste the scoring
    work and silently return < k results."""
    from pontem_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("label").isin(0, 1))
    return S.brute_force_topk(corpus, queries, k=5, dim=64)


@register(
    "q_embedding_pca_whiten",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(64 AS INTEGER) AS dim,
           TRUE AS var_ok,
           TRUE AS offdiag_ok
    FROM embeddings
    """,
)
def q_embedding_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening of the embedding corpus, checked by the sketch-family
    derived-output pattern: the whitened covariance is recomputed with a
    second moments pass and reduced to in-plan booleans (every diagonal
    within 2% of 1, max off-diagonal < 0.02) that the oracle asserts as
    literals — a broken eigensolve/projection flips the hash. Both passes
    are per-partition numpy GEMMs; nothing row-scaled reaches the driver
    (operators/pca.py)."""
    import numpy as np

    from pontem_spark.operators.pca import (
        apply_whitening,
        embedding_moments,
        fit_whitening,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    mean, W = fit_whitening(emb, "embedding", eps=1e-9)
    n, wmean, wss = embedding_moments(
        apply_whitening(emb, "embedding", mean, W), "whitened"
    )
    cov = (wss - n * np.outer(wmean, wmean)) / (n - 1)
    diag = np.diag(cov)
    off = cov - np.diag(diag)
    return spark.createDataFrame(
        [
            (
                int(n),
                int(len(diag)),
                bool(np.abs(diag - 1.0).max() < 0.02),
                bool(np.abs(off).max() < 0.02),
            )
        ],
        "n bigint, dim int, var_ok boolean, offdiag_ok boolean",
    )


def _rrf_oracle() -> str:

    cos = _COS_SQL.format(a="e.embedding", b="p.pe")
    return f"""
    WITH lengths AS MATERIALIZED (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS dl
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM lengths
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents
      ) WHERE term IN ('spark', 'join', 'vector')
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
    contrib AS (
      SELECT t.doc_id,
             ln(CAST(1.0 AS DOUBLE)
                + (s.n - d.dfreq + CAST(0.5 AS DOUBLE))
                  / (d.dfreq + CAST(0.5 AS DOUBLE)))
             * (CAST(t.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
             / (CAST(t.tf AS DOUBLE)
                + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * l.dl / s.avgdl)) AS c
      FROM tf t
      JOIN dfreq d USING (term)
      JOIN lengths l USING (doc_id)
      CROSS JOIN stats s
    ),
    bm AS (SELECT doc_id, ROUND(SUM(c), 4) AS s FROM contrib GROUP BY 1),
    bmrank AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r
      FROM bm QUALIFY r <= 50
    ),
    probe AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
    cosscore AS (
      SELECT e.vec_id AS doc_id, ROUND({cos}, 6) AS s
      FROM embeddings e, probe p WHERE e.vec_id <> 0
    ),
    cosrank AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r
      FROM cosscore QUALIFY r <= 50
    ),
    unioned AS (
      SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + r) AS c FROM bmrank
      UNION ALL
      SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + r) AS c FROM cosrank
    )
    SELECT doc_id, ROUND(SUM(c), 6) AS rrf_score,
           CAST(COUNT(*) AS BIGINT) AS n_lists
    FROM unioned GROUP BY 1
    ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
    """


@register("q_ann_rrf_fusion", _rrf_oracle())
def q_ann_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-50 for {spark, join, vector} fused with
    the embedding-cosine top-50 around doc 0's vector by Reciprocal Rank
    Fusion (operators/similarity.py::rrf_fuse, k0=60) — rank positions
    only, so the lexical and vector scores need no calibration. The
    fusion aggregates only the retrieved candidates (never the corpus);
    the oracle replays both rankings (QUALIFY top-50, id tie-breaks on
    the rounded scores) and the reciprocal sum."""
    from pontem_spark.operators.similarity import brute_force_topk, rrf_fuse
    from pontem_spark.operators.textstats import bm25_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")

    bm = bm25_topk(docs, "doc_id", "text", ["spark", "join", "vector"], k=50)
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    bm_ranked = bm.withColumn("rank", F.row_number().over(w)).select("doc_id", "rank")

    cos_ranked = brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=50, dim=64
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")

    return rrf_fuse([bm_ranked, cos_ranked], "doc_id", "rank", k0=60, k=10)


def _pq_oracle(dim: int = 64, m: int = 4, k: int = 16, pct: int = 30,
               iters: int = 2, topk: int = 10) -> str:
    """DuckDB replay of the FULL PQ pipeline: per-subspace sampled Lloyd
    (L2, rounded-centroid discipline), corpus code assignment, per-query
    lookup tables, ADC estimate + top-k. Every iteration CTE is
    MATERIALIZED (DuckDB inlines multiply-referenced CTEs otherwise)."""
    from pontem_spark.operators.sampling import hash_bucket_sql

    sub = dim // m
    hb = hash_bucket_sql("vec_id", 100)

    def l2(a: str, b: str, d: int) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {d}), "
            f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
            f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
        )

    ctes = [
        f"samp AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE {hb} < {pct})"
    ]
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        ctes.append(
            f"s{j} AS MATERIALIZED (SELECT vec_id, embedding[{lo}:{hi}] AS sv FROM samp)"
        )
        ctes.append(
            f"""b{j}_0 AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id,
               list_transform(sv, x -> ROUND(CAST(x AS DOUBLE), 6)) AS centroid
        FROM s{j} ORDER BY vec_id LIMIT {k})"""
        )
        prev = f"b{j}_0"
        for n in range(1, iters + 1):
            d2 = l2("s.sv", "c.centroid", sub)
            ctes.append(
                f"""a{j}_{n} AS MATERIALIZED (
        SELECT vec_id, sv, centroid_id FROM (
            SELECT s.vec_id, s.sv, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id
                       ORDER BY ROUND({d2}, 6) ASC, c.centroid_id) AS r
            FROM s{j} s CROSS JOIN {prev} c
        ) WHERE r = 1)"""
            )
            ctes.append(
                f"""c{j}_{n}p AS MATERIALIZED (
        SELECT centroid_id, i, ROUND(avg(CAST(sv[i] AS DOUBLE)), 6) AS mm
        FROM a{j}_{n}, generate_series(1, {sub}) AS t(i) GROUP BY 1, 2)"""
            )
            ctes.append(
                f"""b{j}_{n} AS MATERIALIZED (
        SELECT p.centroid_id, COALESCE(n.centroid, p.centroid) AS centroid
        FROM {prev} p LEFT JOIN (
            SELECT centroid_id, list(mm ORDER BY i) AS centroid
            FROM c{j}_{n}p GROUP BY 1
        ) n ON n.centroid_id = p.centroid_id)"""
            )
            prev = f"b{j}_{n}"
        code_d2 = l2(f"e.embedding[{lo}:{hi}]", "c.centroid", sub)
        ctes.append(
            f"""code{j} AS MATERIALIZED (
        SELECT vec_id, centroid_id AS cid FROM (
            SELECT e.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY ROUND({code_d2}, 6) ASC, c.centroid_id) AS r
            FROM embeddings e CROSS JOIN {prev} c
        ) WHERE r = 1)"""
        )
        lut_d2 = l2(f"q.embedding[{lo}:{hi}]", "c.centroid", sub)
        ctes.append(
            f"""lut{j} AS MATERIALIZED (
        SELECT c.centroid_id AS cid, ROUND({lut_d2}, 6) AS d
        FROM {prev} c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q)"""
        )
    joins = " ".join(
        f"JOIN code{j} c{j} ON c{j}.vec_id = c0.vec_id" for j in range(1, m)
    )
    lut_joins = " ".join(f"JOIN lut{j} l{j} ON l{j}.cid = c{j}.cid" for j in range(m))
    est = " + ".join(f"l{j}.d" for j in range(m))
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH {cte_block}
    SELECT c0.vec_id, ROUND({est}, 6) AS est_d2
    FROM code0 c0 {joins} {lut_joins}
    ORDER BY est_d2 ASC, c0.vec_id ASC LIMIT {topk}
    """


@register("q_ann_pq_adc_topk", _pq_oracle())
def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search: 4 subspace codebooks (k=16)
    trained by deterministic sampled Lloyd under L2, corpus coded by a
    zero-shuffle map-side argmin fold, query distances via per-subspace
    lookup tables summed per row, TakeOrderedAndProject top-10. The
    oracle replays training, coding, LUTs and the ADC ranking end to end
    (operators/pq.py)."""
    from pontem_spark.operators.pq import pq_topk, train_pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(
        emb, "vec_id", "embedding", dim=64, m=4, k=16, sample_pct=30, iters=2
    )
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    return pq_topk(
        emb, books, [float(x) for x in qrow["embedding"]],
        "vec_id", "embedding", dim=64, k=10,
    ).select("vec_id", "est_d2")
