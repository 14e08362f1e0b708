"""Sampling queries: stratified, fixed-size, weighted, temperature and
source-mix sampling, group splits and negative sampling. Every sample is
driven by md5-derived hashes, so DuckDB reproduces it exactly."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pontem_spark.operators.sampling import hash_value16_sql
from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table


def _stratified_oracle() -> str:
    from pontem_spark.operators.sampling import hash_bucket_sql

    return f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {hash_bucket_sql('doc_id', 100)} <
          CASE lang WHEN 'en' THEN 60 WHEN 'zh' THEN 90 ELSE 40 END
    """


@register(
    "q_stratified_sample",
    oracle=_stratified_oracle(),
    tags=("sampling", "pipeline"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language corpus rebalance: keep 60% of English,
    90% of Chinese, 40% of everything else — selected by md5 hash bucket of
    the doc id, so the exact same rows survive on any engine or cluster
    size. Pure scan + filter; zero shuffles."""
    from pontem_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    sampled = stratified_sample(docs, "lang", "doc_id", {"en": 60, "zh": 90}, default_percent=40)
    return sampled.select("doc_id", "lang", "source")


_HV16 = hash_value16_sql("d.doc_id")


@register(
    "q_sample_temperature",
    oracle=f"""
    WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
    w AS (SELECT lang, CAST(1.0 AS DOUBLE) / sqrt(cnt) AS w FROM c),
    m AS (SELECT MAX(w) AS mw FROM w),
    thr AS (SELECT lang, CAST(FLOOR(w / mw * 65536.0) AS BIGINT) AS thr FROM w, m)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN thr USING (lang)
    WHERE {_HV16} < thr.thr
    """,
    tags=("sampling", "curation", "temperature"),
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling (alpha=0.5) over the language distribution: the
    multilingual-LM rebalancing scheme — sampled share ∝ count**alpha, the
    rarest language kept whole, dominant ones deterministically downsampled
    via the md5-derived 16-bit value (operators/sampling.py). The oracle
    re-derives the EXACT kept set, so the hash check proves engine-portable
    reproducibility of the sample itself, not just its size."""
    from pontem_spark.operators.sampling import temperature_resample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return temperature_resample(docs, "lang", "doc_id", alpha=0.5)


@register(
    "q_sample_fixed_size",
    oracle="""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
        FROM documents
    ) WHERE r <= 10
    """,
    tags=("sampling", "curation", "fixed-size"),
)
def q_sample_fixed_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-n-per-stratum deterministic sample: rank rows inside each
    stratum by the md5 of their id (a content-independent total order both
    engines share) and keep the first 10. The rate-based samplers
    (stratified/temperature) can't promise an exact count; this one can —
    the 'give me exactly 10 eval docs per language, same ones every run'
    shape. One window pass partitioned by stratum; at scale the per-stratum
    rank never globally sorts, and TOP-n per partition is the same
    hash-partitioned shuffle as the group-by family."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 10)
        .select("doc_id", "lang")
    )


def _weighted_sample_oracle() -> str:
    from pontem_spark.operators.sampling import weighted_sample_key_sql

    key = weighted_sample_key_sql("doc_id", "n_chars")
    return f"""
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY {key} DESC, doc_id ASC
             ) AS rn
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    ) WHERE rn <= 10
    """


@register(
    "q_sample_weighted",
    oracle=_weighted_sample_oracle(),
    tags=("sampling", "weighted", "deterministic"),
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sampling without replacement, per language: the
    Efraimidis–Spirakis exponential race with a deterministic md5-derived
    uniform, so DuckDB re-runs the identical race and must select the
    identical winners (operators/sampling.py::weighted_sample).
    Deterministic across engines because the uniform u is a DISCRETE
    16-bit md5-derived value — adjacent priority keys differ by far more
    than the ≤1-ulp skew two engines' ln() could introduce — with doc_id
    as the total-order tie-break (priorities are NOT rounded; rounding
    would create ties exactly at the top-k boundary)."""
    from pontem_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", k=10, strata=["lang"])


@register(
    "q_sample_source_mix",
    oracle="""
    WITH __c AS (
        SELECT source,
               CAST(COUNT(*) AS DOUBLE) AS __cnt,
               CASE source WHEN 'src0' THEN CAST(4.0 AS DOUBLE)
                           WHEN 'src1' THEN CAST(2.0 AS DOUBLE)
                           WHEN 'src2' THEN CAST(1.0 AS DOUBLE)
                           WHEN 'src3' THEN CAST(1.0 AS DOUBLE) END AS __w
        FROM documents GROUP BY source
    ), __r AS (
        SELECT source,
               CAST(FLOOR(MIN(__cnt / __w) OVER () * __w / __cnt * 65536.0)
                    AS BIGINT) AS __thr
        FROM __c WHERE __w IS NOT NULL
    ), kept AS (
        SELECT t.* FROM documents t
        JOIN __r USING (source)
        WHERE (ascii(substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 1)) - 48
               - 39 * CAST(ascii(substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 1)) >= 97 AS INTEGER)) * 4096
            + (ascii(substr(md5(CAST(t.doc_id AS VARCHAR)), 2, 1)) - 48
               - 39 * CAST(ascii(substr(md5(CAST(t.doc_id AS VARCHAR)), 2, 1)) >= 97 AS INTEGER)) * 256
            + (ascii(substr(md5(CAST(t.doc_id AS VARCHAR)), 3, 1)) - 48
               - 39 * CAST(ascii(substr(md5(CAST(t.doc_id AS VARCHAR)), 3, 1)) >= 97 AS INTEGER)) * 16
            + (ascii(substr(md5(CAST(t.doc_id AS VARCHAR)), 4, 1)) - 48
               - 39 * CAST(ascii(substr(md5(CAST(t.doc_id AS VARCHAR)), 4, 1)) >= 97 AS INTEGER))
            < __thr
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS kept_docs,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM kept GROUP BY source
    """,
)
def q_sample_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit target-mix corpus rebalancing (4:2:1:1 over four sources,
    other sources dropped) via deterministic md5 thresholds — one tiny
    count aggregate, a broadcast threshold join and a map-side filter
    (operators/sampling.py::mix_sources). The oracle re-derives the exact
    surviving rows from the identical double-division threshold chain."""
    from pontem_spark.operators.sampling import mix_sources

    docs = load_table(spark, sf_dir, "documents")
    kept = mix_sources(
        docs, "source", "doc_id",
        {"src0": 4.0, "src1": 2.0, "src2": 1.0, "src3": 1.0},
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept_docs"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )


@register(
    "q_sample_group_split",
    oracle="""
    WITH b AS (
      SELECT user_id, event_type,
             ((ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) * 256 + ascii(substr(md5(CAST(user_id AS VARCHAR)), 2, 1))) % 100) AS bucket
      FROM events
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM b GROUP BY 1
    """,
)
def q_sample_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/10/10 split of events by USER (every row of a user
    lands in one split — row-hash splits would let one user's correlated
    events straddle train/test; operators/sampling.py::group_split, a pure
    map-side projection of the md5 ascii-arithmetic bucket). The oracle
    replays the bucket thresholds; n_users per split also proves no user
    appears twice (sum of per-split distinct users = total users)."""
    from pontem_spark.operators.sampling import group_split

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    return (
        group_split(ev, "user_id", {"train": 80, "val": 10, "test": 10})
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


@register(
    "q_sample_negatives",
    oracle="""
    WITH pos AS MATERIALIZED (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS p
      FROM documents
    ),
    n AS (SELECT COUNT(*) AS n FROM pos),
    anchors AS (
      SELECT p.doc_id AS anchor_id, s.slot,
             (p.p + s.slot
              * GREATEST(CAST(FLOOR(n.n / (3 + 1.0)) AS BIGINT), 1)) % n.n AS np
      FROM pos p CROSS JOIN n
      CROSS JOIN (SELECT unnest([1, 2, 3]) AS slot) s
      WHERE n.n > 3
    )
    SELECT a.anchor_id, CAST(a.slot AS INTEGER) AS slot,
           q.doc_id AS negative_id
    FROM anchors a JOIN pos q ON q.p = a.np
    """,
)
def q_sample_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negatives: 3 ring-offset negatives per
    document (operators/sampling.py::negative_samples) — positions from
    the engine's distributed enumeration, negatives at (pos + slot·step)
    mod n, so the pairing is reproducible across engines and retries and
    a negative can never equal its anchor. Cast trap pinned in both
    directions: step uses explicit FLOOR because Spark's double→bigint
    cast truncates while DuckDB's ROUNDS."""
    from pontem_spark.operators.sampling import negative_samples

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return negative_samples(docs, "doc_id", k=3)
