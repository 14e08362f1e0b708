"""End-to-end pipeline queries: several operators composed into one lazy
plan (corpus preparation, feature store, entity resolution), checked as a
whole against one oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pontem_spark.queries.oracle_fragments import WIN_LIST as _WIN_LIST
from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table


def _pipeline_oracle() -> str:
    from pontem_spark.operators.sampling import hash_bucket_sql

    bucket = hash_bucket_sql("doc_id", 100)
    win = _WIN_LIST
    return f"""
    WITH gated AS (
      SELECT doc_id, text FROM documents
      WHERE lang = 'en' AND len(string_split(text, ' ')) >= 30
    ),
    chunks AS (
      SELECT doc_id, unnest({win}) AS chunk FROM gated
    ),
    bl AS (
      SELECT coalesce(list(chunk ORDER BY chunk), []) AS b FROM (
        SELECT chunk FROM chunks GROUP BY chunk HAVING COUNT(DISTINCT doc_id) > 3
      )
    ),
    cleaned AS (
      SELECT g.doc_id,
             coalesce(array_to_string(
               list_filter({win}, c -> NOT list_contains(bl.b, c)), ' '), '')
               AS clean_text
      FROM gated g, bl
    ),
    survivors AS (
      SELECT MIN(doc_id) AS doc_id, ANY_VALUE(clean_text) AS clean_text
      FROM cleaned GROUP BY md5(clean_text)
    )
    SELECT doc_id,
           CASE WHEN {bucket} < 80 THEN 'train' ELSE 'test' END AS split,
           CAST(len(string_split(clean_text, ' ')) AS INTEGER) AS n_tokens
    FROM survivors
    """


@register(
    "q_pipeline_corpus_prep",
    oracle=_pipeline_oracle(),
    tags=("pipeline", "curation", "dedup", "composition"),
)
def q_pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-prep pipeline as ONE lazy plan — the composition a
    real training-data run executes: language + length gate → corpus-level
    boilerplate removal → exact dedup on the CLEANED text (min-id
    survivorship; boilerplate-only differences collapse) → deterministic
    80/20 split → per-doc token count. Every stage reuses the registered
    operator (curation.remove_boilerplate, dedup-style md5 groupBy,
    sampling.hash_bucket), and the oracle replays the identical chain as
    CTEs — hash equality proves the stages compose losslessly, not just
    pass individually.

    Scale: the stages add shuffles only where their standalone forms do
    (chunk agg; md5 groupBy); the gate/split/count are map-side.
    Catalyst pipelines the whole chain — no materialization between
    stages."""
    from pontem_spark.operators.curation import remove_boilerplate
    from pontem_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    gated = docs.filter(
        (F.col("lang") == "en") & (F.size(F.split(F.col("text"), " ")) >= 30)
    ).select("doc_id", "text")
    cleaned = remove_boilerplate(
        gated, id_col="doc_id", text_col="text", window=5, max_doc_freq=3
    ).select("doc_id", "clean_text")
    survivors = cleaned.groupBy(F.md5("clean_text")).agg(
        F.min("doc_id").alias("doc_id"), F.any_value("clean_text").alias("clean_text")
    )
    return survivors.select(
        "doc_id",
        F.when(hash_bucket("doc_id", 100) < 80, F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
        F.size(F.split(F.col("clean_text"), " ")).alias("n_tokens"),
    )


@register(
    "q_pipeline_feature_store",
    oracle="""
    WITH per_key AS (
      SELECT user_id,
             MAX(epoch_us(ts)) AS last_us,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             ROUND(SUM(CAST(value AS DOUBLE)), 4) AS monetary
      FROM events GROUP BY 1
    ),
    ref AS (SELECT MAX(epoch_us(ts)) AS ref_us FROM events),
    rfm AS (
      SELECT user_id,
             CAST(FLOOR((r.ref_us - p.last_us) / 86400000000) AS BIGINT)
               AS recency_days,
             frequency, monetary
      FROM per_key p CROSS JOIN ref r
    ),
    decay AS (
      SELECT e.user_id,
             ROUND(SUM(pow(CAST(2.0 AS DOUBLE),
                   -(CAST(k.last_us - epoch_us(e.ts) AS DOUBLE) / 1e6)
                    / CAST(86400.0 AS DOUBLE)) * e.value), 4) AS decayed_total
      FROM events e JOIN per_key k USING (user_id)
      GROUP BY 1
    )
    SELECT r.user_id, r.recency_days, r.frequency, r.monetary,
           d.decayed_total,
           CASE WHEN {bucket} < 80 THEN 'train'
                WHEN {bucket} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM rfm r JOIN decay d USING (user_id)
    """.format(
        bucket="((ascii(substr(md5(CAST(r.user_id AS VARCHAR)), 1, 1)) * 256 "
        "+ ascii(substr(md5(CAST(r.user_id AS VARCHAR)), 2, 1))) % 100)"
    ),
)
def q_pipeline_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store pipeline composed end-to-end: RFM behavioral
    block (one aggregate pass) × exponential time-decay totals (two
    map-side-combinable aggregates) × leakage-safe split assignment (a
    free map-side projection) — all joined on the user key, so the whole
    pipeline is two aggregate shuffles plus key-joins of |users|-row
    frames. The oracle replays every leg as CTEs over the same events."""
    from pontem_spark.operators.sampling import group_split
    from pontem_spark.operators.timeseries import rfm_features, time_decay_agg

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    rfm = rfm_features(ev, "user_id", "ts", "value").select(
        "user_id", "recency_days", "frequency", "monetary"
    )
    decay = time_decay_agg(ev, "user_id", "ts", "value", 86400.0).select(
        "user_id", "decayed_total"
    )
    feats = rfm.join(decay, "user_id")
    return group_split(feats, "user_id", {"train": 80, "val": 10, "test": 10})


@register(
    "q_pipeline_entity_resolution",
    oracle="""
    WITH RECURSIVE vocab AS (
        SELECT DISTINCT p_name AS name, string_split(p_name, ' ')[1] AS blk
        FROM part
    ), pairs AS (
        SELECT a.name AS na, b.name AS nb
        FROM vocab a JOIN vocab b ON a.blk = b.blk AND a.name < b.name
        WHERE levenshtein(a.name, b.name) <= 3
    ), edges AS (
        SELECT na AS src, nb AS dst FROM pairs
        UNION
        SELECT nb, na FROM pairs
    ), reach(node, label) AS (
        SELECT name, name FROM vocab
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ), cc AS (
        SELECT node, MIN(label) AS component FROM reach GROUP BY node
    ), cl AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS n_names
        FROM cc GROUP BY 1 HAVING COUNT(*) >= 2
    )
    SELECT cc.component AS canonical_name, cl.n_names,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(AVG(CAST(p.p_retailprice AS DOUBLE)), 4) AS avg_price
    FROM part p
    JOIN cc ON cc.node = p.p_name
    JOIN cl ON cl.component = cc.component
    GROUP BY 1, 2
    """,
)
def q_pipeline_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution END TO END: blocked edit-distance candidate
    pairs over the DISTINCT name vocabulary (fuzzy_pairs), connected
    components to merge transitive matches (the distributed fixpoint;
    the oracle uses a recursive CTE — two different algorithms must
    agree), then survivorship: per multi-name cluster, the canonical
    (min) name with member and row counts and the cluster's average
    price. Pair work is per-block quadratic over the vocabulary, never
    row-quadratic; CC state is |vocab| rows with per-iteration lineage
    truncation (operators/dedup.py::fuzzy_pairs +
    operators/graph.py::connected_components)."""
    from pontem_spark.operators.dedup import fuzzy_pairs
    from pontem_spark.operators.graph import connected_components

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice"
    )
    pairs = fuzzy_pairs(part, "p_name", max_dist=3)
    nodes = part.select(F.col("p_name").alias("name")).distinct()
    edges = pairs.select(F.col("name_a").alias("src"), F.col("name_b").alias("dst"))
    cc = connected_components(nodes, edges, node_col="name")
    clusters = (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_names"))
        .filter(F.col("n_names") >= 2)
    )
    from pontem_spark.functions.compat import rnd

    members = part.join(cc, part.p_name == cc.name).join(
        F.broadcast(clusters), "component"
    )
    return members.groupBy(
        F.col("component").alias("canonical_name"), F.col("n_names")
    ).agg(
        F.count(F.lit(1)).alias("n_parts"),
        rnd(F.avg(F.col("p_retailprice").cast("double")), 4).alias("avg_price"),
    )
