"""Training-data curation and data-quality queries: repetition and
n-gram quality signals, decontamination, PII redaction, boilerplate
removal, winsorizing, sequence packing and declarative expectations."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pontem_spark.queries.oracle_fragments import WIN_LIST as _WIN_LIST
from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table


@register(
    "q_quality_repetition",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ), g AS (
        SELECT doc_id, 1 AS n, unnest(ts) AS g FROM t
        UNION ALL
        SELECT doc_id, 2 AS n,
               unnest(CASE WHEN len(ts) >= 2
                           THEN list_transform(generate_series(1, len(ts) - 1),
                                               i -> ts[i] || ' ' || ts[i+1])
                           ELSE [] END) AS g
        FROM t
    ), c AS (
        SELECT doc_id, n, g, count(*) AS cnt FROM g GROUP BY doc_id, n, g
    ), m AS (
        SELECT doc_id,
               sum(CASE WHEN n = 1 THEN cnt END) AS n_tok,
               count(CASE WHEN n = 1 THEN 1 END) AS n_distinct,
               max(CASE WHEN n = 1 THEN cnt END) AS top_tok,
               sum(CASE WHEN n = 2 THEN cnt END) AS n_bg,
               max(CASE WHEN n = 2 THEN cnt END) AS top_bg
        FROM c GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           ROUND(n_distinct * 1.0 / n_tok, 4) AS distinct_ratio,
           ROUND(top_tok * 1.0 / n_tok, 4) AS top_token_share,
           ROUND(COALESCE(top_bg * 1.0 / n_bg, 0.0), 4) AS top_bigram_share,
           CAST(ROUND(n_distinct * 1.0 / n_tok, 4) >= 0.4
                AND ROUND(COALESCE(top_bg * 1.0 / n_bg, 0.0), 4) <= 0.1 AS INT) AS keep
    FROM m
    """,
    tags=("text", "quality", "curation"),
)
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: distinct-token ratio and top
    token/bigram shares per document, with a keep flag. One tagged explode →
    two partial-agg hash aggregations; the shuffle carries gram counts,
    never document bodies."""
    from pontem_spark.operators.curation import repetition_metrics

    docs = load_table(spark, sf_dir, "documents")
    return repetition_metrics(docs, "doc_id", "text")


@register(
    "q_contamination_overlap",
    oracle="""
    WITH t AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ), sh AS (
        SELECT doc_id, source,
               unnest(list_distinct(
                   CASE WHEN len(ts) >= 5
                        THEN list_transform(generate_series(1, len(ts) - 4),
                             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                  || ' ' || ts[i+3] || ' ' || ts[i+4])
                        ELSE [] END)) AS sh
        FROM t
    ), ev AS (
        SELECT DISTINCT sh FROM sh WHERE source = 'src0'
    ), tr AS (
        SELECT doc_id, sh.sh AS sh FROM sh WHERE source <> 'src0'
    )
    SELECT tr.doc_id,
           count(*) AS n_shingles,
           count(ev.sh) AS n_overlap,
           ROUND(count(ev.sh) * 1.0 / count(*), 4) AS overlap_ratio
    FROM tr LEFT JOIN ev ON tr.sh = ev.sh
    GROUP BY tr.doc_id
    HAVING count(ev.sh) > 0
    """,
    tags=("text", "contamination", "curation", "broadcast"),
)
def q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: fraction of each train doc's distinct
    5-grams that appear anywhere in the held-out split (source='src0').
    The eval shingle set is broadcast — the train corpus is scanned once,
    never shuffled on the shingle key."""
    from pontem_spark.operators.curation import ngram_contamination

    docs = load_table(spark, sf_dir, "documents")
    return ngram_contamination(docs, "doc_id", "text", "source", "src0", n=5)


@register(
    "q_sequence_packing",
    oracle="""
    WITH t AS (
        SELECT doc_id, doc_id % 8 AS shard,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tok
        FROM documents
    ), c AS (
        SELECT doc_id, shard, n_tok,
               SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT doc_id, shard, n_tok,
           CAST(FLOOR((cum - n_tok) / 512.0) AS BIGINT) AS bin_id
    FROM c
    """,
    tags=("curation", "packing", "window"),
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (contiguous fill, sharded running-sum
    window — one bounded shuffle; see operators/curation.py). Promoted from
    local-only tests to a driver-checked query."""
    from pontem_spark.operators.curation import sequence_packing

    docs = load_table(spark, sf_dir, "documents")
    return sequence_packing(docs, "doc_id", "text", budget=512, shards=8)


_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"


_PII_IPV4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"


_PII_PHONE = "\\+\\d{9,15}\\b"


_PII_ORACLE = (
    "SELECT doc_id, "
    "CAST(len(regexp_extract_all(text, '" + _PII_EMAIL + "')) AS INTEGER) AS n_email, "
    "CAST(len(regexp_extract_all(text, '" + _PII_IPV4 + "')) AS INTEGER) AS n_ipv4, "
    "CAST(len(regexp_extract_all(text, '" + _PII_PHONE + "')) AS INTEGER) AS n_phone, "
    "CAST(length(text) AS INTEGER) AS orig_len, "
    "CAST(length(regexp_replace(regexp_replace(regexp_replace(text, "
    "'" + _PII_EMAIL + "', '[PII]', 'g'), "
    "'" + _PII_IPV4 + "', '[PII]', 'g'), "
    "'" + _PII_PHONE + "', '[PII]', 'g')) AS INTEGER) AS redacted_len "
    "FROM documents"
)


@register(
    "q_curation_pii_redaction",
    oracle=_PII_ORACLE,
    tags=("curation", "pii", "text"),
)
def q_curation_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing as a pure-Column map-side pass (operators/curation.py
    redact_pii): per-pattern regexp_count + chained regexp_replace, zero
    UDF, zero shuffle. Patterns restricted to the Java-regex ∩ RE2 subset
    so the DuckDB oracle is exact. The fixture corpus is PII-free (counts
    all zero) — the planted-PII differential lives in tests/."""
    from pontem_spark.operators.curation import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    out = redact_pii(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_email").cast("int").alias("n_email"),
        F.col("n_ipv4").cast("int").alias("n_ipv4"),
        F.col("n_phone").cast("int").alias("n_phone"),
        F.col("orig_len").cast("int").alias("orig_len"),
        F.col("redacted_len").cast("int").alias("redacted_len"),
    )


@register(
    "q_curation_winsorize",
    oracle="""
    WITH b AS (
        SELECT ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.01), 2) AS lo,
               ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99), 2) AS hi
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           LEAST(GREATEST(CAST(l_extendedprice AS DOUBLE), b.lo), b.hi)
               AS l_extendedprice_winsorized
    FROM lineitem, b
    """,
    tags=("curation", "winsorize", "quantile"),
)
def q_curation_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization at [p01, p99]: one percentile aggregate broadcast as a
    single row, then a map-side LEAST/GREATEST per row — no sort, no window
    (operators/binning.py::winsorize). Per-row hash check proves both
    engines clip identically from the same rounded boundaries."""
    from pontem_spark.operators.binning import winsorize

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return winsorize(li, "l_extendedprice", 0.01, 0.99).select(
        "l_orderkey", "l_linenumber", "l_extendedprice_winsorized"
    )


@register(
    "q_curation_boilerplate_removal",
    oracle=f"""
    WITH chunks AS (
      SELECT doc_id, unnest({_WIN_LIST}) AS chunk FROM documents
    ),
    bl AS (
      SELECT coalesce(list(chunk ORDER BY chunk), []) AS b FROM (
        SELECT chunk FROM chunks GROUP BY chunk HAVING COUNT(DISTINCT doc_id) > 3
      )
    )
    SELECT d.doc_id,
      -- a fully-boilerplate doc becomes '' (Spark's array_join([]) = '';
      -- DuckDB's array_to_string([]) is NULL — align on '')
      coalesce(
        array_to_string(list_filter({_WIN_LIST}, c -> NOT list_contains(bl.b, c)), ' '),
        '') AS clean_text,
      CAST(coalesce(len(list_filter({_WIN_LIST}, c -> list_contains(bl.b, c))), 0)
        AS INTEGER) AS n_removed
    FROM documents d, bl
    """,
    tags=("curation", "dedup", "text", "boilerplate"),
)
def q_curation_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-chunk boilerplate removal (the RefinedWeb/CCNet line filter):
    5-word spans occurring in >3 distinct documents are stripped from every
    document, which is reassembled in place. One shuffle total (the
    chunk document-frequency aggregate — chunks travel, documents don't);
    the frequent set rides a single broadcast array row into a pure
    map-side rebuild (operators/curation.py:remove_boilerplate). The hash
    check proves both engines rebuild every cleaned document byte-equal."""
    from pontem_spark.operators.curation import remove_boilerplate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return remove_boilerplate(docs, id_col="doc_id", text_col="text", window=5, max_doc_freq=3)


@register(
    "q_quality_dup_ngrams",
    oracle="""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ), f AS (
        SELECT doc_id, toks, len(toks) AS nt FROM t WHERE len(toks) >= 3
    ), g AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, nt - 2),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
                   AS gram
        FROM f
    ), c AS (
        SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           ROUND(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
               AS top_share,
           ROUND(CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(cnt) AS DOUBLE), 6) AS dup_frac
    FROM c GROUP BY doc_id
    """,
)
def q_quality_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-trigram repetition signals as a pure projection — the
    run-length generalization of q_text_entropy applied to the Gopher
    rep-n family (operators/curation.py::dup_ngram_signals): zero
    Exchanges versus the oracle's doc×gram group-by, identical integer
    counts so the hash matches exactly."""
    from pontem_spark.operators.curation import dup_ngram_signals

    docs = load_table(spark, sf_dir, "documents")
    return dup_ngram_signals(docs, "doc_id", "text", n=3)


@register(
    "q_quality_expectations",
    oracle="""
    WITH m AS (
        SELECT
            ROUND(COUNT(o_custkey) / CAST(COUNT(*) AS DOUBLE), 6) AS m0,
            ROUND(COUNT(DISTINCT o_orderkey) / CAST(COUNT(o_orderkey) AS DOUBLE), 6) AS m1,
            ROUND(CAST(MIN(o_totalprice) AS DOUBLE), 6) AS m2,
            ROUND(SUM(CASE WHEN o_orderstatus IN ('F', 'O', 'P') THEN 1 ELSE 0 END)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS m3,
            ROUND(SUM(CASE WHEN regexp_matches(CAST(o_orderpriority AS VARCHAR),
                                               '^[1-5]-') THEN 1 ELSE 0 END)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS m4
        FROM orders
    )
    SELECT 'custkey_not_null' AS rule_name, m0 AS metric, 1.0 AS threshold,
           m0 >= 1.0 AS passed FROM m
    UNION ALL
    SELECT 'orderkey_unique', m1, 1.0, m1 >= 1.0 FROM m
    UNION ALL
    SELECT 'totalprice_nonnegative', m2, 0.0, m2 >= 0.0 FROM m
    UNION ALL
    SELECT 'status_in_domain', m3, 1.0, m3 >= 1.0 FROM m
    UNION ALL
    SELECT 'priority_pattern', m4, 1.0, m4 >= 1.0 FROM m
    """,
)
def q_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract check over orders: five expectations
    (completeness, uniqueness, range, domain, pattern share) evaluated
    in ONE aggregation pass — adding a rule never adds a scan; pass/fail
    compares the rounded metric
    (operators/expectations.py::run_expectations)."""
    from pontem_spark.operators.expectations import Rule, run_expectations

    orders = load_table(spark, sf_dir, "orders")
    rules = [
        Rule("custkey_not_null", "not_null", "o_custkey", 1.0),
        Rule("orderkey_unique", "unique", "o_orderkey", 1.0),
        Rule("totalprice_nonnegative", "min_ge", "o_totalprice", 0.0),
        Rule("status_in_domain", "in_set", "o_orderstatus", 1.0, values=("F", "O", "P")),
        Rule("priority_pattern", "matches", "o_orderpriority", 1.0, pattern="^[1-5]-"),
    ]
    return run_expectations(orders, rules)
