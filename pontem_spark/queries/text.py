"""Text-analysis queries over the `documents` corpus (training-data pipeline ops).

All column math is JVM-side (functions/text.py); the per-document work is
embarrassingly parallel — no shuffle at all except where an aggregate needs
one. At 100 TB the corpus scan dominates, which is exactly the shape you want.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pontem_spark.functions.compat import rnd
from pontem_spark.functions import text as T
from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table

_EN_IN = ", ".join(f"'{w}'" for w in T.EN_STOPWORDS)


@register(
    "q_text_token_stats",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, source,
               string_split_regex(trim(text), '\\s+') AS toks,
               length(regexp_replace(text, '\\s', '', 'g')) AS alpha_chars
        FROM documents
    )
    SELECT doc_id, lang, source,
           len(toks) AS n_tokens,
           CAST(alpha_chars AS BIGINT) AS n_alpha_chars,
           ROUND(alpha_chars * 1.0 / len(toks), 4) AS avg_token_len,
           CAST(len(list_filter(toks, x -> x in ({_EN_IN}))) AS BIGINT) AS n_stopwords
    FROM t
    """,
    tags=("text", "tokenize"),
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: counts, average token length, stopword
    hits. Pure projection — zero shuffles, scales with executor count."""
    docs = load_table(spark, sf_dir, "documents")
    alpha = T.n_alpha_chars("text")
    return docs.withColumn("toks", T.tokens("text")).select(
        "doc_id",
        "lang",
        "source",
        F.size("toks").alias("n_tokens"),
        alpha.cast("bigint").alias("n_alpha_chars"),
        rnd(alpha * F.lit(1.0) / F.size("toks"), 4).alias("avg_token_len"),
        T.stopword_count("toks", T.EN_STOPWORDS).cast("bigint").alias("n_stopwords"),
    )


@register(
    "q_text_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\\s+') AS toks,
               length(regexp_replace(text, '\\s', '', 'g')) AS alpha_chars
        FROM documents
    ), scored AS (
        SELECT doc_id,
               ROUND(
                 LEAST(len(toks) / 100.0, 1.0) * 0.5
                 + LEAST(len(list_filter(toks, x -> x in ({_EN_IN}))) * 10.0 / len(toks), 1.0) * 0.3
                 + LEAST(alpha_chars * 1.0 / (len(toks) * 8.0), 1.0) * 0.2
               , 4) AS quality
        FROM t
    )
    SELECT doc_id, quality FROM scored WHERE quality >= 0.5
    """,
    tags=("text", "quality"),
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality score (length + stopword density + token
    shape), filtering to keep-worthy docs — the classic pretraining-corpus
    quality gate, computed without leaving the JVM."""
    docs = load_table(spark, sf_dir, "documents").withColumn("toks", T.tokens("text"))
    n_tok = F.size("toks").cast("double")
    alpha = T.n_alpha_chars("text").cast("double")
    stop = T.stopword_count("toks", T.EN_STOPWORDS).cast("double")
    quality = rnd(
        F.least(n_tok / 100.0, F.lit(1.0)) * 0.5
        + F.least(stop * 10.0 / n_tok, F.lit(1.0)) * 0.3
        + F.least(alpha / (n_tok * 8.0), F.lit(1.0)) * 0.2,
        4,
    )
    return docs.select("doc_id", quality.alias("quality")).filter(F.col("quality") >= 0.5)


@register(
    "q_text_lang_id",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
           {T.lang_id_oracle_sql('toks')} AS predicted_lang
    FROM t
    """,
    tags=("text", "langid"),
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID per document, alongside the dataset's own
    label. (The synthetic corpus is English-ish regardless of label — the
    point is the deterministic classification machinery.)"""
    docs = load_table(spark, sf_dir, "documents").withColumn("toks", T.tokens("text"))
    counted = docs.select("doc_id", "lang", T.lang_counts("toks").alias("__lc"))
    return counted.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        T.lang_from_counts("__lc").alias("predicted_lang"),
    )


@register(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           substr(md5(text), 1, 16) AS fp64,
           md5(lower(trim(text))) AS fp_normalized
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: raw 64-bit (hex) prefix + case/space-normalized
    full hash. md5 because it is byte-identical across engines — these
    fingerprints are the join keys for cross-system dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.fingerprint("text", bits=64).alias("fp64"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp_normalized"),
    )


@register(
    "q_text_source_profile",
    oracle="""
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY source, lang
    """,
    tags=("text", "agg"),
)
def q_text_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile by (source, lang) — the dataset-card aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        rnd(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


@register(
    "q_corpus_assembly",
    oracle=f"""
    WITH stats AS (
        SELECT doc_id,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
               md5(lower(trim(text))) AS content_hash
        FROM documents
    ), emb AS (
        SELECT vec_id,
               ROUND(sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
                     i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 4) AS emb_norm,
               label
        FROM embeddings
    ), dedup AS (
        SELECT content_hash, MIN(doc_id) AS keep_id FROM stats GROUP BY content_hash
    )
    SELECT s.doc_id, s.n_tokens, e.emb_norm, e.label,
           CASE WHEN s.doc_id = d.keep_id THEN 1 ELSE 0 END AS is_canonical
    FROM stats s
    JOIN emb e ON s.doc_id = e.vec_id
    JOIN dedup d ON s.content_hash = d.content_hash
    WHERE s.n_tokens >= 10
    """,
    tags=("text", "pipeline", "join"),
)
def q_corpus_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus assembly: per-doc token stats + exact-dedup
    canonical flag + joined embedding norms + quality gate, in ONE pipeline.
    The shape a real 100 TB data-curation job takes: narrow per-doc
    projections, one dedup shuffle on the 16-byte hash, an equi-join to the
    embedding table, filters pushed to the scans."""
    from pontem_spark.functions import text as TX
    from pontem_spark.functions import vector as V
    from pontem_spark.operators.dedup import exact_duplicates

    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(
        "doc_id",
        F.size(TX.tokens("text")).alias("n_tokens"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash"),
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id"),
        rnd(V.norm_fixed("embedding", 64), 4).alias("emb_norm"),
        "label",
    )
    dedup = exact_duplicates(docs, "doc_id", "text", normalized=True).select(
        "content_hash", F.col("keep_id")
    )
    return (
        stats.filter(F.col("n_tokens") >= 10)
        .join(emb, stats.doc_id == emb.vec_id)
        .join(dedup, "content_hash")
        .select(
            "doc_id",
            "n_tokens",
            "emb_norm",
            "label",
            F.when(F.col("doc_id") == F.col("keep_id"), 1).otherwise(0).alias("is_canonical"),
        )
    )


@register(
    "q_text_chunking",
    oracle="""
    SELECT doc_id,
           CAST(i - 1 AS BIGINT) AS chunk_idx,
           substr(text, (CAST(i AS BIGINT) - 1) * 200 + 1, 200) AS chunk
    FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, CAST(ceil(length(text) / 200.0) AS BIGINT))) AS i
        FROM documents
    )
    """,
    tags=("text", "chunking"),
)
def q_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking (fixed 200-char windows) as pure Column algebra:
    explode a chunk-index sequence, slice with substring. The
    context-window-preprocessing shape, no UDF, no UDTF (the UDTF variant
    lives in tests/test_udtf.py)."""
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.ceil(F.length("text") / 200.0).cast("int")
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(1), n_chunks)).alias("i"),
        )
        .select(
            "doc_id",
            (F.col("i") - 1).cast("bigint").alias("chunk_idx"),
            F.expr("substr(text, (i - 1) * 200 + 1, 200)").alias("chunk"),
        )
    )


@register(
    "q_text_train_test_split",
    oracle="""
    WITH tagged AS (
        SELECT doc_id,
               CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 10 < 9
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, COUNT(*) AS n_docs, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM tagged GROUP BY split
    """,
    tags=("text", "split", "pipeline"),
)
def q_text_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/10 train/test split by content-independent hash of
    the id — reproducible across engines, runs, and cluster sizes (the ONLY
    safe way to split at 100 TB; random() splits are neither stable nor
    resumable)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 10
    split = F.when(bucket < 9, "train").otherwise("test")
    return (
        docs.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


@register(
    "q_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    ranked AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.dfreq,
               ROUND(tf.tf * ln(n.n_docs * 1.0 / dfreq.dfreq), 4) AS tfidf,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf DESC, dfreq.dfreq ASC, tf.term ASC
               ) AS INTEGER) AS term_rank
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, dfreq, tfidf, term_rank FROM ranked WHERE term_rank <= 3
    """,
    tags=("text", "tfidf", "inverted-index"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF. Ties break on
    integers only (tf, dfreq, term) so both engines rank identically even
    when their ln() differs in the last ulp."""
    from pontem_spark.operators.textstats import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=3, round_digits=4)


@register(
    "q_bigram_counts",
    oracle="""
    WITH t AS (
        SELECT string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ), g AS (
        SELECT unnest(CASE WHEN len(ts) >= 2
                           THEN list_transform(generate_series(1, len(ts) - 1),
                                               i -> ts[i] || ' ' || ts[i+1])
                           ELSE [] END) AS ngram
        FROM t
    )
    SELECT ngram, COUNT(*) AS n_occurrences
    FROM g GROUP BY ngram HAVING COUNT(*) >= 5
    """,
    tags=("text", "ngram", "langmodel"),
)
def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram count table (the LM count shape): explode word 2-grams,
    one hash aggregation, min-count prune inside the agg."""
    from pontem_spark.operators.textstats import ngram_counts

    docs = load_table(spark, sf_dir, "documents")
    return ngram_counts(docs, "text", n=2, min_count=5)


@register(
    "q_text_entropy",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(list_sort(list_distinct(toks))) AS BIGINT) AS n_distinct,
           ROUND(-list_sum(list_transform(list_sort(list_distinct(toks)),
               d -> (len(list_filter(toks, x -> x = d)) * 1.0 / len(toks))
                    * log2(len(list_filter(toks, x -> x = d)) * 1.0 / len(toks)))), 3)
               AS entropy
    FROM t
    """,
    tags=("text", "quality", "entropy"),
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution — the
    information-theoretic repetition signal (low entropy = chant-like spam,
    entropy ≈ log2(n) = no repetition; complements the Gopher ratio gates).
    Computed ENTIRELY within the row by higher-order functions — a pure
    projection: zero shuffles, zero UDFs, scales with executor count alone.

    Run-length form: sort the tokens once, find run boundaries, derive each
    distinct token's count from consecutive boundary positions — O(n log n)
    per row versus the naive O(n x n_distinct) filter-per-distinct fold
    (which benched 4.7 s vs 1.2 s here at sf0.1). Runs of the sorted array
    enumerate distinct tokens in ascending order, so the float summation
    order (and therefore the oracle hash) is identical to the oracle's
    sorted-distinct fold: each term is (count/n) * log2(count/n) added in
    sorted-token order."""
    from pontem_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    # 0-based positions i where a run of equal tokens ends in the sorted
    # array (element_at is 1-based, hence the +1/+2 shifts). try_element_at
    # yields NULL past the end, so the last index is a run end via
    # coalesce(..., true) without an out-of-bounds access under ANSI mode
    # (tokens() never returns an empty array: split of a non-null string
    # has at least one element, so i + 1 is always in bounds)
    ends = (
        "filter(sequence(0, size(__s) - 1), "
        "i -> coalesce(try_element_at(__s, i + 2) != element_at(__s, i + 1), true))"
    )
    # run length j = ends[j] - ends[j-1] (with a virtual end at -1); cast to
    # double so count/n is the same double/int division the old form used
    cnts = (
        "transform(__ends, (e, j) -> "
        "CAST(e - if(j = 0, -1, element_at(__ends, j)) AS DOUBLE))"
    )
    p = "(c / size(__s))"
    h = f"-aggregate(__cnts, CAST(0.0 AS DOUBLE), (acc, c) -> acc + ({p} * log2({p})))"
    from pontem_spark.functions.compat import rnd

    return (
        docs.withColumn("__s", F.array_sort(toks))
        .withColumn("__ends", F.expr(ends))
        .withColumn("__cnts", F.expr(cnts))
        .select(
            "doc_id",
            F.expr("size(__ends)").cast("bigint").alias("n_distinct"),
            rnd(F.expr(h), 3).alias("entropy"),
        )
    )


@register(
    "q_text_bigram_pmi",
    oracle="""
    WITH t AS (
        SELECT string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ), uni AS (
        SELECT unnest(ts) AS w FROM t
    ), cw AS (
        SELECT w, COUNT(*) AS c_w FROM uni GROUP BY w
    ), big AS (
        SELECT unnest(CASE WHEN len(ts) >= 2
                           THEN list_transform(generate_series(1, len(ts) - 1),
                                               i -> ts[i] || ' ' || ts[i+1])
                           ELSE [] END) AS ab
        FROM t
    ), cab AS (
        SELECT ab, COUNT(*) AS c_ab FROM big GROUP BY ab HAVING COUNT(*) >= 5
    ), nt AS (SELECT SUM(c_w) AS n FROM cw),
    nb AS (SELECT COUNT(*) AS n FROM big)
    SELECT cab.ab, cab.c_ab, a.c_w AS c_a, b.c_w AS c_b,
           ROUND(ln((CAST(cab.c_ab AS DOUBLE) / nb.n) /
                    ((CAST(a.c_w AS DOUBLE) / nt.n) * (CAST(b.c_w AS DOUBLE) / nt.n))), 4) AS pmi
    FROM cab
    JOIN cw a ON a.w = string_split(cab.ab, ' ')[1]
    JOIN cw b ON b.w = string_split(cab.ab, ' ')[2]
    CROSS JOIN nt CROSS JOIN nb
    """,
)
def q_text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation detection: pointwise mutual information of adjacent
    word pairs, three integer count tables + two broadcast 1-row totals
    (operators/textstats.py::bigram_pmi). The oracle replays the identical
    count tables and float expression order; PMI rounds at 4 digits like
    the long-green tfidf query."""
    from pontem_spark.operators.textstats import bigram_pmi

    docs = load_table(spark, sf_dir, "documents")
    return bigram_pmi(docs, "text", min_count=5, round_digits=4)


@register(
    "q_chunk_rag_windows",
    oracle="""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, toks, len(toks) AS n FROM t
    ), g AS (
        SELECT doc_id, toks, n,
               unnest(generate_series(0, greatest(n - 1, 0), 24)) AS start
        FROM s
    )
    SELECT doc_id,
           CAST(start // 24 AS INTEGER) AS chunk_id,
           array_to_string(toks[start + 1 : least(start + 32, n)], ' ')
               AS chunk_text,
           CAST(least(start + 32, n) - start AS BIGINT) AS n_tokens
    FROM g
    """,
)
def q_chunk_rag_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-ingestion chunking: 32-token windows with 8-token overlap over
    every document — Project → Generate(posexplode) → Project, zero
    shuffles/UDFs (operators/chunking.py). The oracle replays the
    identical window arithmetic with generate_series + list slicing."""
    from pontem_spark.operators.chunking import chunk_by_tokens

    docs = load_table(spark, sf_dir, "documents")
    return chunk_by_tokens(docs, "doc_id", "text", size=32, overlap=8)


@register(
    "q_text_bm25_topk",
    oracle="""
    WITH lengths AS (
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
    )
    SELECT doc_id, ROUND(SUM(c), 4) AS bm25,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
    FROM contrib GROUP BY 1
    ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """,
)
def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 documents for the query {spark, join, vector}
    (operators/textstats.py::bm25_topk, k1=1.2 b=0.75): the term filter
    lands before the tf aggregation so only query-term postings shuffle;
    the oracle replays idf/tf/length normalization with every literal cast
    to DOUBLE (the decimal-literal division trap) and ranks on the rounded
    score with doc_id tie-break."""
    from pontem_spark.operators.textstats import bm25_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, "doc_id", "text", ["spark", "join", "vector"], k=10)


@register(
    "q_text_ctfidf_terms",
    oracle="""
    WITH tok AS (
      SELECT source AS cls,
             unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT cls, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    wc AS (SELECT cls, CAST(SUM(tf) AS BIGINT) AS wc FROM tf GROUP BY 1),
    ft AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS ft FROM tf GROUP BY 1),
    a AS (SELECT AVG(CAST(wc AS DOUBLE)) AS a FROM wc),
    scored AS (
      SELECT t.cls, t.term, t.tf, f.ft,
             ROUND((CAST(t.tf AS DOUBLE) / w.wc)
                   * ln(CAST(1.0 AS DOUBLE) + a.a / f.ft), 4) AS score
      FROM tf t JOIN wc w USING (cls) JOIN ft f USING (term) CROSS JOIN a
    )
    SELECT cls AS source, term, tf, ft, score, term_rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY cls ORDER BY score DESC, tf DESC, term ASC
      ) AS term_rank
      FROM scored
    ) WHERE term_rank <= 5
    """,
)
def q_text_ctfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per SOURCE by class-based TF-IDF
    (operators/textstats.py::ctfidf_top_terms, the BERTopic c-TF-IDF
    form) — per-class profiling of a training mix, two hash shuffles
    ((class, term) then term), broadcast class totals, tiny per-class
    top-k windows."""
    from pontem_spark.operators.textstats import ctfidf_top_terms

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return ctfidf_top_terms(docs, "source", "text", k=5)
