"""Empty-input / degenerate-input hardening for every custom operator.

A 100 TB pipeline WILL hit empty partitions, filtered-to-nothing stages, and
single-row groups; operators must return empty results, not crash.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pontem_spark.operators import dedup as D
from pontem_spark.operators import multimodal as M
from pontem_spark.operators.asof import asof_join
from pontem_spark.operators.ivf import ivf_topk
from pontem_spark.operators.similarity import (
    brute_force_topk,
    cosine_pairs_blocked,
    lsh_bucket_topk,
)
from pontem_spark.sources.tables import load_table


@pytest.fixture()
def empty_docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").filter(F.lit(False))


@pytest.fixture()
def empty_emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").filter(F.lit(False))


def test_dedup_family_on_empty(empty_docs):
    assert D.exact_duplicates(empty_docs, "doc_id", "text").count() == 0
    assert D.jaccard_similar_pairs(empty_docs, "doc_id", "text").count() == 0
    assert D.minhash_candidate_pairs(empty_docs, "doc_id", "text").count() == 0
    assert D.simhash(empty_docs, "doc_id", "text").count() == 0


def test_similarity_on_empty_corpus(spark, sf_dir, empty_emb):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    assert brute_force_topk(empty_emb, queries, dim=64).count() == 0
    assert lsh_bucket_topk(empty_emb, queries, dim=64).count() == 0
    assert cosine_pairs_blocked(empty_emb).count() == 0


def test_similarity_on_empty_queries(spark, sf_dir, empty_emb):
    emb = load_table(spark, sf_dir, "embeddings")
    assert brute_force_topk(emb, empty_emb, dim=64).count() == 0
    assert ivf_topk(emb, empty_emb, dim=64).count() == 0


def test_asof_with_empty_right(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"k": [1], "t": pd.to_datetime(["2024-01-01"]), "lv": [1]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1], "t": pd.to_datetime(["2024-01-01"]), "rv": [9]})
    ).filter(F.lit(False))
    out = asof_join(left, right, on="t", by="k").toPandas()
    assert len(out) == 1
    assert pd.isna(out["r_rv"].iloc[0])


def test_multimodal_on_empty(empty_docs):
    packed = M.attach_binary(empty_docs, "doc_id", "text")
    assert M.decode_media(packed).count() == 0
    assert M.extract_features(packed).count() == 0


def test_single_row_inputs(spark, sf_dir):
    one_doc = load_table(spark, sf_dir, "documents").limit(1)
    assert D.jaccard_similar_pairs(one_doc, "doc_id", "text").count() == 0  # no pairs
    assert D.exact_duplicates(one_doc, "doc_id", "text").count() == 1

    one_vec = load_table(spark, sf_dir, "embeddings").limit(1)
    assert cosine_pairs_blocked(one_vec).count() == 0


def test_short_document_shingles(spark):
    """Docs shorter than the shingle width must yield zero shingles, not
    errors (guards the sequence() bounds)."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["one two", "a"]})
    )
    assert D.jaccard_similar_pairs(docs, "doc_id", "text", ngram=3).count() == 0
    assert D.minhash_candidate_pairs(docs, "doc_id", "text", ngram=3).count() == 0


# --- round-6b operators: degenerate inputs -------------------------------


def test_boilerplate_removal_empty_and_single_doc(spark):
    from pontem_spark.operators.curation import remove_boilerplate

    empty = spark.createDataFrame([], "doc_id int, text string")
    assert remove_boilerplate(empty).collect() == []
    one = spark.createDataFrame([(1, "a b c d e f")], "doc_id int, text string")
    got = remove_boilerplate(one).collect()[0]
    assert got.clean_text == "a b c d e f" and got.n_removed == 0


def test_jaccard_prefix_empty_and_identical_corpus(spark):
    from pontem_spark.operators.dedup import jaccard_prefix_pairs

    empty = spark.createDataFrame([], "doc_id int, text string")
    assert jaccard_prefix_pairs(empty, "doc_id", "text").collect() == []
    same = spark.createDataFrame(
        [(i, "one two three four five") for i in range(3)], "doc_id int, text string"
    )
    pairs = jaccard_prefix_pairs(same, "doc_id", "text", threshold=0.9).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1), (0, 2), (1, 2)}
    assert all(r.jaccard == 1.0 for r in pairs)


def test_histogram_empty_frame_and_all_null(spark):
    from pontem_spark.operators.sketches import histogram_quantiles, histogram_state

    empty = spark.createDataFrame([], "k string, v double")
    assert histogram_state(empty, ["k"], "v", 0.0, 8.0, 4).collect() == []
    nulls = spark.createDataFrame([("a", None)] * 3, "k string, v double")
    # all-null group: no state row (nothing to bin) — finalize never sees it
    assert histogram_state(nulls, ["k"], "v", 0.0, 8.0, 4).collect() == []
    one = spark.createDataFrame([("a", 5.0)], "k string, v double")
    st = histogram_state(one, ["k"], "v", 0.0, 8.0, 4)
    r = histogram_quantiles(st, ["k"], {"p50": 0.5}, 0.0, 8.0, 4).collect()[0]
    assert r.n == 1 and 4.0 <= r.p50 <= 6.0


def test_weighted_sample_k_exceeds_population(spark):
    from pontem_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], "id int, w double")
    assert len(weighted_sample(df, "id", "w", k=100).collect()) == 2


def test_pagerank_single_self_loop(spark):
    from pontem_spark.operators.graph import pagerank

    edges = spark.createDataFrame([("a", "a")], "src string, dst string")
    r = pagerank(edges, iterations=3).collect()
    assert len(r) == 1 and abs(r[0]["rank"] - 1.0) < 1e-12


def test_containment_no_shared_shingles(spark):
    from pontem_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(1, "aa bb cc dd ee"), (2, "ff gg hh ii jj")], "doc_id int, text string"
    )
    assert containment_pairs(df, "doc_id", "text").collect() == []


def test_ivf_cell_assignment_null_vector(spark):
    """A null vector scores +Infinity against every centroid, so it lands
    in the lowest centroid id (flat) or the lowest id of the first group
    (hierarchical), as the SQL fold did, instead of failing the batch."""
    from pyspark.sql import Row

    from pontem_spark.operators.ivf import assign_cells, hierarchical_assign_cells

    cents = [Row(centroid_id=2, centroid=[1.0, 0.0]), Row(centroid_id=7, centroid=[0.0, 1.0])]
    corpus = spark.createDataFrame([(1, [0.0, 1.0]), (2, None)], "id int, v array<double>")
    flat = assign_cells(corpus, cents, "id", "v", 2).collect()
    assert sorted((r.id, r.centroid_id) for r in flat) == [(1, 7), (2, 2)]
    hier = hierarchical_assign_cells(corpus, cents, "id", "v", 2).collect()
    assert sorted((r.id, r.centroid_id) for r in hier) == [(1, 7), (2, 7)]


def test_pq_code_null_vector(spark):
    """A null vector's PQ code is the lowest centroid id of every codebook
    (all its distances tie), not the code of the zero vector (cid 9)."""
    from pyspark.sql import Row

    from pontem_spark.operators.pq import pq_assign_codes

    book = [Row(centroid_id=4, centroid=[5.0, 5.0]), Row(centroid_id=9, centroid=[0.0, 0.0])]
    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0, 5.0, 5.0]), (2, None)], "id int, v array<double>"
    )
    got = pq_assign_codes(corpus, [book, book], "id", "v", 4).collect()
    assert sorted((r.id, r.codes) for r in got) == [(1, [9, 4]), (2, [4, 4])]


def test_sql_spliced_operators_quote_identifiers(spark):
    """histogram_state and the decay monoid splice column names into SQL
    strings; a name holding a backtick must give the same result as a
    plain one."""
    import datetime as dt

    from pontem_spark.operators.incremental import (
        decayed_state,
        finalize_decayed,
        merge_decayed,
    )
    from pontem_spark.operators.sketches import histogram_state

    t0 = dt.datetime(2024, 1, 1)
    rows = [("u%d" % (i % 3), t0 + dt.timedelta(hours=i), float(i * 7 % 13)) for i in range(30)]
    plain = spark.createDataFrame(rows, ["k", "ts", "val"])
    odd = plain.withColumnRenamed("val", "v`al")

    def hist(df, col):
        return sorted(histogram_state(df, ["k"], col, 0.0, 13.0, 8).collect())

    def decay(df, col):
        early = F.col("ts") < t0 + dt.timedelta(hours=15)
        a = decayed_state(df.filter(early), "k", "ts", col, 7200.0)
        b = decayed_state(df.filter(~early), "k", "ts", col, 7200.0)
        return sorted(finalize_decayed(merge_decayed(a, b, "k", 7200.0), "k").collect())

    assert hist(odd, "v`al") == hist(plain, "val")
    assert decay(odd, "v`al") == decay(plain, "val")
