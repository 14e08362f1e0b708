"""Shared DuckDB oracle-SQL builders — NO query registrations here, so any
query module (or the public-API query family) can import these without
perturbing the registry's registration order."""

from __future__ import annotations

# DuckDB shingle CTE shared by the dedup oracles (1-based list indexing)
SHINGLES_CTE = """
    t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ), sh AS (
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(ts) >= 3
                 THEN list_transform(generate_series(1, len(ts) - 2),
                                     i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
                 ELSE [] END)) AS shingle
        FROM t
    )
"""


# Engine-portable SimHash fingerprints (60-bit, md5 token hashes) —
# byte-identical to operators/dedup.py::simhash_md5; shared by the
# fingerprint, pair and survivorship oracles.
SIMHASH_MD5_FP_CTES = """
    toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents
    ), h AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks
    ), votes AS (
        SELECT doc_id, g.i AS i,
               SUM(CASE WHEN ((hv >> g.i) & 1) = 1 THEN 1 ELSE -1 END) AS v
        FROM h, generate_series(0, 59) AS g(i)
        GROUP BY doc_id, g.i
    ), fp AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash60
        FROM votes GROUP BY doc_id
    )
"""


def lsh_sig_sql(vec: str, n_planes: int = 4, dim: int = 64) -> str:
    """DuckDB SQL for the hyperplane sign signature — plane p's component
    for (1-based) dim i: ascii(first hex char of md5('plane{p}d{i-1}'))
    even → +1 else -1 — mirrored in operators/similarity.py."""
    bits = []
    for p in range(n_planes):
        dotp = (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> CAST({vec}[i] AS DOUBLE) * "
            f"(CASE WHEN ascii(substr(md5('plane{p}d' || CAST(i - 1 AS VARCHAR)), 1, 1)) % 2 = 0 "
            f"THEN 1.0 ELSE -1.0 END)))"
        )
        bits.append(f"(CASE WHEN {dotp} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def minhash_cand_ctes(num_hashes: int = 8, rows_per_band: int = 4) -> str:
    """CTE chain ``sig``, ``bands``, ``cand`` (distinct candidate id pairs)
    building on the ``sh`` CTE from :data:`SHINGLES_CTE` — md5 end-to-end,
    byte-identical to operators/dedup.py::minhash_candidate_pairs."""
    n_bands = num_hashes // rows_per_band
    mins = ",\n               ".join(
        f"MIN(md5(shingle || '#{i}')) AS mh{i}" for i in range(num_hashes)
    )
    band_selects = []
    for b in range(n_bands):
        cols = " || '|' || ".join(f"mh{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band))
        band_selects.append(
            f"SELECT doc_id, {b} AS band_idx, md5({cols}) AS bucket FROM sig"
        )
    bands_sql = "\n        UNION ALL\n        ".join(band_selects)
    return f"""
    sig AS (
        SELECT doc_id,
               {mins}
        FROM sh GROUP BY doc_id
    ), bands AS (
        {bands_sql}
    ), cand AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    )"""


def minhash_oracle(num_hashes: int = 8, rows_per_band: int = 4) -> str:
    """MinHash signatures + LSH banding candidate pairs, md5 end-to-end —
    byte-identical to operators/dedup.py::minhash_candidate_pairs."""
    return f"""
    WITH {SHINGLES_CTE},
    {minhash_cand_ctes(num_hashes, rows_per_band)}
    SELECT id_a, id_b FROM cand
    """


HIER_COS = (
    "(list_sum(list_transform(generate_series(1, {d}), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))) / "
    "(sqrt(list_sum(list_transform(generate_series(1, {d}), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)))) * "
    "sqrt(list_sum(list_transform(generate_series(1, {d}), i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))))"
)


def kmeans_centroids_cte(k: int, pct: int, dim: int) -> str:
    """DuckDB twin of operators/ivf.py:train_centroids (iters=2, unrolled):
    same md5-bucket sample, same smallest-id init, same rounded-cosine
    argmin assignment, same per-(cell, pos) AVG rebuild with empty cells
    keeping their previous centroid. Ends in ``centroids(centroid_id,
    centroid)`` for _ivf_hier_oracle."""
    from pontem_spark.operators.sampling import hash_bucket_sql

    hb = hash_bucket_sql("vec_id", 100)
    sc = HIER_COS.format(a="s.embedding", b="c.centroid", d=dim)

    def lloyd(prev: str, n: int) -> str:
        return f"""a{n} AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT s.vec_id, s.embedding, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                      ORDER BY ROUND({sc}, 6) DESC, c.centroid_id) AS r
            FROM samp s CROSS JOIN {prev} c
        ) WHERE r = 1
    ), c{n}p AS (
        SELECT centroid_id, i, ROUND(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
        FROM a{n}, generate_series(1, {dim}) AS t(i) GROUP BY 1, 2
    ), c{n}n AS (
        SELECT centroid_id, list(m ORDER BY i) AS centroid FROM c{n}p GROUP BY 1
    ), c{n} AS (
        SELECT p.centroid_id, COALESCE(n.centroid, p.centroid) AS centroid
        FROM {prev} p LEFT JOIN c{n}n n ON n.centroid_id = p.centroid_id
    )"""

    return f"""samp AS (
        SELECT vec_id, embedding FROM embeddings WHERE {hb} < {pct}
    ), init AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id,
               list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 6)) AS centroid
        FROM samp ORDER BY vec_id LIMIT {k}
    ), {lloyd('init', 1)}, {lloyd('c1', 2)},
    centroids AS (SELECT centroid_id, centroid FROM c2)"""


# the window-list expression both engines share for boilerplate removal:
# non-overlapping 5-word chunks, last chunk may be short
WIN_LIST = (
    "[array_to_string(string_split(text,' ')[(i-1)*5+1:i*5],' ') "
    "for i in generate_series(1, CAST(ceil(len(string_split(text,' '))/5.0) AS BIGINT))]"
)


def hist_quantile_oracle() -> str:
    from pontem_spark.operators.sketches import histogram_quantiles_sql

    items = ",\n      ".join(
        histogram_quantiles_sql(
            "bins", {"p50": 0.5, "p90": 0.9, "p99": 0.99}, lo=0.0, hi=640.0, n_bins=32
        )
    )
    return f"""
    WITH binned AS (
      SELECT event_type,
             LEAST(31, GREATEST(0, CAST(floor((value - 0.0) / 20.0) AS INTEGER))) AS b
      FROM events WHERE value IS NOT NULL
    ),
    grid AS (
      SELECT et.event_type, gs.i
      FROM (SELECT DISTINCT event_type FROM binned) et,
           (SELECT unnest(generate_series(0, 31)) AS i) gs
    ),
    cnts AS (SELECT event_type, b, COUNT(*) AS c FROM binned GROUP BY 1, 2),
    hstate AS (
      SELECT g.event_type, list(CAST(coalesce(c.c, 0) AS BIGINT) ORDER BY g.i) AS bins
      FROM grid g LEFT JOIN cnts c ON g.event_type = c.event_type AND g.i = c.b
      GROUP BY 1
    )
    SELECT event_type,
      {items}
    FROM hstate
    """
