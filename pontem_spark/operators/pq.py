"""Product quantization (PQ): compressed vector codes + ADC search.

The standard at-scale vector-compression technique (Jégou et al.,
"Product quantization for nearest neighbor search", TPAMI 2011,
public): split each D-dim vector into ``m`` subvectors, k-means each
subspace independently (codebooks of ``k`` centroids each), and store
every vector as ``m`` small codes — 64 floats become 4 bytes at
m=4, k=16. Search uses asymmetric distance computation (ADC): the
query's distance to every codebook centroid is a tiny per-query lookup
table; a database vector's estimated distance is the sum of ``m`` table
entries — no float vector is ever touched at scan time.

Scale shape: training runs on a deterministic md5-bucket sample (the
train_centroids discipline from operators/ivf.py, L2 metric instead of
cosine); code assignment is a MAP-SIDE vectorized Arrow kernel over the
codebooks (zero shuffles, like assign_cells); ADC search is a map-side
lookup-table fold + one TakeOrderedAndProject. At 100 TB the scan reads
m bytes per vector instead of 8D — the whole point.

Cross-engine determinism: codebooks are floor-rounded componentwise
after every Lloyd step (so both engines iterate from identical
doubles), argmin compares the ROUNDED squared L2 with centroid-id
tie-breaks, and the ADC estimate is rounded before the top-k order.

Reference parity: extension surface (SURVEY.md §2.G vector search); the
reference engine has no vector operator at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, functions as F

from pontem_spark.functions.compat import rnd
from pontem_spark.operators.ivf import _np_rows, _portable_round_py


def _attach_code_cols(
    df: DataFrame,
    books: "list[list[Row]]",
    vec_exprs: "list[str]",
    out_cols: "list[str]",
    round_digits: int = 6,
) -> DataFrame:
    """Append one argmin-code column per subspace: ``out_cols[j]`` = id of
    the ``books[j]`` centroid minimizing the ROUNDED squared L2 distance
    to ``vec_exprs[j]`` (an array<double> expression), id asc on ties.

    r15: the per-subspace argmin folds run as ONE vectorized numpy kernel
    behind Arrow-vectorized pandas UDFs (guide §4.2) — the previous
    higher-order-function folds were interpreted per element. Bit-identity
    contract as in operators/ivf.py: each squared distance is the same
    0.0-seeded LEFT-CHAINED fold of (x-y)*(x-y), rounded with the same
    floor form, tie-broken (d, cid-asc) by a stable sort over cid-ascending
    candidates. The codebooks ride in the UDF closures (the same data the
    r14 broadcast LocalRelation carried); the m independent UDFs are
    batched by Spark into a single ArrowEvalPython pass."""
    scale = float(10**round_digits)

    def make_udf(book):
        cands = [
            (int(r["centroid_id"]), [float(x) for x in r["centroid"]])
            for r in sorted(book, key=lambda r: int(r["centroid_id"]))
        ]
        cids = [c[0] for c in cands]

        def _code_fn(vecs):
            import numpy as np
            import pandas as pd

            if len(vecs) == 0:
                return pd.Series([], dtype="int32")
            mat = _np_rows(vecs, len(cands[0][1]))
            d = np.empty((mat.shape[0], len(cands)), dtype=np.float64)
            for jj, (_cid, cvec) in enumerate(cands):
                acc = np.zeros(mat.shape[0], dtype=np.float64)
                for i, ci in enumerate(cvec):
                    diff = mat[:, i] - ci
                    acc = acc + diff * diff
                d[:, jj] = np.floor(acc * scale + 0.5) / scale
            # a null vector's distances were all null in the SQL fold, so
            # the cid tie-break alone chose its code: the lowest cid
            d[vecs.isna().to_numpy()] = np.inf
            best = np.argsort(d, axis=1, kind="stable")[:, 0]
            return pd.Series(np.asarray(cids, dtype="int32")[best])

        return F.pandas_udf(_code_fn, "int")

    # all m code columns in ONE select: separate withColumn projections do
    # not collapse around Python UDFs, which left m sequential
    # ArrowEvalPython passes (measured in the plan); a single projection
    # lets ExtractPythonUDFs batch the m independent UDFs into one pass.
    # (No .asNondeterministic here — nothing explodes these columns, and
    # nondeterministic expressions would block the projection collapse.)
    code_cols = [
        make_udf(books[j])(F.expr(vec_expr).cast("array<double>")).alias(out_col)
        for j, (vec_expr, out_col) in enumerate(zip(vec_exprs, out_cols))
    ]
    return df.select("*", *code_cols)


def _slice_expr(vec_col: str, j: int, sub: int) -> str:
    return f"slice(CAST({vec_col} AS ARRAY<DOUBLE>), {j * sub + 1}, {sub})"


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    k: int = 16,
    sample_pct: int = 30,
    iters: int = 2,
    round_digits: int = 6,
) -> "list[list[Row]]":
    """Per-subspace sampled Lloyd k-means under L2. Same determinism
    contract as ivf.train_centroids: md5-bucket sample, smallest-id
    init, floor-rounded centroids each step, empty cells keep their
    previous centroid. Returns ``m`` codebooks of ``k`` Rows each."""
    if dim % m:
        raise ValueError(f"train_pq_codebooks: dim {dim} not divisible by m {m}")
    from functools import reduce

    from pontem_spark.operators.sampling import hash_bucket

    sub = dim // m
    sample_full = corpus.filter(hash_bucket(id_col, 100) < sample_pct)

    # r14: the m subspaces train on the SAME sampled rows and are mutually
    # independent, so drive all of them per Lloyd step in ONE job instead
    # of m sequential per-subspace jobs (guide §1.2/§2.6 — the driver loop
    # was 3m tiny jobs; now it is 1 init + `iters` rebuild jobs total).
    # Arithmetic is unchanged: the init rows are the identical k
    # smallest-id sampled vectors (sliced driver-side instead of via m
    # slice() scans), and the rebuild union replays label_centroids'
    # posexplode → per-(cid, pos) rounded AVG per subspace, just tagged
    # with the subspace index so one aggregate carries all m codebooks.
    init = (
        sample_full.select(F.col(id_col), F.col(vec_col).alias("__v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    books: "list[list[Row]]" = [
        [
            Row(
                centroid_id=i,
                centroid=[
                    _portable_round_py(float(x), round_digits)
                    for x in r["__v"][j * sub : (j + 1) * sub]
                ],
            )
            for i, r in enumerate(init)
        ]
        for j in range(m)
    ]
    for _ in range(iters):
        assigned = sample_full.select(
            F.col(id_col),
            *[F.expr(_slice_expr(vec_col, j, sub)).alias(f"__sv{j}") for j in range(m)],
        )
        assigned = _attach_code_cols(
            assigned,
            books,
            [f"__sv{j}" for j in range(m)],
            [f"__cid{j}" for j in range(m)],
            round_digits,
        )
        branches = [
            assigned.select(
                F.lit(j).alias("__j"),
                F.col(f"__cid{j}").alias("cid"),
                F.posexplode(F.col(f"__sv{j}").cast("array<double>")).alias("pos", "x"),
            )
            for j in range(m)
        ]
        u = reduce(DataFrame.unionAll, branches)
        means = u.groupBy("__j", "cid", "pos").agg(
            rnd(F.avg("x"), round_digits).alias("m")
        )
        new_rows = (
            means.groupBy("__j", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "__j",
                F.col("cid").alias("centroid_id"),
                F.expr("transform(pm, s -> s.m)").alias("centroid"),
            )
            .collect()
        )
        new: "list[dict[int, list[float]]]" = [{} for _ in range(m)]
        for r in new_rows:
            new[int(r["__j"])][int(r["centroid_id"])] = [float(x) for x in r["centroid"]]
        books = [
            [
                Row(
                    centroid_id=int(c["centroid_id"]),
                    centroid=new[j].get(int(c["centroid_id"]), list(c["centroid"])),
                )
                for c in books[j]
            ]
            for j in range(m)
        ]
    return books


def pq_assign_codes(
    corpus: DataFrame,
    books: "list[list[Row]]",
    id_col: str,
    vec_col: str,
    dim: int,
    round_digits: int = 6,
) -> DataFrame:
    """(id, codes array<int>) — one map-side projection over a broadcast
    codebook row, zero shuffles."""
    m = len(books)
    sub = dim // m
    coded = _attach_code_cols(
        corpus,
        books,
        [_slice_expr(vec_col, j, sub) for j in range(m)],
        [f"__code{j}" for j in range(m)],
        round_digits,
    )
    return coded.select(
        F.col(id_col),
        F.array(*[F.col(f"__code{j}") for j in range(m)]).alias("codes"),
    )


def pq_topk(
    corpus: DataFrame,
    books: "list[list[Row]]",
    query_vec: "list[float]",
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """ADC top-k: per-subspace lookup tables of rounded squared L2
    between the query slice and each codebook centroid (computed
    driver-side — m x k doubles), estimated distance = the sum of ``m``
    ``element_at`` lookups on the assigned codes, rounded, then one
    TakeOrderedAndProject on (distance asc, id asc)."""
    m = len(books)
    sub = dim // m
    with_codes = pq_assign_codes(corpus, books, id_col, vec_col, dim, round_digits)
    luts = []
    for j in range(m):
        q = [float(x) for x in query_vec[j * sub : (j + 1) * sub]]
        lut = []
        for r in sorted(books[j], key=lambda r: int(r["centroid_id"])):
            acc = 0.0
            for x, y in zip(q, [float(v) for v in r["centroid"]]):
                acc = acc + (x - y) * (x - y)
            lut.append(_portable_round_py(acc, round_digits))
        luts.append(lut)
    est = None
    for j in range(m):
        term = F.element_at(F.lit(luts[j]), F.col("codes")[j] + 1)
        est = term if est is None else est + term
    return (
        with_codes.select(
            F.col(id_col), rnd(est, round_digits).alias("est_d2")
        )
        .orderBy(F.asc("est_d2"), F.asc(id_col))
        .limit(k)
    )
