"""IVF (inverted-file) approximate nearest neighbor search.

Classic two-stage ANN: (1) build — partition the corpus into K cells around
centroids; (2) probe — a query scores only vectors in its ``n_probe``
nearest cells. Probe cost drops from |corpus| to ~|corpus| * n_probe / K.

Centroids here are the per-label mean vectors (the fixture's labels act as
the coarse quantizer; a production build would run k-means — the
assign/probe machinery is identical). Every arithmetic step is rounded with
the portable floor form, so the whole index — centroids, cell assignment,
probe ranking — is deterministic and oracle-checkable in ANSI SQL, which is
rare for an ANN implementation.

Scale shape: centroids are tiny (K x dim) → broadcast; cell assignment is a
map-side argmin per row; the probe is an equi-join on cell id. No
cross-product ever materializes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Row, Window, functions as F

from pontem_spark.functions import vector as V
from pontem_spark.functions.compat import rnd


def label_centroids(corpus: DataFrame, id_col: str, vec_col: str, label_col: str, dim: int, round_digits: int = 6) -> DataFrame:
    """Per-label mean vectors, componentwise-rounded so both engines derive
    bit-identical centroids.

    posexplode → avg per (label, pos) → re-assemble ordered array. The
    N x dim explosion never hits the wire: ``groupBy(label, pos)`` partial-
    aggregates within the scan stage, so each task emits at most K x dim
    (sum, count) partials regardless of corpus size. (A dim-wide column-per-
    component aggregate shuffles the same partials but pays ~5x more plan/
    codegen time for the 64-column hash aggregate — measured, not guessed.)
    """
    exploded = corpus.select(
        label_col, F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x")
    )
    means = exploded.groupBy(label_col, "pos").agg(rnd(F.avg("x"), round_digits).alias("m"))
    return (
        means.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col(label_col).alias("centroid_id"),
            F.expr("transform(pm, s -> s.m)").alias("centroid"),
        )
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame | list[Row],
    id_col: str,
    vec_col: str,
    dim: int,
    n_probe: int = 1,
    round_digits: int = 6,
) -> DataFrame:
    """Attach the ``n_probe`` nearest centroid ids to every vector —
    a TRUE map-side argmin: zero shuffles, zero joins.

    The K centroids are materialized driver-side (the index "build" step —
    K x dim doubles, trivially small) and ride in the closure of ONE
    Arrow-vectorized pandas UDF (r15, guide §4.2): per batch, a numpy
    kernel scores every (row, centroid) pair with the SAME left-chained
    fold + floor-form rounding + (desc-sim, asc-id) tie-break the previous
    SQL expression evaluated, so results are bit-identical and the DuckDB
    oracle is unchanged (see the kernel block above for the contract).
    The whole thing is scan → ArrowEvalPython → generate — no Exchange
    before the probe equi-join, so cell assignment costs one corpus pass
    at any scale, now at native-vectorized speed instead of interpreted
    higher-order-function dispatch per element.

    For very large K the flat argmin does K·dim work per row; the
    production shape is hierarchical: a coarse sqrt(K)-way quantizer chooses
    a centroid *group* map-side, then the same argmin runs within the group.
    """
    rows = centroids.collect() if isinstance(centroids, DataFrame) else list(centroids)
    rows = sorted(rows, key=lambda r: r["centroid_id"])
    if not rows:  # empty corpus → no cells, typed empty result
        return (
            corpus
            .select(F.col(id_col), F.col(vec_col), F.lit(None).cast("int").alias("centroid_id"))
            .filter(F.lit(False))
        )
    scale = float(10**round_digits)
    cands = []
    for r in rows:
        cvec = [float(x) for x in r["centroid"]]
        # same fold as norm_fixed: 0.0-seeded left-chained sum of squares
        acc = 0.0
        for x in cvec:
            acc = acc + x * x
        cands.append((int(r["centroid_id"]), cvec, math.sqrt(acc)))
    cids = [c[0] for c in cands]
    take = min(n_probe, len(cands))

    def _cells_fn(vecs):
        import pandas as pd

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = _np_rows(vecs, len(cands[0][1]))
        ns = _np_neg_sims(mat, _np_norm(mat), cands, scale)
        return pd.Series(_np_top_cells(ns, cids, take))

    cells_udf = F.pandas_udf(_cells_fn, "array<int>").asNondeterministic()
    # (.asNondeterministic stops the optimizer cloning the UDF into the
    # not-null pre-filter Catalyst synthesizes for explode — guide §4.4;
    # the function is in fact deterministic)
    return (
        corpus
        .withColumn("__cells", cells_udf(F.col(vec_col)))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.explode(F.col("__cells")).alias("centroid_id"),
        )
    )


def _portable_round_py(x: float, round_digits: int) -> float:
    """Python mirror of functions/compat.rnd's floor(x*s + 0.5)/s form."""
    s = 10.0**round_digits
    return math.floor(x * s + 0.5) / s


# --- vectorized argmin kernels (r15, guide §4.2) -----------------------------
# The per-row nearest-centroid folds were Catalyst higher-order functions
# (aggregate/zip_with/transform) — which Spark does NOT whole-stage-codegen:
# every element of every candidate comparison paid interpreted-lambda
# dispatch (~360 ns/element measured; the corpus assignment of a 2000-row,
# 160-cell index alone was ~1.2 s). The same arithmetic as a batched numpy
# kernel behind one Arrow-vectorized pandas UDF runs in milliseconds and at
# 100 TB turns the dominant per-row map cost into native vectorized code.
#
# BIT-IDENTITY contract (the reason these loops look pedantic): every dot /
# norm / squared-distance is a LEFT-CHAINED fold seeded at 0.0 — acc is a
# row-vector and each loop step adds exactly one product, so per row the
# IEEE operation sequence is identical to the SQL
# ``aggregate(zip_with(...), 0.0D, (a, x) -> a + x)`` it replaces — and the
# rounded similarity applies the same floor(x*scale + 0.5)/scale before the
# same (value, cid-asc) tie-break. Verified element-for-element against the
# SQL path on the real fixture vectors (all modes: flat, hier, hier g2) and
# by the pure-Python Lloyd replay test.


def _np_rows(series, dim: int) -> "object":
    """Stack a batch of vectors into an (n, dim) float64 matrix. A null
    vector becomes the zero vector: its norm is 0, so every cosine
    candidate scores +Infinity and the stable argsort picks the lowest
    centroid id, which is what the SQL fold did with a null row."""
    import numpy as np

    zero = np.zeros(dim, dtype=np.float64)
    return np.asarray([zero if v is None else np.asarray(v, dtype=np.float64) for v in series])


def _np_fold_dot(mat, coeffs) -> "object":
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for i, c in enumerate(coeffs):
        acc = acc + mat[:, i] * c
    return acc


def _np_norm(mat) -> "object":
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for i in range(mat.shape[1]):
        acc = acc + mat[:, i] * mat[:, i]
    return np.sqrt(acc)


def _np_neg_sims(mat, vnorm, cands, scale) -> "object":
    """(n_rows, n_cands) matrix of the struct sort key ``ns`` — negated
    rounded cosine, +inf where the denominator is not positive — for
    ``cands`` = [(cid, cvec, cnorm)] (any order; caller tie-breaks)."""
    import numpy as np

    ns = np.empty((mat.shape[0], len(cands)), dtype=np.float64)
    for j, (_cid, cvec, cnorm) in enumerate(cands):
        denom = vnorm * cnorm
        dot = _np_fold_dot(mat, cvec)
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = np.floor((dot / denom) * scale + 0.5) / scale
        ns[:, j] = np.where(denom > 0.0, -sim, np.inf)
    return ns


def _np_top_cells(ns, cids, n_take) -> "list[list[int]]":
    """Per row: the ``n_take`` cids minimizing (ns, cid) lexicographically.
    ``cids`` must be ascending so a stable sort on ns alone tie-breaks by
    cid exactly like array_sort over (ns, cid) structs did."""
    import numpy as np

    order = np.argsort(ns, axis=1, kind="stable")[:, :n_take]
    took = np.asarray(cids)[order]
    return [row.tolist() for row in took]


def build_centroid_groups(
    rows: "list[Row]", round_digits: int = 6
) -> "list[tuple[int, list[float], float, list[Row]]]":
    """Driver-side coarse-quantizer build: chunk K centroids into
    ceil(sqrt(K)) contiguous groups ordered by (first component, id) —
    deterministic and mirrorable in ANSI SQL (ROW_NUMBER over the same
    order) — and give each group the componentwise mean of its members as
    the group centroid (floor-rounded like every other centroid component).

    Returns [(group_id, group_centroid, group_norm, member_rows)].
    K x dim doubles of driver math — trivial even at K = 100k.
    """
    if not rows:
        return []
    ordered = sorted(rows, key=lambda r: (float(r["centroid"][0]), int(r["centroid_id"])))
    k = len(ordered)
    n_groups = math.ceil(math.sqrt(k))
    gs = math.ceil(k / n_groups)
    out = []
    dim = len(ordered[0]["centroid"])
    for g in range(n_groups):
        members = ordered[g * gs : (g + 1) * gs]
        if not members:
            break
        means = []
        for i in range(dim):
            acc = 0.0
            for r in members:
                acc = acc + float(r["centroid"][i])
            means.append(_portable_round_py(acc / len(members), round_digits))
        acc = 0.0
        for x in means:
            acc = acc + x * x
        out.append((g, means, math.sqrt(acc), members))
    return out


def hierarchical_assign_cells(
    corpus: DataFrame,
    centroids: DataFrame | "list[Row]",
    id_col: str,
    vec_col: str,
    dim: int,
    n_probe: int = 1,
    round_digits: int = 6,
    n_probe_groups: int = 1,
) -> DataFrame:
    """Two-stage map-side cell assignment for LARGE K — the production IVF
    shape :func:`assign_cells` documents: a coarse ceil(sqrt(K))-way
    quantizer picks a centroid GROUP, then the argmin runs only within that
    group. Per-row compute drops from O(K·dim) to O(sqrt(K)·dim); still
    scan → ArrowEvalPython → generate with ZERO Exchange before the probe
    equi-join.

    Both stages run inside ONE Arrow-vectorized numpy kernel (r15, guide
    §4.2; the r14 form folded interpreted higher-order functions over a
    broadcast centroid row — correct plan-size behavior, but every element
    of every comparison paid interpreted dispatch). The centroid set rides
    in the UDF closure as plain data, so K stays bounded by data size, not
    plan size. Same arithmetic contract as assign_cells: 0.0-seeded
    left-chained dot fold, floor-form rounding, (-sim, id) tie-break,
    zero-norm rows excluded via +Infinity — bit-identical, oracle-proven.

    ``n_probe_groups`` > 1 is the boundary-recall mitigation: the row's
    ``n_probe_groups`` nearest GROUPS are selected, their member cells are
    concatenated, and the ``n_probe`` nearest cells of that UNION are
    probed — so a query sitting on a group boundary also sees the adjacent
    group's cells. Per-row cost grows to O(sqrt(K)·dim·g); still zero
    Exchange, still one deterministic rule the oracle can mirror.
    """
    rows = centroids.collect() if isinstance(centroids, DataFrame) else list(centroids)
    if not rows:
        return (
            corpus
            .select(F.col(id_col), F.col(vec_col), F.lit(None).cast("int").alias("centroid_id"))
            .filter(F.lit(False))
        )
    groups = build_centroid_groups(rows, round_digits)
    scale = float(10**round_digits)

    # r15: both stages run in ONE vectorized kernel (guide §4.2 — the
    # former higher-order-function folds were interpreted per element; see
    # the kernel block above for the bit-identity contract). The centroid
    # set rides in the UDF closure — the same data the r14 broadcast
    # LocalRelation carried — so K stays bounded by data size, not plan
    # size (the K-independence test pins this on the argmin path).
    gcands = [(int(gid), list(gvec), float(gnorm)) for gid, gvec, gnorm, _ in groups]

    def member_rows(members: "list[Row]") -> "list[tuple]":
        out = []
        for r in sorted(members, key=lambda r: int(r["centroid_id"])):
            cvec = [float(x) for x in r["centroid"]]
            acc = 0.0
            for x in cvec:
                acc = acc + x * x
            out.append((int(r["centroid_id"]), cvec, math.sqrt(acc)))
        return out

    mem = [member_rows(m) for _, _, _, m in groups]
    g_take = min(n_probe_groups, len(gcands))
    maxm = max(len(ms) for ms in mem)
    pad_cid = 1 << 62  # sorts after every real cid at equal ns

    def _cells_fn(vecs):
        import numpy as np
        import pandas as pd

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = _np_rows(vecs, len(gcands[0][1]))
        vnorm = _np_norm(mat)
        # stage 1: each row's g_take nearest GROUPS — gids are 0..G-1 in
        # column order, so a stable argsort tie-breaks (ns, gid) exactly
        gns = _np_neg_sims(mat, vnorm, gcands, scale)
        gsel = np.argsort(gns, axis=1, kind="stable")[:, :g_take]
        # stage 2: pool the selected groups' member cells per row and rank
        # the union by (ns, cid) — computed group-by-group (vectorized over
        # the rows that selected each group), merged via one structured
        # lexicographic sort per batch. Work/memory stays O(rows × g_take ×
        # max_group_size), the hierarchy's whole point.
        n = mat.shape[0]
        dt = np.dtype([("ns", "f8"), ("cid", "i8")])
        cand = np.empty((n, g_take * maxm), dtype=dt)
        cand["ns"] = np.inf
        cand["cid"] = pad_cid
        for g in range(len(gcands)):
            row_mask = (gsel == g).any(axis=1)
            if not row_mask.any():
                continue
            ns_g = _np_neg_sims(mat[row_mask], vnorm[row_mask], mem[g], scale)
            slot = np.argmax(gsel[row_mask] == g, axis=1)
            rows_idx = np.nonzero(row_mask)[0]
            w = len(mem[g])
            gcids = [c for c, _, _ in mem[g]]
            for s in range(g_take):
                m2 = slot == s
                if not m2.any():
                    continue
                ridx = rows_idx[m2][:, None]
                cols = np.arange(s * maxm, s * maxm + w)
                cand["ns"][ridx, cols] = ns_g[m2]
                cand["cid"][ridx, cols] = gcids
        cand.sort(axis=1, order=("ns", "cid"))
        take = min(n_probe, cand.shape[1])
        return pd.Series(
            [[int(c) for c in cand["cid"][r, :take] if c != pad_cid] for r in range(n)]
        )

    cells_udf = F.pandas_udf(_cells_fn, "array<int>").asNondeterministic()
    return (
        corpus
        .withColumn("__cells", cells_udf(F.col(vec_col)))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.explode(F.col("__cells")).alias("centroid_id"),
        )
    )


def _attach_argmin_cell(
    df: DataFrame,
    rows: "list[Row]",
    vec_col: str,
    out_col: str,
    round_digits: int = 6,
) -> DataFrame:
    """``withColumn(out_col, <id of the single nearest centroid>)`` —
    exact argmin over all K candidates: rounded cosine desc, centroid_id
    asc tie-break, zero-norm denominators excluded via +Infinity.

    r15: one vectorized kernel (guide §4.2 — see the kernel block above
    for the bit-identity contract). The candidate set rides in the UDF
    closure (same data the r14 broadcast LocalRelation carried), so the
    analyzed plan stays K-independent — pinned by the K=256 test."""
    scale = float(10**round_digits)
    items = []
    for r in sorted(rows, key=lambda r: int(r["centroid_id"])):
        cvec = [float(x) for x in r["centroid"]]
        acc = 0.0
        for x in cvec:
            acc = acc + x * x
        items.append((int(r["centroid_id"]), cvec, math.sqrt(acc)))
    cids = [c[0] for c in items]

    def _argmin_fn(vecs):
        import numpy as np
        import pandas as pd

        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        mat = _np_rows(vecs, len(items[0][1]))
        ns = _np_neg_sims(mat, _np_norm(mat), items, scale)
        best = np.argsort(ns, axis=1, kind="stable")[:, 0]
        return pd.Series(np.asarray(cids, dtype="int32")[best])

    argmin_udf = F.pandas_udf(_argmin_fn, "int").asNondeterministic()
    return df.withColumn(out_col, argmin_udf(F.col(vec_col)))


def train_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
    sample_pct: int = 30,
    iters: int = 2,
    round_digits: int = 6,
) -> "list[Row]":
    """Sampled Lloyd k-means expressed as DataFrame aggregations — the
    production centroid build the label-derived fixtures stand in for.

    - **Sample**: deterministic md5-bucket filter (``hash_bucket(id) <
      sample_pct`` — the same engine-independent idiom as
      operators/sampling.py), so every engine trains on identical rows; at
      100 TB the sample is a narrow scan-side filter, never a full pass.
    - **Init**: the ``k`` sampled vectors with the smallest ids
      (deterministic and oracle-mirrorable; k-means++ is inherently
      sequential-RNG and would break cross-engine reproducibility).
    - **Iterate**: nearest-centroid assignment is a map-side fold over the
      centroid array literal (zero shuffles), new centroids are the
      posexplode → per-(cell, pos) AVG partial-agg from
      :func:`label_centroids`, floor-rounded componentwise; a cell that
      loses every member keeps its previous centroid. Each iteration is one
      job over the SAMPLE; only K x dim doubles ever reach the driver.

    Returns ``[Row(centroid_id, centroid)]`` ready for
    :func:`hierarchical_assign_cells` / :func:`ivf_topk_hier`.
    """
    from pontem_spark.operators.sampling import hash_bucket

    sample = corpus.filter(hash_bucket(id_col, 100) < sample_pct).select(
        id_col, vec_col
    )
    # Pin the training sample once while it is provably small (r14): every
    # Lloyd job below otherwise re-analyzes and re-executes the scan+filter
    # subtree — measured ~-6-9% sentinel-normalized on trained-IVF, neutral
    # on semantic-dedup. Bounded by `pontem.ivf.pinSampleBytes` (default
    # 1 GiB of ESTIMATED sample bytes = input size x sample_pct, metadata
    # only): at 100 TB a 30% sample must NOT be spooled to executor
    # storage — recomputing the narrow column-pruned scan per job is
    # cheaper there, so past the bound the original lazy shape is kept.
    try:
        est_bytes = sum(
            __import__("os").path.getsize(f[7:] if f.startswith("file://") else f)
            for f in corpus.inputFiles()
        ) * sample_pct / 100.0
    except Exception:  # non-file sources: unknown size, stay lazy
        est_bytes = float("inf")
    pin_bound = int(
        corpus.sparkSession.conf.get("pontem.ivf.pinSampleBytes", str(1 << 30))
    )
    if est_bytes <= pin_bound:
        sample = sample.localCheckpoint(eager=True)
    init = sample.orderBy(id_col).limit(k).collect()
    cents = [
        Row(
            centroid_id=i,
            centroid=[_portable_round_py(float(x), round_digits) for x in r[vec_col]],
        )
        for i, r in enumerate(init)
    ]
    # (r14 probe: chaining the Lloyd iterations as ONE lazy plan — the next
    # round's candidate row derived in-plan from label_centroids, broadcast
    # back, keep-previous rule as a left join, bit-identical centroids
    # oracle-proven both SFs — measured +47%/+56% (semantic 2.55->3.75,
    # trained_topk 3.38->5.28, 5-run medians, stable sentinel): each layer
    # embeds the previous round's full subtree, so analysis cost grows
    # superlinearly and swamps the one saved job per iteration. Kept the
    # driver-side collect-per-iteration loop deliberately.)
    for _ in range(iters):
        assigned = _attach_argmin_cell(
            sample,
            cents,
            vec_col,
            "cid",
            round_digits,
        )
        new_rows = label_centroids(
            assigned, id_col, vec_col, "cid", dim, round_digits
        ).collect()
        new = {int(r["centroid_id"]): [float(x) for x in r["centroid"]] for r in new_rows}
        cents = [
            Row(
                centroid_id=int(c["centroid_id"]),
                centroid=new.get(int(c["centroid_id"]), list(c["centroid"])),
            )
            for c in cents
        ]
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    dim: int = 64,
    n_probe: int = 3,
    round_digits: int = 6,
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF ANN: corpus vectors live in their 1 nearest cell; queries probe
    their ``n_probe`` nearest cells; ranking happens only among cell-mates.
    Returns (query_id, neighbor_id, cos_sim, rank).

    The query set is broadcast by default (ANN query batches are small
    relative to the corpus), so the probe is a broadcast hash join — the
    corpus is scored in place, never shuffled; the only exchange is the
    per-query top-k window over candidate rows. Pass
    ``broadcast_queries=False`` for corpus-sized query sets.
    """
    # K x dim rows — one collect at build time; the list feeds both
    # assignment expressions with zero further Spark jobs
    cents = label_centroids(corpus, id_col, vec_col, label_col, dim, round_digits).collect()
    corpus_cells = assign_cells(corpus, cents, id_col, vec_col, dim, n_probe=1, round_digits=round_digits)
    query_cells = assign_cells(queries, cents, id_col, vec_col, dim, n_probe=n_probe, round_digits=round_digits)

    c = corpus_cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        V.norm_fixed(vec_col, dim).alias("__cnorm"),
        "centroid_id",
    )
    q = query_cells.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        V.norm_fixed(vec_col, dim).alias("__qnorm"),
        "centroid_id",
    )
    sim = rnd(
        V.cosine_with_norms("__qvec", "__cvec", F.col("__qnorm"), F.col("__cnorm"), dim),
        round_digits,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    # No dedup needed: corpus vectors live in exactly ONE cell (n_probe=1
    # on the corpus side), so a (query, neighbor) pair joins on at most one
    # shared centroid even when the query probes several cells.
    return (
        c.join(F.broadcast(q) if broadcast_queries else q, "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk_hier(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_key_col: str = "cell_key",
    k: int = 5,
    dim: int = 64,
    n_probe: int = 3,
    round_digits: int = 6,
    broadcast_queries: bool = True,
    n_probe_groups: int = 1,
    centroids: "list[Row] | None" = None,
) -> DataFrame:
    """IVF top-k with the LARGE-K build: ``cell_key_col`` (any integer
    column — e.g. a fine-grained composite label, or a k-means cell id from
    a previous iteration) defines the K cells, the coarse sqrt(K) quantizer
    from :func:`build_centroid_groups` routes each vector to its group
    map-side, and the within-group argmin picks the cell.

    Queries probe their ``n_probe`` nearest cells drawn from their
    ``n_probe_groups`` nearest groups (default 1 — the classic hierarchical
    recall trade: a query near a group boundary may miss a neighbor routed
    to the adjacent group; raising ``n_probe_groups`` to 2 is the standard
    production mitigation, and the oracle mirrors the exact rule either
    way). Corpus vectors always live in exactly ONE cell of their single
    nearest group, so no candidate-pair dedup is ever needed.
    Probe is the same broadcast equi-join as :func:`ivf_topk`.

    ``centroids``: pre-built centroid rows (e.g. from
    :func:`train_centroids`); defaults to per-``cell_key_col`` means.
    """
    if centroids is None:
        centroids = label_centroids(
            corpus, id_col, vec_col, cell_key_col, dim, round_digits
        ).collect()
    cents = centroids
    corpus_cells = hierarchical_assign_cells(
        corpus, cents, id_col, vec_col, dim, n_probe=1, round_digits=round_digits
    )
    query_cells = hierarchical_assign_cells(
        queries, cents, id_col, vec_col, dim, n_probe=n_probe,
        round_digits=round_digits, n_probe_groups=n_probe_groups,
    )

    c = corpus_cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        V.norm_fixed(vec_col, dim).alias("__cnorm"),
        "centroid_id",
    )
    q = query_cells.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        V.norm_fixed(vec_col, dim).alias("__qnorm"),
        "centroid_id",
    )
    sim = rnd(
        V.cosine_with_norms("__qvec", "__cvec", F.col("__qnorm"), F.col("__cnorm"), dim),
        round_digits,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        c.join(F.broadcast(q) if broadcast_queries else q, "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
