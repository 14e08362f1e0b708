"""InternalFrame: the single representation shared by Series and DataFrame.

An InternalFrame is an immutable wrapper around one Spark DataFrame (the
*anchor*) plus metadata naming the index column. Series/DataFrame objects
hold (internal, Column-expression(s)) pairs; deriving a new Series from the
same anchor is pure expression composition — zero Spark jobs, one growing
Catalyst plan (vs the reference's per-op RDD re-ingestion + zipWithIndex,
``pontem/series/series.py:96-100,226``).

Index policy (SURVEY §1.4): the index is an ordinary column, materialized at
construction for driver-local data (it IS data there). For big wrapped Spark
DataFrames, ``from_spark(..., index=None)`` attaches a distributed sequence
id only when explicitly requested — never silently materialize 0..n-1 over
100 TB.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame as SparkDataFrame, SparkSession, functions as F

INDEX_COL = "__index__"

# pandas dtype name → Spark SQL type name (astype table; the reference only
# implemented 'int', `pontem/series/series.py:183-188`)
DTYPE_TO_SPARK: dict[str, str] = {
    "int": "bigint",
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "double",
    "float32": "float",
    "float64": "double",
    "str": "string",
    "string": "string",
    "object": "string",
    "bool": "boolean",
    "boolean": "boolean",
    "datetime64[ns]": "timestamp",
    "datetime64[us]": "timestamp",
    "date": "date",
}


def to_spark_type(dtype: Any) -> str:
    """Accept python types, numpy dtypes, pandas dtype strings."""
    if dtype is int:
        return "bigint"
    if dtype is float:
        return "double"
    if dtype is str:
        return "string"
    if dtype is bool:
        return "boolean"
    name = getattr(dtype, "name", None) or str(dtype)
    lowered = name.lower()
    if lowered in DTYPE_TO_SPARK:
        return DTYPE_TO_SPARK[lowered]
    # Spark SQL type strings pass through verbatim: decimal(p,s), nested
    # array<>/map<>/struct<> — validated by Spark's own parser at cast time
    if lowered.startswith(("decimal", "array<", "map<", "struct<")):
        return lowered
    raise TypeError(f"unsupported dtype for astype: {dtype!r}")


def empty_upload_schema(pdf) -> str:
    """Explicit DDL schema for a ZERO-ROW pandas upload — Spark refuses
    to infer from an empty dataset (r14 probe R8: ``DataFrame({"x": []})``
    crashed with CANNOT_INFER_EMPTY_SCHEMA). pandas dtypes map through;
    object (the dtype of an empty python list / empty index) degrades to
    string for the index and double for value columns, matching pandas'
    float64 default for empty columns."""
    parts = []
    for c in pdf.columns:
        s = str(pdf[c].dtype).lower()
        if s.startswith("float"):
            t = "double"
        elif s.startswith(("int", "uint")):
            t = "bigint"
        elif s == "bool":
            t = "boolean"
        elif s.startswith("datetime"):
            t = "timestamp"
        elif c == INDEX_COL:
            t = "string"
        else:
            t = "double"
        parts.append(f"`{c}` {t}")
    return ", ".join(parts)


def devoid(sdf: SparkDataFrame) -> SparkDataFrame:
    """Cast NullType ('void') columns to double. An all-missing column in
    a driver-local ctor arrives as Spark NullType, which no arithmetic,
    comparison, or writer accepts — pandas treats such a column as float
    NaN in any numeric context (r13 frame-chain probe, seed 104)."""
    voids = [
        f.name for f in sdf.schema.fields if f.dataType.simpleString() == "void"
    ]
    for n in voids:
        sdf = sdf.withColumn(n, F.col(n).cast("double"))
    return sdf


def guard_unique_labels(
    source: SparkDataFrame, label_col: str, out: SparkDataFrame, out_label_col: str
) -> SparkDataFrame:
    """pandas parity for reindex/reindex_like: duplicate labels in the
    SOURCE index would fan out the left join and silently multiply rows;
    pandas raises 'cannot reindex on an axis with duplicate labels'. The
    check is a LAZY in-plan raise_error over a broadcast 1-row stat (the
    resample grid-guard idiom) — no eager probe job. count_distinct over a
    struct so duplicated NULL labels also trip the guard."""
    stat = source.agg(
        (
            F.count(F.lit(1)) > F.count_distinct(F.struct(F.col(label_col)))
        ).alias("__dup__")
    )
    guarded = out.crossJoin(F.broadcast(stat))
    return guarded.withColumn(
        out_label_col,
        F.when(
            F.col("__dup__"),
            F.raise_error(
                F.lit("cannot reindex on an axis with duplicate labels")
            ),
        ).otherwise(F.col(out_label_col)),
    ).drop("__dup__")


def rowalign_left_join(
    left: SparkDataFrame,
    right: SparkDataFrame,
    helper_keys: "list[str]",
    payload: "str | list[str]",
) -> SparkDataFrame:
    """LEFT join ``right``'s single ``payload`` column onto ``left`` by
    index label plus the shared order-spec helper columns. Helper keys
    compare NULL-SAFE: an alignment helper can legitimately hold NULL
    in every row (e.g. the aligned-binop ``__alunion__`` marker when
    fully matched), and a name-list join's plain equality would then
    silently drop every match (r12 probe batch 4). The index label
    itself keeps plain equality — the pre-existing missing-label rule."""
    payloads = [payload] if isinstance(payload, str) else list(payload)
    l, r = left.alias("l"), right.alias("r")
    cond = F.col(f"l.{INDEX_COL}") == F.col(f"r.{INDEX_COL}")
    for n in helper_keys:
        cond = cond & F.col(f"l.{n}").eqNullSafe(F.col(f"r.{n}"))
    if "__ctor__" in helper_keys:
        # arange helper — unique per row by construction, so the join key
        # is provably total: skip the duplicate-key guard below
        return l.join(r, cond, "left").select(
            *[F.col(f"l.{c}").alias(c) for c in left.columns],
            *[F.col(f"r.{p}").alias(p) for p in payloads],
        )
    # the payload contract is ≤1 right row per left row; a RIGHT side whose
    # join key repeats would silently fan the left out k per repeated key
    # instead — pandas raises. Lazy 1-row broadcast stat (guard_unique_labels
    # idiom): key-column-pruned agg, no eager job, raises at first
    # materialization of any payload column. Lineage-shared helper keys are
    # unique per row, so the guard stays silent on every rowalign path.
    stat = right.agg(
        (
            F.count(F.lit(1))
            > F.count_distinct(
                F.struct(F.col(INDEX_COL), *[F.col(n) for n in helper_keys])
            )
        ).alias("__dup_rjk__")
    )
    return (
        l.join(r, cond, "left")
        .crossJoin(F.broadcast(stat))
        .select(
            *[F.col(f"l.{c}").alias(c) for c in left.columns],
            *[
                F.when(
                    F.col("__dup_rjk__"),
                    F.raise_error(
                        F.lit("cannot reindex on an axis with duplicate labels")
                    ),
                )
                .otherwise(F.col(f"r.{p}"))
                .alias(p)
                for p in payloads
            ],
        )
    )


def rowalign_keys(
    left: "InternalFrame",
    right: "InternalFrame",
    a: SparkDataFrame,
    b: SparkDataFrame,
) -> "list[str]":
    """Extra join-key helper names when ``right`` is a row-aligned
    derivation of ``left``'s visible order (EQUAL order specs — e.g.
    s ⊕ s.shift(), df.update(df.shift())): the spec's helper columns
    (__ctor__ position, sort keys) present in both materializations
    ``a``/``b`` pair rows positionally, so duplicate index labels don't
    fan the label join out k² per label where pandas stays positional
    (r12 probe batch 4). Different specs → label-only join. Every
    aligner — binops, where/mask, update, combine_first, setitem —
    takes its keys from here."""
    spec = left.order_spec
    if not spec or right.order_spec != spec:
        return []
    # lineage proof required: equal spec NAMES alone are not enough —
    # two INDEPENDENT sort_values results share helper names but not
    # values, and joining on them would drop genuinely matched labels
    # (r12: the suite's identical-index sort_values pin doubled)
    if not (left.row_tokens & right.row_tokens):
        return []
    return [
        n for n, _ in spec if n != INDEX_COL and n in a.columns and n in b.columns
    ]


_PAIR_MSG = (
    "cannot pair rows positionally: duplicate index labels tie on every "
    "order-spec column; sort by a unique key or reset_index first"
)


def align_rows(
    left: "InternalFrame",
    right: "InternalFrame",
    a: SparkDataFrame,
    b: SparkDataFrame,
    lvals: "dict[str, str]",
    rvals: "dict[str, str]",
    strict: "str | None" = None,
):
    """pandas row alignment of two anchors — the one cross-anchor row
    pairing under Series and DataFrame binops.

    ``a``/``b`` are the materialized operands (index, value columns,
    order-spec helpers); ``lvals``/``rvals`` map each side's value
    columns to their names in the result. ``strict`` is the ValueError
    message of dunder comparisons, raised lazily when the two visible
    row sequences are not identical. Returns ``(internal, finish)``:
    the aligned anchor (index-name merge and result order spec
    included) and the wrapper every output cell must pass through —
    it raises the strict and non-total-rowalign errors in-plan.

    Plan shape: ONE full-outer label join when either side is in index
    order (spec None — the big-data path). Only when BOTH sides carry a
    custom visible order (or ``strict``) does the cart/pos machinery
    engage."""
    # MultiIndex vs flat (or differing level counts) cannot align —
    # pandas raises before any data moves, and the struct-vs-scalar
    # join would be a DATATYPE_MISMATCH anyway (r14 probe M4)
    lnm, rnm = left.index_name, right.index_name
    lmi, rmi = isinstance(lnm, tuple), isinstance(rnm, tuple)
    if lmi != rmi or (lmi and len(lnm) != len(rnm)):
        raise ValueError("cannot join with no overlapping index names")
    spec, rspec = left.order_spec, right.order_spec
    rkeys = rowalign_keys(left, right, a, b)
    # pandas 2.x ARITHMETIC alignment with duplicate labels and
    # non-identical sequences is the per-label cartesian (k_l × k_r
    # rows per label, union of labels) — measured, NOT a raise (only
    # the reindex-class ops — where/update/reindex — raise). A plain
    # label join IS that semantic, so the label-only path needs no
    # guard. The one case that must raise is the ROWALIGN path with a
    # NON-TOTAL key: lineage says the sequences are identical (pandas
    # would pair positionally) but the helper columns tie, so the join
    # can neither pair rows nor produce pandas' cartesian — a lazy
    # 1-row stat raises instead of returning k²-wrong rows. A
    # '__ctor__' rowalign key is an arange — unique per row by
    # construction — so the ctor hot path skips the stat's two aggs.
    pairstat = None
    if rkeys and "__ctor__" not in rkeys:
        gkeys = F.struct(*[F.col(k) for k in (INDEX_COL, *rkeys)])

        def dup(sdf, n):
            return sdf.agg((F.count(F.lit(1)) > F.count_distinct(gkeys)).alias(n))

        pairstat = (
            dup(a, "__dupl__")
            .crossJoin(dup(b, "__dupr__"))
            .select((F.col("__dupl__") | F.col("__dupr__")).alias("__dup_pair__"))
        )
    # the LEFT operand's visible order carries to the result (pandas: a
    # sorted series stays sorted through s - s.shift() — r10 probe).
    # Left spec keys that are ALSO value columns ride as the RAW LEFT
    # value under a helper name: the visible value column becomes the
    # COMBINED value, which would silently re-order the result.
    extras: dict[str, str] = {}
    for i, (n, _) in enumerate(spec or ()):
        if n != INDEX_COL and n in a.columns and n not in extras:
            extras[n] = f"__lspec{i}__" if n in lvals or n in rvals else n
    out_spec = (
        tuple(
            (extras.get(n, n), asc)
            for n, asc in spec
            if n == INDEX_COL or n in a.columns
        )
        if spec is not None
        else None
    )

    def values(lq: str, rq: str) -> "list[Column]":
        return [
            *[F.col(f"{lq}.{s}").alias(d) for s, d in lvals.items()],
            *[F.col(f"{rq}.{s}").alias(d) for s, d in rvals.items()],
        ]

    label = F.coalesce(F.col(f"l.{INDEX_COL}"), F.col(f"r.{INDEX_COL}"))
    jcond = F.col(f"l.{INDEX_COL}") == F.col(f"r.{INDEX_COL}")
    for n in rkeys:
        jcond = jcond & F.col(f"l.{n}").eqNullSafe(F.col(f"r.{n}"))
    joined = a.alias("l").join(b.alias("r"), jcond, "full_outer")
    if strict is None and (spec is None or rspec is None):
        # No left visible order to defend — or the RIGHT side is in
        # index order (spec None), where pandas preserves the left order
        # only when the sequences are IDENTICAL, which forces the left
        # to be index-ordered too: either way the sorted union
        # (materialization's index sort) is pandas-correct, and no
        # matched-stat machinery is needed (r11 probe 3: sort_values-left
        # ⊕ fresh-right kept left order where pandas sorts). ONE
        # shuffle — the 100 TB path.
        sdf = joined.select(label.alias(INDEX_COL), *values("l", "r"))
        out_spec = None
    else:
        from pyspark.sql.window import Window

        def position(sdf, side_spec):
            w = Window.orderBy(
                *[
                    F.col(n).asc() if asc else F.col(n).desc()
                    for n, asc in (side_spec or ())
                    if n in sdf.columns
                ],
                F.col(INDEX_COL).asc(),
            )
            return F.row_number().over(w)

        # pandas keeps the existing order only when the two visible
        # SEQUENCES are identical (Index.equals is element-wise), so a
        # set test is not enough: s.sort_values() + s.sort_values(
        # ascending=False) has fully-matched labels but must re-sort to
        # the union index (ADVICE r12). Enumerate each side's visible
        # position (row_number over its order spec, index tie-break) and
        # fold "any unmatched label OR any position disagreement" into
        # one lazy 1-row stat — joined ON POSITION, compared BY LABEL,
        # so duplicate labels can't fan the stat out like a label join
        # would (r12 probe batch 4). Two global windows — but only on
        # this rare path, never on the spec-None fast path.
        a_pos = a.withColumn("__lp__", position(a, spec))
        b_pos = b.withColumn("__rp__", position(b, rspec))
        mism = (
            a_pos.select(F.col(INDEX_COL).alias("__li__"), "__lp__")
            .join(
                b_pos.select(F.col(INDEX_COL).alias("__ri__"), "__rp__"),
                F.col("__lp__") == F.col("__rp__"),
                "full_outer",
            )
            .agg(
                F.max(
                    F.col("__lp__").isNull()
                    | F.col("__rp__").isNull()
                    | ~F.col("__li__").eqNullSafe(F.col("__ri__"))
                ).alias("__mism__")
            )
        )
        # unique union helper per alignment: chained binops ((s1+s2)+s3)
        # would otherwise carry the previous one as a spec extra AND
        # alias a new one — AMBIGUOUS_REFERENCE (the same collision class
        # as chained explode's '__epos__')
        taken = (
            {n for n, _ in (spec or ())}
            | set(lvals.values())
            | set(rvals.values())
            | set(extras.values())
        )
        k = 0
        while f"__alunion{k}__" in taken:
            k += 1
        alunion = f"__alunion{k}__"
        carried = [F.col(f"l.{s}").alias(d) for s, d in extras.items()]
        flag = [F.col("__mism__")] if strict is not None else []
        # pandas pairs POSITIONALLY when the sequences are identical
        # (Index.equals short-circuits alignment); under duplicate labels
        # the label join would instead produce the per-label cartesian —
        # pandas' answer only for DIFFERING sequences (r13 probe: abs ⊕
        # sort_index on an already-sorted ctor series fanned 5 rows to
        # 17). Build BOTH pairings, each filtered by the 1-row broadcast
        # flag, and union: exactly one side is non-empty at runtime.
        cart = (
            joined.crossJoin(F.broadcast(mism))
            .filter(F.col("__mism__"))
            .select(
                label.alias(INDEX_COL),
                *values("l", "r"),
                *carried,
                label.alias(alunion),
                *flag,
            )
        )
        pos = (
            a_pos.alias("l")
            .join(b_pos.alias("r"), F.col("l.__lp__") == F.col("r.__rp__"), "inner")
            .crossJoin(F.broadcast(mism))
            .filter(~F.col("__mism__"))
            .select(
                F.col(f"l.{INDEX_COL}").alias(INDEX_COL),
                *values("l", "r"),
                *carried,
                F.lit(None).cast(a.schema[INDEX_COL].dataType).alias(alunion),
                *flag,
            )
        )
        sdf = cart.unionByName(pos)
        # a fully-matched identical sequence keeps the left order (the
        # union helper is constant NULL); any mismatch re-sorts to the
        # sorted union index. Strict comparisons keep the LEFT order —
        # identical labels are required, the cart branch raises.
        if strict is None:
            out_spec = ((alunion, True),) + (out_spec or ())
    if pairstat is not None:
        sdf = sdf.crossJoin(F.broadcast(pairstat))

    def finish(col: Column) -> Column:
        if strict is not None:
            col = F.when(F.col("__mism__"), F.raise_error(F.lit(strict))).otherwise(col)
        if pairstat is not None:
            col = F.when(
                F.col("__dup_pair__"), F.raise_error(F.lit(_PAIR_MSG))
            ).otherwise(col)
        return col

    index_name = lnm if lnm == rnm else None
    return InternalFrame(sdf, INDEX_COL, index_name, out_spec), finish


def next_epos_name(order_spec) -> str:
    """A position-helper column name not already used by ``order_spec``.

    Chained explode/repeat each append a posexplode position to the spec;
    reusing one fixed name would both carry the OLD helper as a spec extra
    and alias the NEW posexplode to it — a duplicate column that fails
    materialization with AMBIGUOUS_REFERENCE (ADVICE r10)."""
    names = {n for n, _ in (order_spec or ())}
    if "__epos__" not in names:
        return "__epos__"
    k = 2
    while f"__epos{k}__" in names:
        k += 1
    return f"__epos{k}__"


def default_session() -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    from pontem_spark.session import get_spark

    return get_spark()


def upload(pdf, spark: "SparkSession | None" = None):
    """The one driver-local upload: a pandas frame → ``(InternalFrame,
    {name: Column})`` with the index as INDEX_COL and one column per pandas
    column, named ``str(c)`` — one Arrow createDataFrame call, no RDD round
    trip, no inference jobs (the reference ran take(1)/zipWithIndex jobs
    during construction, ``data_prep.py:50-95``). DataFrame uploads its
    frame; Series uploads itself as a one-column frame."""
    import numpy as np
    import pandas as pd

    spark = spark or default_session()
    cols = [str(c) for c in pdf.columns]
    if isinstance(pdf.index, pd.MultiIndex):
        # struct-backed MultiIndex, same representation as
        # set_index([k1, k2]) — one struct column whose field ORDER
        # is the level order (struct sort == MultiIndex sort).
        # index_name keeps the TRUE level names (None preserved, so
        # to_pandas round-trips unnamed levels); struct fields fall
        # back to level_{i} — _index_level_names/reset_index resolve
        # display names against the schema (r14).
        mi = pdf.index
        frame = pdf.reset_index(drop=True)
        frame.columns = cols
        lvl_fields = [
            str(n) if n is not None else f"level_{i}" for i, n in enumerate(mi.names)
        ]
        for i, fld in enumerate(lvl_fields):
            frame.insert(i, fld, mi.get_level_values(i).to_numpy())
        index_name: Any = tuple(mi.names)
    else:
        frame = pdf.reset_index()
        frame.columns = [INDEX_COL] + cols
        lvl_fields = None
        index_name = pdf.index.name
    # pandas preserves CONSTRUCTION order; with a non-monotonic explicit
    # index, "sort by index at materialization" (spec None) would both
    # display differently AND feed positional ops (shift/cumsum/head)
    # the wrong row order (r11 probe 5). A monotonic index with
    # DUPLICATE labels needs the helper too: Spark's sort is unstable,
    # so intra-duplicate order would be nondeterministic (ADVICE r11).
    # Record the pandas order in a helper column — only when index
    # order alone can't reproduce it, so the common RangeIndex path
    # stays column-free.
    try:
        ordered = bool(pdf.index.is_monotonic_increasing and pdf.index.is_unique)
    except TypeError:
        ordered = False
    spec = None
    if not ordered:
        # a user column literally named like the helper must not be
        # silently overwritten (ADVICE r11) — mint a fresh name
        ctor = "__ctor__"
        k = 2
        while ctor in cols:
            ctor = f"__ctor{k}__"
            k += 1
        frame[ctor] = np.arange(len(frame), dtype="int64")
        spec = ((ctor, True),)
    if len(frame) == 0:
        sdf = devoid(spark.createDataFrame(frame, schema=empty_upload_schema(frame)))
    else:
        sdf = devoid(spark.createDataFrame(frame))
    if lvl_fields is not None:
        sdf = sdf.withColumn(INDEX_COL, F.struct(*[F.col(n) for n in lvl_fields])).drop(
            *lvl_fields
        )
    return InternalFrame(sdf, INDEX_COL, index_name, spec), {c: sdf[c] for c in cols}


class InternalFrame:
    """Anchor Spark DataFrame + index metadata. Immutable.

    ``order_spec`` records the frame's pandas-visible row order as
    (materialized-column-name, ascending) pairs; None means index order.
    pandas is order-preserving and Spark is not, so materialization points
    (head/to_pandas/repr) sort by this spec — and ONLY there (SURVEY §4:
    'ordering guarantees ... sort at materialization points only')."""

    __slots__ = ("sdf", "index_spark_col", "index_name", "order_spec", "row_tokens")

    def __init__(
        self,
        sdf: SparkDataFrame,
        index_spark_col: str,
        index_name: Any = None,
        order_spec: tuple[tuple[str, bool], ...] | None = None,
        row_tokens: "frozenset | None" = None,
    ):
        self.sdf = sdf
        self.index_spark_col = index_spark_col
        self.index_name = index_name
        self.order_spec = order_spec
        # row-identity lineage: a row-preserving derivation (shift/cumsum/
        # where/... — 1 row in, 1 row out, helper columns copied through)
        # passes its source's tokens, so aligners can recognize "these two
        # operands are the SAME rows" and join on the order-spec helper
        # columns under duplicate index labels (r12 probe batch 4). Equal
        # spec NAMES alone are not a lineage proof: two independent
        # sort_values results share helper names but not values.
        self.row_tokens = row_tokens if row_tokens is not None else frozenset((object(),))

    @property
    def index_col(self) -> Column:
        return self.sdf[self.index_spark_col]

    def order_columns(self, default_col: str) -> list[Column]:
        spec = self.order_spec or ((default_col, True),)
        return [F.col(c).asc() if asc else F.col(c).desc() for c, asc in spec]

    def materialize(self, cols: "dict[str, Column]") -> SparkDataFrame:
        """The anchor projected to the index (as INDEX_COL) and ``cols``
        under their names. Order-spec helper columns (sort_values'
        ``__miss__`` flags) survive, so downstream positional ops can
        reference the spec; user-facing edges select by name and never
        show them."""
        extras = dict.fromkeys(
            n
            for n, _ in (self.order_spec or ())
            if n != INDEX_COL and n not in cols and n in self.sdf.columns
        )
        return self.sdf.select(
            self.index_col.alias(INDEX_COL),
            *[c.alias(k) for k, c in cols.items()],
            *[F.col(n) for n in extras],
        )
