"""DataFrame: the multi-column frame the reference promised but never built
(``pontem/dataframe/__init__.py`` is an empty module — SURVEY §0, §2.G).

Same anchor-sharing design as Series: a DataFrame is (anchor Spark frame,
ordered {name: Column expression}). Column assignment ``df['c'] = df['a'] * 2``
(the reference README's pitch, ``README.md:16-19``) is pure expression
bookkeeping — zero jobs until an action.
"""

from __future__ import annotations

from typing import Any, Iterable, Mapping

from pyspark.sql import Column, DataFrame as SparkDataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType

from pontem_spark.core.cells import (
    COMPARISONS,
    combine_cells,
    dtype_class,
    dtypes,
    missing,
    scalar_dtype,
    truediv_cols,
    unary,
)
from pontem_spark.core.internal import (
    INDEX_COL,
    InternalFrame,
    align_rows,
    default_session,
    next_epos_name,
    rowalign_keys,
    rowalign_left_join,
)
from pontem_spark.core.series import _VALUE, Series

_ROWID = "__rowid__"


class _ReverseOrder:
    """Sort-key wrapper inverting comparisons — lets ``sorted`` order a
    mixed asc/desc multi-column key tuple driver-side (reset_index
    boundary derivation)."""

    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v

    def __lt__(self, other):
        return other.v < self.v

    def __eq__(self, other):
        return self.v == other.v


class DataFrame:
    # -- construction -------------------------------------------------------

    def __init__(
        self,
        data: Mapping[str, Iterable] | Any = None,
        index: Iterable | None = None,
        spark: SparkSession | None = None,
    ):
        import pandas as pd

        if data is None:
            raise ValueError("DataFrame requires data")
        pdf = data if isinstance(data, pd.DataFrame) else pd.DataFrame(data)
        if index is not None:
            # a real pd.MultiIndex stays multi-level; any other iterable
            # (including a list of tuples) is a flat index, like pandas
            pdf = pdf.set_axis(
                index if isinstance(index, pd.MultiIndex) else list(index),
                axis=0,
            )
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
            upload = pdf.reset_index(drop=True)
            upload.columns = cols
            lvl_fields = [
                str(n) if n is not None else f"level_{i}"
                for i, n in enumerate(mi.names)
            ]
            for i, fld in enumerate(lvl_fields):
                upload.insert(i, fld, mi.get_level_values(i).to_numpy())
            mi_name: "tuple | None" = tuple(mi.names)
        else:
            upload = pdf.reset_index().rename(columns={"index": INDEX_COL})
            upload.columns = [INDEX_COL] + cols
            lvl_fields = None
            mi_name = None
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
            import numpy as np

            # a user column literally named like the helper must not be
            # silently overwritten (ADVICE r11) — mint a fresh name
            ctor = "__ctor__"
            k = 2
            while ctor in cols:
                ctor = f"__ctor{k}__"
                k += 1
            upload[ctor] = np.arange(len(upload), dtype="int64")
            spec = ((ctor, True),)
        from pontem_spark.core.internal import devoid, empty_upload_schema

        if len(upload) == 0:
            sdf = devoid(
                spark.createDataFrame(upload, schema=empty_upload_schema(upload))
            )
        else:
            sdf = devoid(spark.createDataFrame(upload))
        if lvl_fields is not None:
            sdf = sdf.withColumn(
                INDEX_COL, F.struct(*[F.col(n) for n in lvl_fields])
            ).drop(*lvl_fields)
            self._internal = InternalFrame(sdf, INDEX_COL, mi_name, spec)
        else:
            self._internal = InternalFrame(sdf, INDEX_COL, pdf.index.name, spec)
        self._columns: dict[str, Column] = {c: sdf[c] for c in cols}

    @classmethod
    def _from_internal(cls, internal: InternalFrame, columns: dict[str, Column]) -> "DataFrame":
        df = cls.__new__(cls)
        df._internal = internal
        df._columns = dict(columns)
        return df

    # -- metadata -----------------------------------------------------------

    @property
    def columns(self) -> list[str]:
        return list(self._columns)

    @property
    def index(self):
        from pontem_spark.core.indexes import Index

        return Index(self)

    @property
    def shape(self) -> tuple[int, int]:
        return (len(self), len(self._columns))

    def __len__(self) -> int:
        return self._internal.sdf.count()

    @property
    def dtypes(self):
        import pandas as pd

        mapping = self._dtype_map()
        return pd.Series({c: mapping[c] for c in self._columns})

    def _dtype_map(self) -> "dict[str, str]":
        """Spark dtype name per materialized column (one analysis)."""
        return {
            f.name: f.dataType.simpleString()
            for f in self._materialized().schema.fields
        }

    # -- materialization ------------------------------------------------------

    def _materialized(self) -> SparkDataFrame:
        # order-spec helper columns (e.g. sort_values' __miss_*__ missing
        # flags) must SURVIVE materialization: downstream consumers
        # (reset_index boundary sampling, positional ops) reference spec
        # names against this projection. They are excluded again at the
        # user-facing edges (to_pandas/to_spark/__repr__).
        extras = [
            n
            for n, _ in (self._internal.order_spec or ())
            if n != INDEX_COL and n not in self._columns and n in self._internal.sdf.columns
        ]
        extras = list(dict.fromkeys(extras))
        return self._internal.sdf.select(
            self._internal.index_col.alias(INDEX_COL),
            *[expr.alias(name) for name, expr in self._columns.items()],
            *[F.col(n) for n in extras],
        )

    def _materialized_user(self) -> SparkDataFrame:
        """Exactly INDEX + user columns — for edges and frame COMBINERS
        (merge/concat) where an order-spec helper column leaking through
        would either surface as a user column or break unionByName on
        frames with different specs."""
        return self._materialized().select(INDEX_COL, *self._columns)

    def to_spark(self, index_col: str | None = None) -> SparkDataFrame:
        """Escape hatch to the raw Spark DataFrame. By default the index
        travels under the internal ``__index__`` name; pass ``index_col``
        to expose it under a caller-chosen name instead (the
        pyspark.pandas ``to_spark(index_col=...)`` convention)."""
        sdf = self._materialized_user()
        if index_col is not None:
            sdf = sdf.withColumnRenamed(INDEX_COL, index_col)
        return sdf

    def _ordered(self, sdf):
        return sdf.orderBy(*self._internal.order_columns(INDEX_COL))

    def to_pandas(self):
        import pandas as pd

        pdf = self._ordered(self._materialized()).toPandas()
        pdf = pdf[[INDEX_COL, *self._columns]]  # drop order-spec helpers
        name = self._internal.index_name
        if isinstance(name, tuple):  # struct-backed MultiIndex
            if len(pdf) == 0:
                # from_tuples([]) cannot infer the level count
                idx = pd.MultiIndex.from_arrays([[] for _ in name], names=list(name))
            else:
                # Arrow materializes structs as dicts; classic rows as Row tuples
                idx = pd.MultiIndex.from_tuples(
                    [tuple(r.values()) if isinstance(r, dict) else tuple(r) for r in pdf[INDEX_COL]],
                    names=list(name),
                )
            return pdf.drop(columns=[INDEX_COL]).set_index(idx)
        if len(pdf) and isinstance(pdf[INDEX_COL].iloc[0], dict):
            # a FLAT index of python tuples uploads as a struct column;
            # convert the Arrow dicts back to tuples (r14 probe C9)
            pdf[INDEX_COL] = [tuple(r.values()) for r in pdf[INDEX_COL]]
        out = pdf.set_index(INDEX_COL)
        out.index.name = name
        return out

    def __repr__(self) -> str:
        preview = self._ordered(self._materialized()).limit(6).toPandas()
        preview = preview[[INDEX_COL, *self._columns]]
        body = preview.iloc[:5].set_index(INDEX_COL).to_string()
        more = "\n..." if len(preview) > 5 else ""
        return f"{body}{more}\n[pontem_spark.DataFrame: {len(self._columns)} columns, lazy]"

    # -- selection ------------------------------------------------------------

    def __getitem__(self, key):
        if isinstance(key, str):
            if key not in self._columns:
                raise KeyError(key)
            return Series._from_internal(self._internal, self._columns[key], key)
        if isinstance(key, list):
            missing = [k for k in key if k not in self._columns]
            if missing:
                raise KeyError(missing)
            return DataFrame._from_internal(self._internal, {k: self._columns[k] for k in key})
        if isinstance(key, Series):  # boolean mask
            if key._internal.sdf is self._internal.sdf:
                # project the columns + mask FIRST, then filter: a
                # window-derived column (df.assign(dd=df.duplicated())[mask])
                # must keep its PRE-filter values (r10 composition probe);
                # Catalyst substitutes the mask alias, so plain predicates
                # still push to the scan. The filter itself preserves the
                # visible order.
                extras = [
                    n
                    for n, _ in (self._internal.order_spec or ())
                    if n != INDEX_COL
                    and n not in self._columns
                    and n in self._internal.sdf.columns
                ]
                sdf = (
                    self._internal.sdf.select(
                        self._internal.index_col.alias(INDEX_COL),
                        *[expr.alias(name) for name, expr in self._columns.items()],
                        *dict.fromkeys(extras),
                        key._col.alias("__mask__"),
                    )
                    .filter(F.col("__mask__"))
                    .drop("__mask__")
                )
                internal = InternalFrame(
                    sdf, INDEX_COL, self._internal.index_name,
                    self._internal.order_spec,
                )
                return DataFrame._from_internal(
                    internal, {c: sdf[c] for c in self._columns}
                )
            mask = key._materialized("__m__").select(INDEX_COL, "__m__")
            sdf = self._materialized().join(mask, INDEX_COL, "inner").filter(F.col("__m__")).drop("__m__")
            internal = InternalFrame(
                sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec
            )
            return DataFrame._from_internal(internal, {c: sdf[c] for c in self._columns})
        raise TypeError(f"unsupported key: {type(key)}")

    def __setitem__(self, key: str, value) -> None:
        if isinstance(value, Series):
            if value._internal.sdf is self._internal.sdf:
                self._columns[key] = value._col
                return
            # align on index (left join to THIS frame's index, pandas-style);
            # a row-aligned derivation like df['u'].shift() also joins on
            # the shared order-spec helpers (r12 probe: assign(shift)
            # doubled a dup-labeled frame).
            lmat = self._materialized()
            right = value._materialized("__new__")
            shared = rowalign_keys(self._internal, value._internal, lmat, right)
            right = right.select(INDEX_COL, *shared, "__new__")
            sdf = rowalign_left_join(lmat, right, shared, "__new__")
            # adding a column preserves the visible order (r10 probe)
            # AND row identity (tokens carry)
            internal = InternalFrame(
                sdf,
                INDEX_COL,
                self._internal.index_name,
                self._internal.order_spec,
                row_tokens=self._internal.row_tokens,
            )
            cols = {c: sdf[c] for c in self._columns}
            cols[key] = sdf["__new__"]
            self._internal, self._columns = internal, cols
            return
        if isinstance(value, Column):
            self._columns[key] = value
            return
        self._columns[key] = F.lit(value)

    def assign(self, **kwargs) -> "DataFrame":
        out = DataFrame._from_internal(self._internal, self._columns)
        for k, v in kwargs.items():
            out[k] = v(out) if callable(v) else v
        return out

    # -- positional indexing --------------------------------------------------

    def _positional_slice(self, key: slice) -> "DataFrame":
        """Positional row slice — the frame twin of
        Series._positional_slice (series.py:369): row_number over the
        frame's VISIBLE order (``order_spec``), so chained positional ops
        compose (``df.iloc[::-1].iloc[:3]`` is the last three rows,
        reversed). The global window is on-demand only — pandas-positional
        semantics fundamentally need a total order (SURVEY §7)."""
        from pyspark.sql import Window

        step = 1 if key.step is None else key.step
        if step == 0:
            raise ValueError("slice step cannot be zero")
        w = Window.orderBy(*self._internal.order_columns(INDEX_COL))
        cur_spec = self._internal.order_spec
        base = self._materialized()
        if step < 0:
            start, stop, step = key.indices(len(self))
            sdf = base.withColumn("__rn__", F.row_number().over(w) - 1)
            cond = (
                (F.col("__rn__") <= start)
                & (F.col("__rn__") > stop)
                & ((F.lit(start) - F.col("__rn__")) % F.lit(-step) == 0)
            )
            sdf = sdf.filter(cond).drop("__rn__")
            flipped = tuple((c, not asc) for c, asc in (cur_spec or ((INDEX_COL, True),)))
            # double reverse lands back on plain index order — drop the
            # spec so downstream ops take the no-metadata fast paths
            if flipped == ((INDEX_COL, True),):
                flipped = None
            internal = InternalFrame(
                sdf, INDEX_COL, self._internal.index_name, order_spec=flipped
            )
            return DataFrame._from_internal(internal, {c: sdf[c] for c in self._columns})
        if (key.start or 0) < 0 or (key.stop is not None and key.stop < 0):
            start, stop, step = key.indices(len(self))
        else:
            start, stop = key.start or 0, key.stop
        sdf = base.withColumn("__rn__", F.row_number().over(w) - 1)
        cond = F.col("__rn__") >= start
        if stop is not None:
            cond = cond & (F.col("__rn__") < stop)
        if step != 1:
            cond = cond & ((F.col("__rn__") - F.lit(start)) % F.lit(step) == 0)
        sdf = sdf.filter(cond).drop("__rn__")
        internal = InternalFrame(
            sdf, INDEX_COL, self._internal.index_name, order_spec=cur_spec
        )
        return DataFrame._from_internal(internal, {c: sdf[c] for c in self._columns})

    def _positional_take(self, positions: list) -> "DataFrame":
        """iloc with an integer list, counting over the VISIBLE order; full
        pandas take semantics — request order, duplicates preserved (r10
        probe; same shared helper as Series._positional_take)."""
        from pontem_spark.core.series import _positional_take_sdf

        sdf = _positional_take_sdf(self, positions)
        internal = InternalFrame(
            sdf, INDEX_COL, self._internal.index_name,
            order_spec=(("__take_ord__", True),),
        )
        return DataFrame._from_internal(internal, {c: sdf[c] for c in self._columns})

    @property
    def iloc(self):
        return _FrameILocIndexer(self)

    def drop(self, columns: list[str] | str) -> "DataFrame":
        drop = {columns} if isinstance(columns, str) else set(columns)
        return DataFrame._from_internal(
            self._internal, {k: v for k, v in self._columns.items() if k not in drop}
        )

    def rename(self, columns: Mapping[str, str]) -> "DataFrame":
        return DataFrame._from_internal(
            self._internal, {columns.get(k, k): v for k, v in self._columns.items()}
        )

    # -- relational ops ---------------------------------------------------------

    def merge(
        self,
        right: "DataFrame",
        on: str | list[str] | None = None,
        how: str = "inner",
        suffixes: tuple[str, str] = ("_x", "_y"),
        indicator: "bool | str" = False,
    ) -> "DataFrame":
        """pandas merge == Spark join on key columns; the result gets a fresh
        (non-contiguous) rowid index, mirroring pandas' index reset. Broadcast
        and join-strategy choice stay with Catalyst/AQE.

        ``indicator=True`` appends pandas' ``_merge`` column
        ('left_only'/'right_only'/'both' — string, not categorical; pass a
        str to name it) derived from the carried source-index null flags,
        so it costs nothing beyond the join itself (r9 probe)."""
        if on is None:
            on = [c for c in self.columns if c in right.columns]
        keys = [on] if isinstance(on, str) else list(on)

        # pandas merge row order follows each side's ROW order, which is
        # the VISIBLE order (order_spec), not the index value: under
        # duplicate index labels, ordering matches by __lidx__ alone ties
        # and Spark breaks ties arbitrarily (r12 probe). Copy each side's
        # spec columns into reserved names that ride through the join and
        # feed the result's order spec.
        def _order_copies(frame: "DataFrame", prefix: str):
            mat = frame._materialized()
            pairs: list[tuple[str, bool]] = []
            for i, (n, asc) in enumerate(frame._internal.order_spec or ()):
                if n == INDEX_COL or n not in mat.columns:
                    continue
                cn = f"__{prefix}o{i}__"
                # a chained merge's spec already holds __lo*__ names —
                # never clobber an existing column before it is copied
                while cn in mat.columns:
                    cn += "_"
                mat = mat.withColumn(cn, F.col(n))
                pairs.append((cn, asc))
            sel = mat.select(INDEX_COL, *frame._columns, *[c for c, _ in pairs])
            return sel, pairs

        lsel, lorder = _order_copies(self, "l")
        rsel, rorder = _order_copies(right, "r")
        l = lsel.withColumnRenamed(INDEX_COL, "__lidx__")
        r = rsel.withColumnRenamed(INDEX_COL, "__ridx__")
        overlap = (set(l.columns) & set(r.columns)) - set(keys)
        for c in overlap:
            l = l.withColumnRenamed(c, f"{c}{suffixes[0]}")
            r = r.withColumnRenamed(c, f"{c}{suffixes[1]}")
        # pandas MATCHES missing join keys with each other (NaN↔NaN,
        # None↔None — all missing keys form one join group); Spark's
        # USING-style equality never matches NULL. Null-safe equality
        # (<=>) restores pandas semantics and is still extracted as a
        # hash-join key by Catalyst — no plan downgrade (r10 probe).
        for k in keys:
            l = l.withColumnRenamed(k, f"__lk_{k}__")
            r = r.withColumnRenamed(k, f"__rk_{k}__")
        cond = None
        for k in keys:
            c = l[f"__lk_{k}__"].eqNullSafe(r[f"__rk_{k}__"])
            cond = c if cond is None else cond & c
        joined = l.join(r, cond, how)
        for k in keys:  # USING-style single key column back
            joined = joined.withColumn(
                k, F.coalesce(F.col(f"__lk_{k}__"), F.col(f"__rk_{k}__"))
            ).drop(f"__lk_{k}__", f"__rk_{k}__")
        # pandas column order: the LEFT frame's columns in their original
        # positions (keys stay where they were on the left, suffixes
        # applied to overlaps), then the right frame's non-key columns in
        # right order — NOT keys-first (r12 probe: merge(on='k') floated
        # 'k' to the front)
        ov = (set(self.columns) & set(right.columns)) - set(keys)
        user_cols = [
            c if c in keys else (f"{c}{suffixes[0]}" if c in ov else c)
            for c in self.columns
        ] + [
            f"{c}{suffixes[1]}" if c in ov else c
            for c in right.columns
            if c not in keys
        ]
        # pandas row order: left/inner/outer follow the LEFT frame's row
        # order (matches in right-row order within a left row, unmatched
        # right rows last); right joins follow the right frame. A join's
        # physical order is strategy luck, so carry both source indexes as
        # a lazy order spec — boolean is-null flags give nulls-LAST within
        # the (name, ascending)-pair vocabulary (r7 probe).
        sdf = (
            joined.withColumn(_ROWID, F.monotonically_increasing_id())
            .withColumn("__lmiss__", F.col("__lidx__").isNull())
            .withColumn("__rmiss__", F.col("__ridx__").isNull())
        )
        lo = tuple(lorder) + (("__lidx__", True),)
        ro = tuple(rorder) + (("__ridx__", True),)
        if how == "right":
            first, second = "__r", "__l"
            first_ord, second_ord = ro, lo
        else:
            first, second = "__l", "__r"
            first_ord, second_ord = lo, ro
        spec = (
            ((f"{first}miss__", True),)
            + first_ord
            + ((f"{second}miss__", True),)
            + second_ord
        )
        if how in ("outer", "full"):
            # pandas sorts an outer merge by the union of keys first
            spec = tuple((k, True) for k in keys) + spec
        internal = InternalFrame(sdf, _ROWID, None, spec)
        cols = {c: sdf[c] for c in user_cols}
        if indicator:
            name = indicator if isinstance(indicator, str) else "_merge"
            if name in cols:
                raise ValueError(
                    f"merge: indicator column {name!r} already exists"
                )
            cols[name] = (
                F.when(F.col("__lmiss__"), F.lit("right_only"))
                .when(F.col("__rmiss__"), F.lit("left_only"))
                .otherwise(F.lit("both"))
            )
        return DataFrame._from_internal(internal, cols)

    def merge_asof(
        self,
        right: "DataFrame",
        on: str,
        by: str,
        tolerance_seconds: int | None = None,
    ) -> "DataFrame":
        """pandas.merge_asof(direction='backward'): latest right row
        at-or-before each left timestamp per key — union+window, ONE shuffle
        on the key (see operators/asof.py). Fresh rowid index like merge."""
        from pontem_spark.operators.asof import asof_join

        joined = asof_join(
            self._materialized_user().drop(INDEX_COL),
            right._materialized_user().drop(INDEX_COL),
            on=on,
            by=by,
            tolerance_seconds=tolerance_seconds,
        )
        sdf = joined.withColumn(_ROWID, F.monotonically_increasing_id())
        internal = InternalFrame(sdf, _ROWID, None)
        return DataFrame._from_internal(internal, {c: sdf[c] for c in joined.columns if c != _ROWID})

    @property
    def dedup(self):
        """LLM-pipeline dedup operators as a pandas-style accessor
        (``df.dedup.minhash_candidates('doc_id', 'text')``)."""
        from pontem_spark.core.ml_accessors import DedupAccessor

        return DedupAccessor(self)

    @property
    def sim(self):
        """Similarity-search operators (``df.sim.topk(queries)``)."""
        from pontem_spark.core.ml_accessors import SimilarityAccessor

        return SimilarityAccessor(self)

    def groupby(self, by: str | list[str], as_index: bool = True):
        from pontem_spark.core.groupby import GroupBy

        keys = [by] if isinstance(by, str) else list(by)
        # pandas accepts INDEX LEVEL names as group keys; expose each as a
        # shadow column (pure projection off the anchor, zero jobs) and
        # mark it hidden so row-aligned grouped outputs don't leak it
        # (r11 probe: set_index(['a','b']).groupby('a') raised KeyError)
        iname = self._internal.index_name
        levels = (
            tuple(str(l) for l in iname)
            if isinstance(iname, tuple)
            else ((str(iname),) if iname is not None else ())
        )
        # pandas raises for a key naming BOTH a column and an index level
        # (ADVICE r11) — resolving silently to the column loses the user's
        # intent either way
        for k in keys:
            if k in self._columns and str(k) in levels:
                raise ValueError(
                    f"'{k}' is both an index level and a column label, "
                    "which is ambiguous."
                )
        hidden = [
            k for k in keys if k not in self._columns and str(k) in levels
        ]
        if not hidden:
            return GroupBy(self, keys, as_index)
        missing = [k for k in keys if k not in self._columns and k not in hidden]
        if missing:
            raise KeyError(missing[0])
        cols = dict(self._columns)
        for k in hidden:
            cols[k] = (
                self._internal.index_col[str(k)]
                if isinstance(iname, tuple)
                else self._internal.index_col
            )
        shadow = DataFrame._from_internal(self._internal, cols)
        return GroupBy(shadow, keys, as_index, hidden=tuple(hidden))

    def pivot_table(
        self,
        index: str,
        columns: str | None = None,
        values: str = None,
        aggfunc: str = "mean",
        column_values: list | None = None,
        fill_value=None,
        margins: bool = False,
        margins_name: str = "All",
        dropna: bool = True,
    ) -> "DataFrame":
        """pandas pivot_table == groupBy(index).pivot(columns).agg.

        Pass ``column_values`` explicitly at scale — without it Spark runs a
        hidden distinct-scan job to discover the pivot columns.

        ``margins=True`` appends pandas' totals: an ``All`` column (the
        aggregate across a row's underlying data — for mean that is the mean
        over ROWS, not the mean of cell means) and an ``All`` row (per-pivot
        column aggregate plus the grand total). Three extra aggregations of
        the same base scan, unioned in; the index column is cast to string
        so the ``All`` label can live alongside non-string keys (pandas
        instead promotes the index to object, so a numeric key shows as
        ``1.0`` there and ``'1.0'`` here). Deliberate deviation: rows
        materialize in index order, so ``All`` sorts alphabetically among
        the keys rather than pinning to the last row as pandas prints it.
        """
        from pontem_spark.core.groupby import _AGGS

        agg = _AGGS[aggfunc]
        # margins must mirror the cell path's sum min_count=0 convention
        # (pandas: an all-missing group's sum is 0, never NULL)
        m_agg = (
            (lambda c: F.coalesce(agg(c), F.lit(0)))
            if aggfunc == "sum"
            else agg
        )

        # margins over the COLUMNS path follow pandas' dropna rule (r9
        # grid probe): with dropna=True pandas computes margins from the
        # NaN-dropped data, so a group/column with ZERO valid rows
        # vanishes and reindexes to NaN; with dropna=False the group
        # exists and sum/count give 0 (min_count=0). sum: NULL-vs-0 via
        # coalesce; count: natively 0, nulled via when(e > 0) instead.
        def m_margin(c):
            e = agg(c)
            if aggfunc == "sum":
                return e if dropna else F.coalesce(e, F.lit(0))
            if aggfunc == "count":
                return F.when(e > 0, e) if dropna else e
            return e
        base = self._materialized()
        schema = dict(base.dtypes)
        # NaN is pandas-missing: count must not count it, sum/mean/min/max
        # must skip it (r8 probe: a NaN-only cell counted 1)
        valid = base[values]
        if schema.get(values) in ("double", "float"):
            valid = F.when(~F.isnan(valid), valid)

        if columns is None:
            # pandas allows an index-only pivot_table: a plain grouped
            # aggregation keyed by the index (r7 probe); margins appends
            # the grand-total row (r8 probe — previously raised). With
            # dropna=True, mean-family groups whose every value is
            # missing VANISH (r9 probe: sum/count keep them at 0 in both
            # dropna modes) — aggregating the valid-only rows is
            # equivalent for every skipna aggfunc and drops them for free.
            drop_rows = dropna and aggfunc not in ("sum", "count")
            if not margins:
                src = self
                if drop_rows:
                    fb = base.filter(valid.isNotNull())
                    src = DataFrame._from_internal(
                        InternalFrame(fb, INDEX_COL, self._internal.index_name),
                        {c: fb[c] for c in self._columns},
                    )
                return src.groupby(index).agg({values: aggfunc})
            if not base.filter(
                F.col(index).cast("string") == margins_name
            ).isEmpty():
                raise ValueError(
                    f"margins_name {margins_name!r} conflicts with an index "
                    "value"
                )
            per_base = (
                base.filter(valid.isNotNull()) if drop_rows else base
            )
            per_key = (
                per_base.filter(per_base[index].isNotNull())
                .groupBy(F.col(index).cast("string").alias(index))
                .agg(m_agg(valid).alias(values))
            )
            total = base.select(m_agg(valid).alias(values)).withColumn(
                index, F.lit(margins_name)
            )
            sdf = per_key.unionByName(total.select(index, values))
            if fill_value is not None:
                sdf = sdf.fillna(fill_value)
            internal = InternalFrame(sdf, index, index)
            return DataFrame._from_internal(internal, {values: sdf[values]})

        grouped = base.groupBy(index)
        pivoted = (
            grouped.pivot(columns, column_values)
            if column_values is not None
            else grouped.pivot(columns)
        )
        # three stats per cell in ONE pivot pass: the aggregate itself, the
        # non-missing count, and the ROW count — the row count tells an
        # ABSENT cell (NULL in pandas) from a present-but-all-NaN cell
        # (sum -> 0.0, count -> 0 in pandas); the non-missing counts also
        # feed the dropna column probe below
        raw = pivoted.agg(
            agg(valid).alias("__pva"),
            F.count(valid).alias("__pvc"),
            F.count(F.lit(1)).alias("__pvn"),
        )
        # Always derive pivot names from raw.columns, even when
        # column_values was given: Spark renders bool/None pivot values as
        # 'true'/'false'/'null' (not Python's str()), so reconstructing
        # names as str(v) + suffix misses them. Spark also preserves the
        # caller's column_values order in the output schema, so order is
        # kept. Backtick the lookups — a dotted pivot value ('1.5') would
        # otherwise parse as nested-field access.
        pvs = [c[: -len("___pva")] for c in raw.columns if c.endswith("___pva")]
        cells = {}
        for pv in pvs:
            a = F.col(f"`{pv}___pva`")
            cnt = F.col(f"`{pv}___pvc`")
            n = F.col(f"`{pv}___pvn`")
            if aggfunc == "sum":
                cell = F.when(n > 0, F.coalesce(a, F.lit(0)))
            elif aggfunc == "count":
                cell = F.when(n > 0, cnt)
            else:
                cell = a
            cells[pv] = cell
        if dropna and aggfunc not in ("sum", "count"):
            # pandas drops pivot columns whose every cell is missing
            # (dropna=True default). One small agg over the pivoted frame
            # (|index| rows x |pivot| cols); skipped for sum/count, whose
            # present-cell zeros keep every column alive by construction.
            # Pass dropna=False to skip the probe job at scale.
            totals = raw.agg(
                *[
                    F.sum(F.col(f"`{pv}___pvc`")).alias(f"c{i}")
                    for i, pv in enumerate(pvs)
                ]
            ).first()
            pvs = [pv for i, pv in enumerate(pvs) if (totals[f"c{i}"] or 0) > 0]
            cells = {pv: cells[pv] for pv in pvs}
            # pandas dropna=True also drops INDEX keys whose every cell is
            # missing (r9 probe — sum/count keep them, their zero cells
            # count as present); the valid counts are already in raw
            if pvs:
                # ABSENT cells carry NULL counts (pivot fill), which would
                # NULL-poison the sum — coalesce each to 0
                rowvalid = F.coalesce(F.col(f"`{pvs[0]}___pvc`"), F.lit(0))
                for pv in pvs[1:]:
                    rowvalid = rowvalid + F.coalesce(
                        F.col(f"`{pv}___pvc`"), F.lit(0)
                    )
                raw = raw.filter(rowvalid > 0)
            else:
                raw = raw.filter(F.lit(False))
        sdf = raw.select(raw[index], *[cells[pv].alias(pv) for pv in pvs])
        if margins and dropna and aggfunc not in ("sum", "count") and not pvs:
            # fully degenerate: every column pruned (zero valid data) —
            # pandas returns a completely EMPTY frame, no All row at all
            margins = False
        if margins:
            if margins_name in sdf.columns:
                # a pivot value equal to margins_name would collide with the
                # row-total column downstream; pandas raises the same way
                raise ValueError(
                    f"margins_name {margins_name!r} conflicts with a pivot "
                    "column value"
                )
            # an INDEX value equal to margins_name would silently union a
            # second 'All' row next to the real totals row; pandas raises
            # for index-value conflicts too (one tiny limit-1 probe job)
            if not base.filter(
                F.col(index).cast("string") == margins_name
            ).isEmpty():
                raise ValueError(
                    f"margins_name {margins_name!r} conflicts with an index "
                    "value"
                )
            sdf = sdf.withColumn(index, F.col(index).cast("string"))
            row_tot = (
                base.groupBy(F.col(index).cast("string").alias(index))
                .agg(m_margin(valid).alias(margins_name))
            )
            sdf = sdf.join(row_tot, index, "left")
            col_grouped = base.groupBy()
            col_pivoted = (
                col_grouped.pivot(columns, column_values)
                if column_values is not None
                else col_grouped.pivot(columns)
            )
            # grand total ≠ reindexed margin: pandas COMPUTES it over the
            # (dropna'd) data directly, so sum/count give 0 on zero valid
            # rows in BOTH dropna modes (only vanished groups reindex to
            # NaN) — hence m_agg here, m_margin for the per-row/column ones
            margin_row = (
                col_pivoted.agg(m_margin(valid))
                .withColumn(index, F.lit(margins_name))
                .crossJoin(base.select(m_agg(valid).alias(margins_name)))
            )
            # the margin pivot re-derives every data pivot value (a
            # superset of sdf's, which dropna may have pruned) — select
            # narrows it to the surviving columns; backticks keep dotted
            # pivot names (e.g. float values) from parsing as nested fields
            sdf = sdf.unionByName(
                margin_row.select(
                    *[F.col(f"`{c}`").alias(c) for c in sdf.columns]
                )
            )
        if fill_value is not None:
            sdf = sdf.fillna(fill_value)
        internal = InternalFrame(sdf, index, index)
        return DataFrame._from_internal(
            internal,
            {c: sdf[f"`{c}`"] for c in sdf.columns if c != index},
        )

    def crosstab(
        self,
        index: str,
        columns: str,
        column_values: list | None = None,
        margins: bool = False,
        margins_name: str = "All",
        normalize: "bool | str" = False,
    ) -> "DataFrame":
        """pandas ``crosstab``: co-occurrence counts of two columns ==
        ``groupBy(index).pivot(columns).count()`` with absent cells as 0;
        NaN/NULL keys on either side are dropped like pandas.

        ``margins`` appends pandas' totals; ``normalize`` divides by
        'all' (or True — grand total), 'index' (rows sum to 1) or
        'columns' (columns sum to 1). pandas' margin asymmetry is kept
        (r9): normalize='index' keeps only the All ROW, 'columns' only
        the All COLUMN, 'all' both with corner 1.0. The normalization
        totals ride windows over the already-tiny pivoted aggregate —
        never a second scan of the raw data.

        Pass ``column_values`` at scale for the same reason as
        :meth:`pivot_table` — without it Spark runs a hidden distinct-scan
        job to discover the pivot columns."""
        from pyspark.sql import Window

        if normalize not in (False, True, "all", "index", "columns"):
            raise ValueError(f"crosstab: normalize {normalize!r}")
        norm = "all" if normalize is True else normalize
        base = self._materialized()
        schema = dict(base.dtypes)
        for c in (index, columns):
            cond = F.col(c).isNotNull()
            if schema.get(c) in ("double", "float"):
                cond = cond & ~F.isnan(F.col(c))
            base = base.filter(cond)
        grouped = base.groupBy(index)
        pivoted = (
            grouped.pivot(columns, column_values)
            if column_values is not None
            else grouped.pivot(columns)
        )
        sdf = pivoted.count().fillna(0)
        pvs = [c for c in sdf.columns if c != index]
        pcol = lambda c: F.col(f"`{c}`")  # noqa: E731 — dotted pivot names

        if margins or norm:
            if str(margins_name) in pvs:
                raise ValueError(
                    f"margins_name {margins_name!r} conflicts with a pivot "
                    "column value"
                )
            # an INDEX value equal to margins_name would silently union a
            # data row next to the totals row — same isEmpty probe as
            # pivot_table (pandas raises ValueError too; r10 ADVICE)
            if margins and not base.filter(
                F.col(index).cast("string") == str(margins_name)
            ).isEmpty():
                raise ValueError(
                    f"margins_name {margins_name!r} conflicts with an index "
                    "value"
                )
            everything = Window.partitionBy()
            row_sum = sum((pcol(c) for c in pvs[1:]), pcol(pvs[0])) if pvs else F.lit(0)
            sdf = sdf.withColumn("__rt", row_sum)
            for c in pvs:
                sdf = sdf.withColumn(f"__ct_{c}", F.sum(pcol(c)).over(everything))
            sdf = sdf.withColumn("__gt", F.sum("__rt").over(everything))

        out_cols = list(pvs)
        if not norm:
            if margins:
                sdf = sdf.withColumn(margins_name, F.col("__rt"))
                out_cols.append(margins_name)
                all_row = sdf.select(
                    F.lit(margins_name).alias(index),
                    *[F.col(f"`__ct_{c}`").alias(c) for c in pvs],
                    F.col("__gt").alias(margins_name),
                ).limit(1)
                # index cast to string so the 'All' label can union with
                # non-string keys (same deliberate deviation as
                # pivot_table's margins)
                sdf = sdf.select(
                    F.col(f"`{index}`").cast("string").alias(index),
                    *[pcol(c) for c in out_cols],
                ).unionByName(all_row)
        else:
            denom = {
                "all": lambda c: F.col("__gt"),
                "index": lambda c: F.col("__rt"),
                "columns": lambda c: F.col(f"`__ct_{c}`"),
            }[norm]
            proj = [
                (pcol(c) / F.when(denom(c) != 0, denom(c))).alias(c) for c in pvs
            ]
            if margins and norm in ("all", "columns"):
                proj.append((F.col("__rt") / F.col("__gt")).alias(margins_name))
                out_cols.append(margins_name)
            body = sdf.select(F.col(index).cast("string").alias(index), *proj)
            if margins and norm in ("all", "index"):
                all_vals = [
                    (F.col(f"`__ct_{c}`") / F.col("__gt")).alias(c) for c in pvs
                ]
                if norm == "all":
                    all_vals.append(F.lit(1.0).alias(margins_name))
                all_row = sdf.select(
                    F.lit(margins_name).alias(index), *all_vals
                ).limit(1)
                body = body.unionByName(all_row)
            sdf = body

        internal = InternalFrame(sdf, index, index)
        return DataFrame._from_internal(
            internal, {c: sdf[f"`{c}`"] for c in out_cols}
        )

    # -- ordering / cleaning ------------------------------------------------------

    def sort_values(
        self,
        by: str | list[str],
        ascending: "bool | list[bool]" = True,
        na_position: str = "last",
    ) -> "DataFrame":
        """Lazy order spec; ``ascending`` may be per-column. Missing cells
        (NULL or NaN) stay at the chosen END in both directions — Spark
        orders NaN as the largest value, which would lead a descending
        sort (same fix as Series.sort_values, r7)."""
        if na_position not in ("last", "first"):
            raise ValueError(f"sort_values: na_position must be 'first' or 'last', got {na_position!r}")
        by = [by] if isinstance(by, str) else list(by)
        asc = [ascending] * len(by) if isinstance(ascending, bool) else list(ascending)
        if len(asc) != len(by):
            raise ValueError("sort_values: ascending list must match by list")
        schema = self._dtype_map()
        mat = self._materialized()
        # pandas accepts INDEX LEVEL names in ``by`` (r12 probe batch 3:
        # set_index('u').sort_values('u') raised UNRESOLVED_COLUMN); a
        # name matching BOTH a column and a level is the same ambiguity
        # error as groupby
        iname = self._internal.index_name
        levels = (
            tuple(str(l) for l in iname)
            if isinstance(iname, tuple)
            else ((str(iname),) if iname is not None else ())
        )
        exprs: dict[str, Column] = {}
        for c in by:
            if c in self._columns and str(c) in levels:
                raise ValueError(
                    f"'{c}' is both an index level and a column label, "
                    "which is ambiguous."
                )
            if c in self._columns:
                exprs[c] = F.col(c)
            elif str(c) in levels:
                exprs[c] = (
                    F.col(INDEX_COL)[str(c)]
                    if isinstance(iname, tuple)
                    else F.col(INDEX_COL)
                )
            else:
                raise KeyError(c)
        spec = []
        miss_cols = {}
        for c in by:
            try:
                dt = (
                    schema.get(c)
                    if c in self._columns
                    else mat.select(exprs[c]).schema[0].dataType.simpleString()
                )
            except Exception:
                dt = None
            if dt in ("double", "float"):
                miss_cols[f"__miss_{c}__"] = exprs[c].isNull() | F.isnan(exprs[c])
            else:
                miss_cols[f"__miss_{c}__"] = exprs[c].isNull()
        # helper names are minted PAST any the prior spec already uses:
        # re-sorting by the same column must not overwrite the recorded
        # old sort values the prior spec (the tie-break below) points at
        taken = {n for n, _ in (self._internal.order_spec or ())}

        def _mint(base: str) -> str:
            if base not in taken:
                return base
            k = 2
            while f"{base[:-2]}{k}__" in taken:
                k += 1
            return f"{base[:-2]}{k}__"

        miss_names = {c: _mint(f"__miss_{c}__") for c in by}
        sv_names = {c: _mint(f"__sv_{c}__") for c in by}
        sdf = mat
        for c in by:
            sdf = sdf.withColumn(miss_names[c], miss_cols[f"__miss_{c}__"])
        # sort keys live in DEDICATED helper columns, not the user column
        # names: _materialized() re-aliases the CURRENT column exprs under
        # those names, so replacing a sort column after the sort
        # (df['a'] = df['a'] > 0) would re-sort rows by the derived
        # values (r10 probe — value_counts' ADVICE bug class).
        for c in by:
            sdf = sdf.withColumn(sv_names[c], exprs[c])
        for c, a in zip(by, asc):
            spec.append((miss_names[c], na_position == "last"))
            spec.append((sv_names[c], a))
        # rows tied on the sort keys keep their previous VISIBLE order:
        # the old spec rides along as the tie-break, exactly like
        # sort_index (r13 probe: a post-merge sort broke the documented
        # kind='stable' contract by tie-breaking on the rowid index,
        # which is scan order, not the merge's pandas row order). The
        # index stays the tie-break of last resort.
        seen = {n for n, _ in spec}
        for n, a in (self._internal.order_spec or ()):
            if n not in seen and n in sdf.columns:
                spec.append((n, a))
                seen.add(n)
        if INDEX_COL not in seen:
            spec.append((INDEX_COL, True))
        internal = InternalFrame(
            sdf,
            INDEX_COL,
            self._internal.index_name,
            tuple(spec),
            row_tokens=self._internal.row_tokens,
        )
        return DataFrame._from_internal(internal, {c: sdf[c] for c in self._columns})

    def head(self, n: int = 5) -> "DataFrame":
        sdf = self._ordered(self._materialized()).limit(n)
        internal = InternalFrame(sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec)
        return DataFrame._from_internal(internal, {c: sdf[c] for c in self._columns})

    def drop_duplicates(self, subset: list[str] | None = None, keep: "str | bool" = "first") -> "DataFrame":
        """pandas semantics: the SURVIVOR of each duplicate group is chosen
        by index ('first' = lowest, 'last' = highest; False drops whole
        groups) — Spark's own dropDuplicates keeps an ARBITRARY row
        (whichever partition wins), which is nondeterministic across runs
        and cluster sizes. One window shuffle on the keys either way (the
        dup flag is materialized as a column first — Spark forbids window
        functions directly inside WHERE)."""
        from pyspark.sql import Window

        keys = subset or list(self._columns)
        mat = self._materialized()
        if keep is False:
            dup = F.count(F.lit(1)).over(Window.partitionBy(*[F.col(k) for k in keys])) > 1
        elif keep in ("first", "last"):
            # 'first' = first in the VISIBLE order (a sorted frame keeps
            # the sorted-first row, like pandas — r10 composition probe);
            # 'last' reverses every direction of the spec
            ospec = self._internal.order_spec or ((INDEX_COL, True),)
            order = [
                F.col(n).asc() if (asc == (keep == "first")) else F.col(n).desc()
                for n, asc in ospec
            ]
            w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
            dup = F.row_number().over(w) > 1
        else:
            raise ValueError(f"drop_duplicates: keep must be 'first', 'last' or False, got {keep!r}")
        sdf = mat.withColumn("__dup__", dup).filter(~F.col("__dup__")).drop("__dup__")
        internal = InternalFrame(
            sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec
        )
        return DataFrame._from_internal(internal, {c: sdf[c] for c in self._columns})

    def astype(self, dtype) -> "DataFrame":
        """Per-column casts: a single dtype for every column, or a
        {column: dtype} mapping (pandas shape). Pure Projection — no job,
        no shuffle; dtype resolution shares Series.astype's table."""
        from pontem_spark.core.internal import to_spark_type

        mapping = dtype if isinstance(dtype, dict) else {c: dtype for c in self._columns}
        unknown = [c for c in mapping if c not in self._columns]
        if unknown:
            raise KeyError(unknown)
        cols = dict(self._columns)
        schema = None
        for c, t in mapping.items():
            st = to_spark_type(t)
            if st == "boolean":
                # pandas truthiness, shared with Series.astype (r9):
                # strings by length, floats nonzero-or-NaN
                if schema is None:
                    schema = dict(self._materialized().dtypes)
                src = schema.get(c)
                if src == "string":
                    cols[c] = F.coalesce(F.length(cols[c]) > 0, F.lit(False))
                    continue
                if src in ("double", "float"):
                    cols[c] = F.when(
                        cols[c].isNull() | F.isnan(cols[c]), F.lit(True)
                    ).otherwise(cols[c] != 0)
                    continue
            cols[c] = cols[c].cast(st)
        return DataFrame._from_internal(self._internal, cols)

    def dropna(self, subset: list[str] | None = None, how: str = "any") -> "DataFrame":
        """pandas-missing aware (NULL or float NaN — Spark's own dropna is
        NULL-only); how='any' drops a row with any missing cell among the
        checked columns, 'all' only when every one is missing."""
        if how not in ("any", "all"):
            raise ValueError(f"dropna: how must be 'any' or 'all', got {how!r}")
        mat = self._materialized()
        schema = {f.name: f.dataType.simpleString() for f in mat.schema.fields}
        keys = subset or list(self._columns)

        def _miss(k):
            # reference the MATERIALIZED projection's column, not the raw
            # expression: a window-expression column (grouped cumsum
            # assigned back) inside WHERE is illegal in Spark (r10 probe)
            v = mat[k]
            m = v.isNull()
            if schema.get(k) in ("double", "float"):
                m = m | F.isnan(v)
            return m

        miss = [_miss(k) for k in keys]
        from functools import reduce as _reduce

        combined = _reduce((lambda a, b: a | b) if how == "any" else (lambda a, b: a & b), miss)
        sdf = mat.filter(~combined)
        internal = InternalFrame(
            sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec
        )
        return DataFrame._from_internal(internal, {c: sdf[c] for c in self._columns})

    def fillna(self, value) -> "DataFrame":
        # NULL or NaN both fill (a bare coalesce is NULL-only — r7 probe).
        # Only TYPE-COMPATIBLE columns fill: a numeric fill on a string
        # column would ANSI-throw casting the strings (pandas instead mixes
        # dtypes in an object column, which a Spark schema cannot express —
        # documented divergence; those columns pass through untouched).
        # A dict fills per-column like pandas (r10 probe: the dict used to
        # reach F.lit and throw LITERAL_TYPE).
        schema = self._dtype_map()
        if isinstance(value, dict):
            return DataFrame._from_internal(
                self._internal,
                {
                    k: (
                        F.coalesce(self._valid_col(k, schema), F.lit(value[k]))
                        if k in value
                        else self._columns[k]
                    )
                    for k in self._columns
                },
            )
        numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")

        def fillable(t: str) -> bool:
            if isinstance(value, bool):
                return t == "boolean"
            if isinstance(value, (int, float)):
                return t in numeric or t.startswith("decimal")
            if isinstance(value, str):
                return t == "string"
            return True

        return DataFrame._from_internal(
            self._internal,
            {
                k: (
                    F.coalesce(self._valid_col(k, schema), F.lit(value))
                    if fillable(schema.get(k, ""))
                    else self._columns[k]
                )
                for k in self._columns
            },
        )

    # -- elementwise / window parity (r7 frame batch) -------------------------

    def isna(self) -> "DataFrame":
        """Per-cell pandas-missing mask (NULL or float NaN) — pure
        projection, no job."""
        schema = self._dtype_map()
        return DataFrame._from_internal(
            self._internal,
            {k: self._valid_col(k, schema).isNull() for k in self._columns},
        )

    def notna(self) -> "DataFrame":
        schema = self._dtype_map()
        return DataFrame._from_internal(
            self._internal,
            {k: self._valid_col(k, schema).isNotNull() for k in self._columns},
        )

    isnull = isna
    notnull = notna

    def abs(self) -> "DataFrame":
        """pandas raises TypeError when any column is non-numeric; so do we
        (silently passing strings through would hide the error until an
        ANSI cast throw deep in a later job)."""
        numeric = set(self._numeric_cols())
        bad = [c for c in self._columns if c not in numeric]
        if bad:
            raise TypeError(f"abs: non-numeric columns {bad}")
        return DataFrame._from_internal(
            self._internal, {k: F.abs(v) for k, v in self._columns.items()}
        )

    def round(self, decimals: "int | Mapping[str, int]" = 0) -> "DataFrame":
        """bround (half-to-even), matching pandas/numpy — Spark's round is
        half-up (the Series.round lesson). Non-numeric columns pass through
        untouched like pandas; a dict restricts which columns round."""
        numeric = set(self._numeric_cols())
        mapping = (
            {c: int(d) for c, d in decimals.items() if c in numeric}
            if isinstance(decimals, Mapping)
            else {c: int(decimals) for c in numeric}
        )
        cols = dict(self._columns)
        for c, d in mapping.items():
            cols[c] = F.bround(cols[c], d)
        return DataFrame._from_internal(self._internal, cols)

    def clip(self, lower=None, upper=None) -> "DataFrame":
        """Numeric columns clipped; non-numeric pass through (pandas with
        numeric_only behavior). Same guards as Series.clip: NaN bounds are
        no-ops, inverted bounds swap, missing cells STAY missing (Spark's
        greatest/least would otherwise skip the null / let NaN swallow the
        lower bound and be swallowed by the upper one)."""
        import math as _math

        if isinstance(lower, float) and _math.isnan(lower):
            lower = None
        if isinstance(upper, float) and _math.isnan(upper):
            upper = None
        if lower is not None and upper is not None and lower > upper:
            lower, upper = upper, lower
        if lower is None and upper is None:
            return self
        schema = self._dtype_map()
        cols = dict(self._columns)
        for c in self._numeric_cols():
            clipped = self._columns[c]
            if lower is not None:
                clipped = F.greatest(clipped, F.lit(lower))
            if upper is not None:
                clipped = F.least(clipped, F.lit(upper))
            cols[c] = F.when(self._valid_col(c, schema).isNotNull(), clipped)
        return DataFrame._from_internal(self._internal, cols)

    def _order_window(self):
        """Unpartitioned window over the frame's VISIBLE order (the order
        spec — a sorted frame shifts/diffs in sorted order like pandas).
        Driver-scale shape by construction: one global sort, the same
        caveat as Series.shift / _positional_slice; the partitioned 100 TB
        form is groupby(...).shift()/diff() via grouped transforms."""
        from pyspark.sql import Window

        return Window.orderBy(*self._internal.order_columns(INDEX_COL))

    def shift(self, periods: int = 1) -> "DataFrame":
        """Every column shifted along the visible order. One shared window
        → Catalyst plans a single sort for ALL columns."""
        w = self._order_window()
        sdf = self._materialized()
        mk = (
            (lambda c: F.lag(c, periods).over(w))
            if periods >= 0
            else (lambda c: F.lead(c, -periods).over(w))
        )
        internal = InternalFrame(
            sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec
        )
        return DataFrame._from_internal(internal, {c: mk(sdf[c]) for c in self._columns})

    def diff(self, periods: int = 1) -> "DataFrame":
        """value − shift(periods) per numeric column (pandas raises on
        non-numeric frames; so do we). Single shared window sort."""
        numeric = set(self._numeric_cols())
        bad = [c for c in self._columns if c not in numeric]
        if bad:
            raise TypeError(f"diff: non-numeric columns {bad}")
        w = self._order_window()
        sdf = self._materialized()
        mk = (
            (lambda c: F.lag(c, periods).over(w))
            if periods >= 0
            else (lambda c: F.lead(c, -periods).over(w))
        )
        internal = InternalFrame(
            sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec
        )
        return DataFrame._from_internal(
            internal, {c: sdf[c] - mk(sdf[c]) for c in self._columns}
        )

    def pct_change(self, periods: int = 1, fill_method: str | None = "pad") -> "DataFrame":
        """Series.pct_change semantics per numeric column (pandas 2.x 'pad'
        default: missing cells forward-fill before differencing; None is
        the announced future default). One shared window sort; division is
        /0-guarded for Spark 4's ANSI mode."""
        from pontem_spark.core.series import Series

        numeric = set(self._numeric_cols())
        bad = [c for c in self._columns if c not in numeric]
        if bad:
            raise TypeError(f"pct_change: non-numeric columns {bad}")
        if fill_method not in (None, "pad", "ffill"):
            raise ValueError(f"pct_change: fill_method {fill_method!r}")
        from pyspark.sql import Window

        w_order = self._order_window()
        w_fill = w_order.rowsBetween(Window.unboundedPreceding, 0)
        sdf = self._materialized()
        schema = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
        cols = {}
        for c in self._columns:
            v = sdf[c]
            if schema.get(c) in ("double", "float"):
                clean = F.when(F.isnan(v), F.lit(None)).otherwise(v)
            else:
                clean = v
            cur = (
                F.last(clean, ignorenulls=True).over(w_fill)
                if fill_method is not None
                else v
            )
            prev = (
                F.lag(cur, periods).over(w_order)
                if periods >= 0
                else F.lead(cur, -periods).over(w_order)
            )
            cols[c] = truediv_cols(cur - prev, prev)
        internal = InternalFrame(
            sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec
        )
        return DataFrame._from_internal(internal, cols)

    def _cum(self, aggfn) -> "DataFrame":
        """Cumulative agg per numeric column, pandas skipna: missing cells
        stay missing and never enter the running state. One shared window."""
        from pyspark.sql import Window

        numeric = set(self._numeric_cols())
        bad = [c for c in self._columns if c not in numeric]
        if bad:
            raise TypeError(f"cumulative op: non-numeric columns {bad}")
        w = self._order_window().rowsBetween(Window.unboundedPreceding, 0)
        sdf = self._materialized()
        schema = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
        cols = {}
        for c in self._columns:
            v = sdf[c]
            missing = v.isNull()
            if schema.get(c) in ("double", "float"):
                missing = missing | F.isnan(v)
            cols[c] = F.when(~missing, aggfn(F.when(~missing, v)).over(w))
        internal = InternalFrame(
            sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec
        )
        return DataFrame._from_internal(internal, cols)

    def cumsum(self) -> "DataFrame":
        return self._cum(F.sum)

    def cummax(self) -> "DataFrame":
        return self._cum(F.max)

    def cummin(self) -> "DataFrame":
        return self._cum(F.min)

    def rank(
        self,
        method: str = "average",
        ascending: bool = True,
        pct: bool = False,
        na_option: str = "keep",
    ) -> "DataFrame":
        """pandas frame.rank(axis=0): each numeric column ranked
        independently. ``na_option``: 'keep' ranks missing as missing;
        'top'/'bottom' rank the missing block as one tie group before/
        after every valid value (float64 result, like pandas). Plan
        shape: one global window PER COLUMN (each needs its own
        ordering) — k sequential sorts, inherently; average/min/max
        derive from rank() + a value-partition count so no per-column
        distinct-frame join is needed."""
        from pyspark.sql import Window

        if method not in ("average", "min", "max", "dense", "first"):
            raise ValueError(f"rank method {method!r}")
        if na_option not in ("keep", "top", "bottom"):
            raise ValueError(
                f"rank: na_option must be 'keep', 'top' or 'bottom', got {na_option!r}"
            )
        numeric = set(self._numeric_cols())
        bad = [c for c in self._columns if c not in numeric]
        if bad:
            raise TypeError(f"rank: non-numeric columns {bad}")
        sdf = self._materialized()
        schema = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
        cols = {}
        for c in self._columns:
            v = sdf[c]
            missing = v.isNull()
            if schema.get(c) in ("double", "float"):
                missing = missing | F.isnan(v)
            present = ~missing
            # the missing block sorts at the chosen end: FIRST for 'top'
            # (its ranks lead), LAST otherwise ('keep' excludes it, so it
            # must not inflate present ranks — the Series.rank trick).
            lead = present.asc() if na_option == "top" else present.desc()
            val = F.when(present, v)
            order = [lead, val.asc() if ascending else val.desc()]
            m_cnt = F.sum(missing.cast("long")).over(Window.partitionBy())
            if method == "first":
                r = F.row_number().over(Window.orderBy(*order, F.col(INDEX_COL).asc()))
            elif method == "dense":
                # the missing bucket at either end offsets present dense
                # ranks naturally (and ranks itself 1 or K+1)
                r = F.dense_rank().over(Window.orderBy(*order))
            else:
                lo = F.rank().over(Window.orderBy(*order))
                cnt = F.count(F.when(present, F.lit(1))).over(Window.partitionBy(val))
                # the missing block's tie-group size is the missing count
                # (cnt over its NULL-val partition counts present rows = 0)
                cnt_eff = F.when(present, cnt).otherwise(m_cnt)
                if method == "min":
                    r = lo
                elif method == "max":
                    r = lo + cnt_eff - 1
                else:  # average
                    r = (lo.cast("double") + (lo + cnt_eff - 1)) / 2.0
            r = r.cast("double")
            if pct:
                if method == "dense":
                    # distinct window aggregates are unsupported; bucket
                    # count via the two-direction dense_rank identity:
                    # dr_fwd + dr_bwd − 1 = #buckets on every row. 'keep'
                    # pins the missing bucket LAST in both directions so
                    # only present buckets count; 'top'/'bottom' use the
                    # EXACT reverse so the missing bucket counts too.
                    if na_option == "keep":
                        rev = [present.desc(), val.desc() if ascending else val.asc()]
                    else:
                        rev = [
                            present.desc() if na_option == "top" else present.asc(),
                            val.desc() if ascending else val.asc(),
                        ]
                    denom = (
                        F.dense_rank().over(Window.orderBy(*order))
                        + F.dense_rank().over(Window.orderBy(*rev))
                        - 1
                    )
                    if na_option != "keep":
                        # present rows see the true bucket count already;
                        # missing rows also do (exact reversal) — nothing
                        # extra needed
                        pass
                else:
                    n_cnt = F.sum(present.cast("long")).over(Window.partitionBy())
                    denom = n_cnt if na_option == "keep" else n_cnt + m_cnt
                r = r / denom
            cols[c] = r if na_option != "keep" else F.when(present, r)
        internal = InternalFrame(
            sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec
        )
        return DataFrame._from_internal(internal, cols)

    def agg(self, spec: Mapping[str, str | list[str]]):
        """{'col': 'sum'} / {'col': ['sum','mean']} → pandas DataFrame of
        scalars, ONE aggregation pass for all requested statistics."""
        import pandas as pd

        from pontem_spark.core.groupby import _AGGS

        exprs, labels = [], []
        for col, how in spec.items():
            for h in [how] if isinstance(how, str) else how:
                exprs.append(_AGGS[h](self._columns[col]).alias(f"{col}__{h}"))
                labels.append((col, h))
        row = self._internal.sdf.select(*exprs).first()
        out: dict[str, dict[str, Any]] = {}
        for (col, h), val in zip(labels, row):
            out.setdefault(col, {})[h] = val
        return pd.DataFrame(out)

    def melt(
        self,
        id_vars: list[str] | str,
        value_vars: list[str] | None = None,
        var_name: str = "variable",
        value_name: str = "value",
    ) -> "DataFrame":
        """pandas melt (wide → long) == a ``stack`` Generate: each input row
        fans out to one row per value column, entirely map-side — no shuffle,
        no UDF. Row order is pandas' column-major layout (all of the first
        value column, then the next — r7 probe; carried as a lazy order
        spec, so nothing sorts until a materialization point). The anchor
        index duplicates across a row's melted values (pandas
        ``ignore_index=False``)."""
        id_vars = [id_vars] if isinstance(id_vars, str) else list(id_vars)
        value_vars = value_vars or [c for c in self._columns if c not in id_vars]
        # stack() requires one common type; mirror pandas' coercion — numeric
        # mix melts to double, anything else melts to string
        numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
        schema = self._dtype_map()
        common = "double" if all(schema[c] in numeric for c in value_vars) else "string"
        args = ", ".join(
            f"{i}, '{c}', CAST(`{c}` AS {common})" for i, c in enumerate(value_vars)
        )
        sdf = self._materialized().select(
            INDEX_COL,
            *id_vars,
            F.expr(
                f"stack({len(value_vars)}, {args}) AS (`__varpos__`, `{var_name}`, `{value_name}`)"
            ),
        )
        internal = InternalFrame(
            sdf,
            INDEX_COL,
            self._internal.index_name,
            (("__varpos__", True), (INDEX_COL, True)),
        )
        keep = id_vars + [var_name, value_name]
        return DataFrame._from_internal(internal, {c: sdf[c] for c in keep})

    def explode(self, column: str) -> "DataFrame":
        """pandas explode: one row per array element, other columns (and the
        index) repeated — ``explode_outer`` so empty/NULL arrays keep their
        row with a NULL element, exactly pandas' semantics."""
        others = [c for c in self._columns if c != column]
        mat = self._materialized()
        if not isinstance(mat.schema[column].dataType, ArrayType):
            # pandas explodes per-ELEMENT: scalars pass through untouched,
            # so a column with no array values (e.g. the result of a prior
            # explode that flattened everything) is an identity op
            return self.copy()
        extras = [
            n
            for n, _ in (self._internal.order_spec or ())
            if n != INDEX_COL and n not in self._columns and n in mat.columns
        ]
        epos = next_epos_name(self._internal.order_spec)
        sdf = mat.select(
            INDEX_COL,
            *others,
            *dict.fromkeys(extras),
            F.posexplode_outer(F.col(column)).alias(epos, column),
        )
        # exploded rows repeat their index: the parent's visible order
        # carries through, and the ARRAY position breaks the within-row
        # tie (an index-only sort leaves element order nondeterministic)
        spec = (self._internal.order_spec or ((INDEX_COL, True),)) + (
            (epos, True),
        )
        internal = InternalFrame(sdf, INDEX_COL, self._internal.index_name, spec)
        return DataFrame._from_internal(internal, {c: sdf[c] for c in self._columns})

    def nunique(self):
        """Distinct count per column in ONE aggregation pass → pandas Series
        (Catalyst plans multi-count-distinct as a single Expand+agg scan)."""
        import pandas as pd

        exprs = [F.count_distinct(v).alias(k) for k, v in self._columns.items()]
        row = self._internal.sdf.select(*exprs).first()
        return pd.Series({c: row[c] for c in self._columns})

    def set_index(self, column: str | list[str], drop: bool = True) -> "DataFrame":
        """Re-point the frame's index at existing column(s) — pure metadata
        for a single key (the anchor already holds the values, zero jobs);
        a LIST of keys builds a MultiIndex, represented as one struct column
        (struct ordering is lexicographic by field, exactly MultiIndex sort
        order, so every order-sensitive path works unchanged). The tuple
        ``index_name`` marks the frame multi-indexed; to_pandas/reset_index
        translate it back to pandas MultiIndex / key columns."""
        # pandas set_index PRESERVES the current row order — without a
        # spec the new index would become the implicit sort key at
        # materialization (r10 probe: set_index('c').reset_index() came
        # back c-sorted). The prior order lives under a HELPER name: the
        # old index column re-aliases to INDEX_COL in the child's
        # _materialized(), where it would resolve to the NEW index (the
        # _level_rebuild trap).
        mat = self._materialized()
        spec = self._internal.order_spec
        if spec is None:
            mat = mat.withColumn("__sidxord__", F.col(INDEX_COL))
            spec = (("__sidxord__", True),)
        elif any(n == INDEX_COL for n, _ in spec):
            # a spec entry naming INDEX_COL (positional slices key the
            # index) would REBIND to the new index — snapshot the OLD
            # index under the helper first (r10 composition probe)
            mat = mat.withColumn("__sidxord__", F.col(INDEX_COL))
            spec = tuple(
                ("__sidxord__" if n == INDEX_COL else n, asc) for n, asc in spec
            )
        if isinstance(column, list):
            missing = [c for c in column if c not in self._columns]
            if missing:
                raise KeyError(missing)
            if len(column) == 1:
                return self.set_index(column[0], drop=drop)
            sdf = mat.withColumn(
                "__midx__", F.struct(*[F.col(c) for c in column])
            )
            internal = InternalFrame(sdf, "__midx__", tuple(column), order_spec=spec)
            keep = {c: sdf[c] for c in self._columns if drop is False or c not in column}
            return DataFrame._from_internal(internal, keep)
        if column not in self._columns:
            raise KeyError(column)
        internal = InternalFrame(mat, column, column, order_spec=spec)
        keep = {c: mat[c] for c in self._columns if drop is False or c != column}
        return DataFrame._from_internal(internal, keep)

    def reset_index(self, drop: bool = False) -> "DataFrame":
        """Demote the index (single or multi) to column(s) and renumber rows
        0..n-1.

        Renumbering is DISTRIBUTED — the zipWithIndex trick in DataFrame
        space, with EXPLICIT bucket boundaries so it is deterministic:

        1. collect a small deterministic sample of index values (md5-bucket
           filter + limit — one tiny job) and pick ~n_parts-1 split points
           driver-side;
        2. every row computes its bucket as a fold over the split-point
           ARRAY LITERAL (``acc + (key >= b)`` — O(n_parts) per row, pure
           codegen);
        3. count rows per bucket (one small job; the driver sees one long
           per bucket, never rows) → cumulative offsets;
        4. final index = offset[bucket] + row_number within the bucket —
           a PARTITIONED window, never a single-partition Exchange.

        Because the boundaries are literals, the counting job and the
        numbering job agree by construction — no persist, no checkpoint,
        fully lazy. (``repartitionByRange`` cannot be used here: it samples
        split points with a per-execution random seed, so two jobs over the
        same plan see different partitions — a real bug caught by the
        q_api_reset_index_enumerate oracle, which duplicated ~1% of ids.)
        Boundary QUALITY only affects balance, never correctness: any
        boundary set yields the exact 0..n-1 enumeration in frame order,
        since equal keys always fold to the same bucket. Ties beyond the
        order columns break arbitrarily, as documented for sorts."""
        from pyspark.sql import Window

        name = self._internal.index_name or "index"
        order_cols = self._internal.order_columns(INDEX_COL)
        base = self._materialized()
        try:
            n_parts = int(base.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        except ValueError:
            # AQE auto-partitioning runtimes set this conf to 'auto'
            n_parts = 200
        # Cap the boundary count independently of the conf: each boundary
        # adds a ge_boundary() when/boolean chain to the bucket expression,
        # and a cluster conf of 2000+ would build a Catalyst tree deep
        # enough to break whole-stage codegen (or analysis itself). Balance
        # only needs enough buckets to avoid a single-partition window;
        # correctness is boundary-count-independent (see docstring).
        n_parts = min(n_parts, 256)

        spec = self._internal.order_spec or ((INDEX_COL, True),)
        key_cols = [c for c, _ in spec]
        ascending = [asc for _, asc in spec]
        # persist around the two driver jobs so an expensive upstream
        # lineage is computed once for them, not twice; unpersisted before
        # returning (the final action recomputes — correctness never
        # depends on the cache, only the literal boundaries)
        base = base.persist()
        # the two driver jobs run under try/finally so a failing upstream
        # source cannot leak the cached frame in session storage memory
        # deterministic boundary sample: md5-bucket filter (the shared
        # operators/sampling.py formula) keeps ~1% of rows, LIMIT caps
        # driver transfer. The sample needs no cross-run stability — both
        # jobs below share these exact literals, which is the only
        # consistency the enumeration requires. Tuples containing null are
        # dropped: null keys never need a boundary (they fold to a fixed
        # end bucket below) and None is not orderable driver-side.
        from pontem_spark.operators.sampling import hash_bucket

        try:
            sample_rows = (
                base.select(*key_cols)
                .filter(hash_bucket(key_cols[0], 100) < 1)
                .limit(100_000)
                .collect()
            )

            def _flat(t: tuple) -> tuple:
                out = []
                for v in t:
                    if isinstance(v, tuple):  # struct key (MultiIndex)
                        out.extend(v)
                    else:
                        out.append(v)
                return tuple(out)

            keys = sorted(
                [tuple(r) for r in sample_rows if None not in _flat(tuple(r))],
                key=lambda t: tuple(
                    (v if asc else _ReverseOrder(v)) for v, asc in zip(t, ascending)
                ),
            )
            step = max(1, len(keys) // n_parts)
            boundaries = [keys[i] for i in range(step, len(keys), step)][: n_parts - 1]

            # struct-typed keys (MultiIndex) expand to per-field atoms — Spark
            # cannot build struct LITERALS, and struct ordering is field-wise
            # lexicographic anyway, so the comparison is identical
            schema_types = {f.name: f.dataType for f in base.schema.fields}

            def atoms(b: tuple) -> "list[tuple[Column, bool, object]]":
                out = []
                for (col, asc), bv in zip(spec, b):
                    dt = schema_types.get(col)
                    if dt is not None and dt.typeName() == "struct":
                        vals = list(bv.values()) if isinstance(bv, dict) else list(bv)
                        for fname, fv in zip(dt.names, vals):
                            out.append((F.col(col)[fname], asc, fv))
                    else:
                        out.append((F.col(col), asc, bv))
                return out

            def ge_boundary(b: tuple) -> Column:
                # row-key >= boundary under the frame's order (lexicographic
                # over the order columns, honoring per-column direction).
                # Null atoms follow Spark's sort placement: nulls FIRST under
                # asc (before every boundary → False), nulls LAST under desc
                # (after every boundary → True).
                cond = F.lit(False)
                eq = F.lit(True)
                for c, asc, bv in atoms(b):
                    after = (c > F.lit(bv)) if asc else (c < F.lit(bv))
                    after = F.when(c.isNull(), F.lit(not asc)).otherwise(after)
                    cond = cond | (eq & after)
                    eq = eq & c.eqNullSafe(F.lit(bv))
                return cond | eq

            bucket = F.lit(0)
            for b in boundaries:
                bucket = bucket + ge_boundary(b).cast("int")
            # deterministic tie-break beyond the order columns: a content hash
            # over every column, so re-executions of this LAZY plan assign the
            # same index to the same row (rows identical in all columns remain
            # interchangeable — observationally equivalent either way)
            tiebreak = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in base.columns]))
            with_bucket = base.withColumn("__pid__", bucket)

            counts = {
                r["__pid__"]: r["cnt"]
                for r in with_bucket.groupBy("__pid__").agg(F.count("*").alias("cnt")).collect()
            }
        finally:
            base.unpersist()
        offsets: list[int] = []
        acc = 0
        for pid in range((max(counts) + 1) if counts else 0):
            offsets.append(acc)
            acc += counts.get(pid, 0)
        off_expr = F.element_at(
            F.array(*[F.lit(o) for o in offsets]), F.col("__pid__") + 1
        ) if offsets else F.lit(0)
        w = Window.partitionBy("__pid__").orderBy(*order_cols, tiebreak)
        sdf = with_bucket.withColumn(
            "__new_idx__", (off_expr + F.row_number().over(w) - 1).cast("long")
        ).drop("__pid__")
        internal = InternalFrame(sdf, "__new_idx__", None)
        cols: dict[str, Column] = {}
        if not drop:
            if isinstance(name, tuple):  # MultiIndex → one column per level
                # address struct fields via the SCHEMA (unnamed ctor
                # levels store None in index_name but level_{i} in the
                # struct — r14); pandas names the output columns
                # level_{i} for unnamed levels too
                fields = sdf.schema[INDEX_COL].dataType.names
                for level, fld in zip(name, fields):
                    cols[str(level) if level is not None else fld] = sdf[INDEX_COL][fld]
            else:
                cols[str(name)] = sdf[INDEX_COL]
        collisions = sorted(set(cols) & set(self._columns))
        if collisions:
            # pandas raises rather than silently dropping the body column
            raise ValueError(f"cannot insert {collisions[0]}, already exists")
        cols.update({c: sdf[c] for c in self._columns})
        return DataFrame._from_internal(internal, cols)

    def query(self, expr: str) -> "DataFrame":
        """Filter rows with a SQL boolean expression over the frame's
        columns (``df.query("a > 3 and seg == 'x'")``). The predicate goes
        straight into the plan, so Catalyst pushes it into the scan.

        pandas comparisons treat NaN as missing (``f > 0`` drops a NaN
        row) while Spark orders NaN ABOVE everything (``NaN > 0`` is
        TRUE — r7 probe). The predicate therefore evaluates over
        NaN-blanked shadows of the float columns; originals are restored
        afterwards. All pure projections around one filter — still
        map-side, still scan-adjacent."""
        sdf = self._materialized()
        floats = [c for c, t in sdf.dtypes if t in ("double", "float") and c in self._columns]
        if floats:
            backup = sdf.withColumns({f"__q_{c}": F.col(c) for c in floats})
            blanked = backup.withColumns(
                {c: F.when(~F.isnan(F.col(c)), F.col(c)) for c in floats}
            )
            filtered = blanked.filter(F.expr(expr))
            sdf = filtered.withColumns(
                {c: F.col(f"__q_{c}") for c in floats}
            ).drop(*[f"__q_{c}" for c in floats])
        else:
            sdf = sdf.filter(F.expr(expr))
        internal = InternalFrame(
            sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec
        )
        return DataFrame._from_internal(internal, {c: sdf[c] for c in self._columns})

    def sample(self, frac: float, seed: int | None = None) -> "DataFrame":
        """Bernoulli row sample — per-partition, no shuffle. For the
        engine-reproducible variant use ``operators/sampling.py`` (md5-hash
        buckets); ``sample`` matches pandas' RNG contract instead."""
        sdf = self._materialized().sample(fraction=frac, seed=seed)
        internal = InternalFrame(
            sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec
        )
        return DataFrame._from_internal(internal, {c: sdf[c] for c in self._columns})

    def nlargest(self, n: int, columns: str | list[str], keep: str = "first") -> "DataFrame":
        """Top-n by column(s): a lazy descending order spec + limit, so the
        plan is TakeOrderedAndProject (per-partition heaps + driver merge),
        never a global sort."""
        return self._n_extreme_frame(n, columns, largest=True, keep=keep)

    def nsmallest(self, n: int, columns: str | list[str], keep: str = "first") -> "DataFrame":
        return self._n_extreme_frame(n, columns, largest=False, keep=keep)

    def _n_extreme_frame(self, n: int, columns, largest: bool, keep: str = "first") -> "DataFrame":
        """``keep``: 'first'/'last' break boundary ties by lowest/highest
        index (pandas: position — the documented index-order deviation);
        'all' keeps every row tying the n-th key, so the result can exceed
        n rows (one extra broadcast 1-row boundary join, no global sort).
        Rows missing in a sort column order AFTER every valid value in
        that column (pandas na_position contract; Spark's asc-nulls-first
        / NaN-is-largest defaults would otherwise lead nsmallest/nlargest
        with the missing rows — r10 probe)."""
        if keep not in ("first", "last", "all"):
            raise ValueError(
                f"nlargest/nsmallest: keep must be 'first', 'last' or 'all', got {keep!r}"
            )
        by = [columns] if isinstance(columns, str) else list(columns)
        sdf = self._materialized()
        schema = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
        # dedicated sort-key helpers — same derived-rebind fix as
        # sort_values (r10 probe); plus a per-column missing flag so the
        # missing block always sorts LAST regardless of direction
        for c in by:
            miss = F.col(c).isNull()
            if schema.get(c) in ("double", "float"):
                miss = miss | F.isnan(F.col(c))
            sdf = sdf.withColumn(f"__svm_{c}__", miss).withColumn(
                f"__sv_{c}__", F.when(~miss, F.col(c))
            )
        pair_spec: list[tuple[str, bool]] = []
        for c in by:
            pair_spec += [(f"__svm_{c}__", True), (f"__sv_{c}__", not largest)]
        if keep == "all":
            spec = tuple(pair_spec) + ((INDEX_COL, True),)
            # boundary = the WORST kept key: order the (≤ n)-row top frame
            # by the REVERSED spec and take one row
            top = sdf.orderBy(
                *[F.col(c).asc() if asc else F.col(c).desc() for c, asc in spec]
            ).limit(n)
            rev = top.orderBy(
                *[F.col(c).desc() if asc else F.col(c).asc() for c, asc in spec[:-1]]
            ).limit(1)
            bcols = [x for c in by for x in (f"__svm_{c}__", f"__sv_{c}__")]
            boundary = rev.select(*[F.col(x).alias(f"__b_{x}") for x in bcols])
            # lexicographic ties-or-beats the boundary key: a row is kept
            # unless some leading-tie column leaves it strictly worse
            worse = F.lit(False)
            tie = F.lit(True)
            for c in by:
                mc, bm = F.col(f"__svm_{c}__"), F.col(f"__b___svm_{c}__")
                vc, bv = F.col(f"__sv_{c}__"), F.col(f"__b___sv_{c}__")
                beaten = (vc < bv) if largest else (vc > bv)
                col_worse = (mc & ~bm) | (~mc & ~bm & F.coalesce(beaten, F.lit(False)))
                col_tie = (mc & bm) | (~mc & ~bm & F.coalesce(vc == bv, F.lit(False)))
                worse = worse | (tie & col_worse)
                tie = tie & col_tie
            kept = sdf.crossJoin(F.broadcast(boundary)).filter(~worse)
            sdf = kept.drop(*[f"__b_{x}" for x in bcols])
            internal = InternalFrame(sdf, INDEX_COL, self._internal.index_name, spec)
            return DataFrame._from_internal(
                internal, {c: sdf[c] for c in self._columns}
            )
        tie_asc = keep == "first"
        spec = tuple(pair_spec) + ((INDEX_COL, tie_asc),)
        internal = InternalFrame(sdf, INDEX_COL, self._internal.index_name, spec)
        out = DataFrame._from_internal(internal, {c: sdf[c] for c in self._columns})
        return out.head(n)

    def duplicated(self, subset: list[str] | None = None, keep: "str | bool" = "first") -> Series:
        """Boolean Series marking duplicate rows, pandas ``keep`` semantics
        ('first' = lowest index survives, 'last' = highest, ``False`` marks
        all members). One window shuffle on the key columns; the anchor is
        preserved so ``df[~df.duplicated()]`` is the plain dedup idiom."""
        from pyspark.sql import Window

        keys = subset or list(self._columns)
        part = [self._columns[k] for k in keys]
        if keep is False:
            col = F.count(F.lit(1)).over(Window.partitionBy(*part)) > 1
        elif keep in ("first", "last"):
            # 'first' = first in the VISIBLE order (r10 composition probe);
            # spec entries resolve against the anchor sdf, where the helper
            # columns live
            idx_name = self._internal.index_spark_col
            ospec = self._internal.order_spec or ((idx_name, True),)
            order = [
                F.col(n).asc() if (asc == (keep == "first")) else F.col(n).desc()
                for n, asc in ospec
            ]
            w = Window.partitionBy(*part).orderBy(*order)
            col = F.row_number().over(w) > 1
        else:
            raise ValueError(f"duplicated: keep must be 'first', 'last' or False, got {keep!r}")
        return Series._from_internal(self._internal, col, None)

    def _pairwise_matrix(self, pair_agg, diag_agg=None, diag_const: float = 1.0):
        """Shared scaffolding for corr/cov: numeric-column selection, ONE
        aggregation pass for all k·(k-1)/2 pair cells (plus per-column
        diagonal aggregates when ``diag_agg`` is given, else the constant
        ``diag_const``), symmetric pandas matrix out."""
        import pandas as pd

        numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
        schema = self._dtype_map()
        cols = [c for c in self._columns if schema[c] in numeric]
        # NaN is pandas-missing: corr/covar skip NULL pairwise but
        # propagate NaN into the whole cell (r8 probe) — blank NaN to NULL
        v = {c: self._valid_col(c, schema) for c in cols}
        exprs = (
            [diag_agg(v[c]).alias(f"v_{i}") for i, c in enumerate(cols)]
            if diag_agg
            else []
        )
        n_diag = len(exprs)
        exprs += [
            pair_agg(v[a], v[b]).alias(f"{i}_{j}")
            for i, a in enumerate(cols)
            for j, b in enumerate(cols)
            if i < j
        ]
        row = self._internal.sdf.select(*exprs).first() if exprs else []
        out = pd.DataFrame(diag_const, index=cols, columns=cols)
        for i, c in enumerate(cols[:n_diag]):
            out.loc[c, c] = row[i]
        k = n_diag
        for i, a in enumerate(cols):
            for j, b in enumerate(cols):
                if i < j:
                    out.loc[a, b] = out.loc[b, a] = row[k]
                    k += 1
        return out

    def corr(self):
        """Pairwise Pearson correlation matrix of the numeric columns —
        ONE aggregation pass computes all k·(k-1)/2 cells (Catalyst runs the
        corr aggregates side by side in a single scan)."""
        return self._pairwise_matrix(F.corr, diag_const=1.0)

    def cov(self, ddof: int = 1):
        """Pairwise sample-covariance matrix of the numeric columns — like
        :meth:`corr`, ONE aggregation pass computes every cell (the k²/2
        covar aggregates plus the k variances run side by side in a single
        scan). ``ddof=1`` is the pandas default; ``ddof=0`` gives the
        population covariance."""
        if ddof not in (0, 1):
            raise ValueError(f"ddof must be 0 or 1, got {ddof}")
        pair = F.covar_samp if ddof == 1 else F.covar_pop
        diag = F.var_samp if ddof == 1 else F.var_pop
        return self._pairwise_matrix(pair, diag_agg=diag, diag_const=0.0)

    def _valid_col(self, name: str, schema: "dict[str, str] | None" = None):
        """Column with pandas-missing (NULL or float NaN) blanked to NULL —
        the frame twin of Series._valid_col: Spark aggregates skip NULL but
        propagate NaN, the opposite of pandas skipna (r7 probe)."""
        if schema is None:
            schema = self._dtype_map()
        v = self._columns[name]
        if schema.get(name) in ("double", "float"):
            return F.when(F.isnan(v), F.lit(None)).otherwise(v)
        return v

    def _reduce_all(self, how: str):
        """Per-column reduction → pandas Series, one aggregation pass,
        pandas skipna (NaN excluded like NULL)."""
        import pandas as pd

        from pontem_spark.core.groupby import _AGGS

        schema = self._dtype_map()
        # sum/mean on a string column would ANSI-throw casting the values
        # (pandas numeric_only=True behavior instead — min/max/count stay
        # all-column, both engines order/count strings fine)
        cols = self._numeric_cols() if how in ("sum", "mean") else list(self._columns)
        exprs = [_AGGS[how](self._valid_col(k, schema)).alias(k) for k in cols]
        row = self._internal.sdf.select(*exprs).first()
        out = pd.Series({c: row[c] for c in cols})
        if how == "sum":  # pandas: all-missing column sums to 0
            out = out.fillna(0)
        return out

    def _numeric_cols(self) -> list[str]:
        schema = self._dtype_map()
        return [
            c
            for c in self._columns
            if schema[c] in ("tinyint", "smallint", "int", "bigint", "float", "double")
        ]

    def _reduce_rowwise(self, how: str):
        """axis=1 reduction → a Series over the SAME anchor (one map-side
        expression per row — no shuffle, no job until materialized).
        pandas skipna semantics: nulls are ignored; an all-null row yields
        0 for sum (pandas min_count=0) and null for mean/min/max."""
        from functools import reduce as _reduce

        from pontem_spark.core.series import Series

        schema = self._dtype_map()
        cols = [self._valid_col(c, schema) for c in self._numeric_cols()]
        if not cols:
            raise ValueError("no numeric columns for axis=1 reduction")
        if how == "sum":
            expr = _reduce(
                lambda a, b: a + b,
                [F.coalesce(c.cast("double"), F.lit(0.0)) for c in cols],
            )
        elif how == "mean":
            total = _reduce(
                lambda a, b: a + b,
                [F.coalesce(c.cast("double"), F.lit(0.0)) for c in cols],
            )
            n = _reduce(
                lambda a, b: a + b, [c.isNotNull().cast("int") for c in cols]
            )
            expr = F.when(n > 0, total / n)
        elif how == "min":  # least/greatest skip nulls (all-null → null)
            expr = F.least(*cols) if len(cols) > 1 else cols[0]
        elif how == "max":
            expr = F.greatest(*cols) if len(cols) > 1 else cols[0]
        else:
            raise ValueError(f"unsupported axis=1 reduction: {how!r}")
        return Series._from_internal(self._internal, expr, None)

    def sum(self, axis: int = 0):
        if axis in (1, "columns"):
            return self._reduce_rowwise("sum")
        return self._reduce_all("sum")

    def mean(self, axis: int = 0):
        if axis in (1, "columns"):
            return self._reduce_rowwise("mean")
        return self._reduce_all("mean")

    def min(self, axis: int = 0):
        if axis in (1, "columns"):
            return self._reduce_rowwise("min")
        return self._reduce_all("min")

    def max(self, axis: int = 0):
        if axis in (1, "columns"):
            return self._reduce_rowwise("max")
        return self._reduce_all("max")

    def count(self):
        return self._reduce_all("count")

    def median(self):
        return self.quantile(0.5)

    def quantile(self, q: "float | list" = 0.5):
        """Exact percentile per numeric column → pandas Series (scalar q)
        or pandas DataFrame indexed by q (list q), ONE aggregation pass
        either way (the k percentile buffers run side by side)."""
        import pandas as pd

        schema = self._dtype_map()
        cols = self._numeric_cols()
        if not isinstance(q, (int, float)):
            qs = [float(x) for x in q]
            exprs = [
                F.percentile(
                    self._valid_col(c, schema), F.array(*[F.lit(x) for x in qs])
                ).alias(c)
                for c in cols
            ]
            row = self._internal.sdf.select(*exprs).first()
            return pd.DataFrame(
                {
                    c: [float("nan")] * len(qs) if row[c] is None else
                       [float("nan") if v is None else float(v) for v in row[c]]
                    for c in cols
                },
                index=qs,
                dtype="float64",
            )
        exprs = [
            F.percentile(self._valid_col(c, schema), F.lit(q)).alias(c) for c in cols
        ]
        row = self._internal.sdf.select(*exprs).first()
        return pd.Series({c: row[c] for c in cols}, dtype="float64")

    def std(self, ddof: int = 1):
        return self._spread("std", ddof)

    def var(self, ddof: int = 1):
        return self._spread("var", ddof)

    def _spread(self, kind: str, ddof: int):
        """std/var per numeric column, arbitrary ddof derived from
        (var_samp, count) — one aggregation pass for every column."""
        import pandas as pd

        schema = self._dtype_map()
        cols = self._numeric_cols()
        exprs = []
        for c in cols:
            v = self._valid_col(c, schema)
            exprs += [F.var_samp(v).alias(f"{c}__v"), F.count(v).alias(f"{c}__n")]
        row = self._internal.sdf.select(*exprs).first()
        out = {}
        for c in cols:
            v, n = row[f"{c}__v"], row[f"{c}__n"]
            if v is None or n - ddof <= 0:
                out[c] = float("nan")
            else:
                var = v * (n - 1) / (n - ddof)
                out[c] = var**0.5 if kind == "std" else var
        return pd.Series(out, dtype="float64")

    def idxmax(self):
        return self._idx_extreme(descending=True)

    def idxmin(self):
        return self._idx_extreme(descending=False)

    def _idx_extreme(self, descending: bool):
        """Per numeric column, the index label of the extreme value with
        pandas' FIRST-occurrence tie-break — TWO aggregation passes total
        for all columns (pass 1: the extreme values; pass 2: min index
        among the rows attaining them), never a per-column sort job."""
        import pandas as pd

        mat = self._materialized()
        schema = {f.name: f.dataType.simpleString() for f in mat.schema.fields}
        cols = self._numeric_cols()
        agg = F.max if descending else F.min

        def valid(c):
            v = mat[c]
            if schema.get(c) in ("double", "float"):
                return F.when(F.isnan(v), F.lit(None)).otherwise(v)
            return v

        row = mat.select(*[agg(valid(c)).alias(c) for c in cols]).first()
        extremes = {c: row[c] for c in cols}
        bad = [c for c, v in extremes.items() if v is None]
        if bad:  # pandas raises on an all-missing column
            raise ValueError(f"attempt to get arg-extreme of all-missing columns {bad}")
        row2 = mat.select(
            *[
                F.min(F.when(valid(c) == F.lit(extremes[c]), mat[INDEX_COL])).alias(c)
                for c in cols
            ]
        ).first()
        return pd.Series({c: row2[c] for c in cols})

    def describe(self):
        """count/mean/std/min/quartiles/max for every numeric column —
        ONE aggregation pass total (pandas layout)."""
        import pandas as pd

        schema = self._dtype_map()
        numeric = [
            c
            for c in self._columns
            if schema[c] in ("tinyint", "smallint", "int", "bigint", "float", "double")
        ]
        stats = [
            ("count", F.count), ("mean", F.mean), ("std", F.stddev_samp), ("min", F.min),
            ("25%", lambda col: F.percentile(col, F.lit(0.25))),
            ("50%", lambda col: F.percentile(col, F.lit(0.5))),
            ("75%", lambda col: F.percentile(col, F.lit(0.75))),
            ("max", F.max),
        ]
        exprs = [
            fn(self._valid_col(c, schema)).alias(f"{c}__{label}")
            for c in numeric
            for label, fn in stats
        ]
        row = self._internal.sdf.select(*exprs).first()
        data = {
            c: [row[f"{c}__{label}"] for label, _ in stats] for c in numeric
        }
        return pd.DataFrame(data, index=[label for label, _ in stats])

    def _truthy(self, col: str, schema) -> Column:
        """pandas truthiness per dtype (0/''/False are falsy), missing →
        NULL so skipna aggregation can skip it."""
        v = self._valid_col(col, schema)
        t = schema[col]
        if t == "boolean":
            return v
        if t == "string":
            return F.when(v.isNotNull(), F.length(v) > 0)
        return F.when(v.isNotNull(), v != F.lit(0).cast(t if t != "void" else "int"))

    def any(self):
        """Per-column pandas ``any`` (skipna): one aggregation pass →
        eager pandas Series like the other axis-0 reductions."""
        import pandas as pd

        schema = self._dtype_map()
        exprs = [
            F.coalesce(F.max(self._truthy(c, schema)), F.lit(False)).alias(c)
            for c in self._columns
        ]
        row = self._internal.sdf.select(*exprs).first()
        return pd.Series({c: bool(row[c]) for c in self._columns})

    def all(self):
        """Per-column pandas ``all`` (skipna; empty/all-missing → True)."""
        import pandas as pd

        schema = self._dtype_map()
        exprs = [
            F.coalesce(F.min(self._truthy(c, schema)), F.lit(True)).alias(c)
            for c in self._columns
        ]
        row = self._internal.sdf.select(*exprs).first()
        return pd.Series({c: bool(row[c]) for c in self._columns})

    def add_prefix(self, prefix: str) -> "DataFrame":
        """Zero-job column relabel (metadata only)."""
        return DataFrame._from_internal(
            self._internal, {f"{prefix}{c}": e for c, e in self._columns.items()}
        )

    def add_suffix(self, suffix: str) -> "DataFrame":
        return DataFrame._from_internal(
            self._internal, {f"{c}{suffix}": e for c, e in self._columns.items()}
        )

    def squeeze(self):
        """Single-column frame → that column as a Series (pandas squeeze
        along columns; row squeezing would need a count job, so a
        single-ROW frame is returned unchanged)."""
        if len(self._columns) == 1:
            return self[next(iter(self._columns))]
        return self

    def stack(self):
        """Wide → long: one output row per (row, column), MultiIndexed
        (index, column label), missing values DROPPED (classic pandas
        stack). A map-side Generate over an inline struct array — zero
        shuffles; columns must share a numeric (→ double) or string
        family, mirroring pandas' object-upcast rule."""
        from pontem_spark.core.series import Series

        schema = self._dtype_map()
        numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
        kinds = {schema[c] for c in self._columns}
        if kinds <= set(numeric):
            cast = "double"
        elif kinds == {"string"}:
            cast = "string"
        else:
            raise TypeError(
                f"stack needs a common column family, got {sorted(kinds)}"
            )
        pairs = F.array(
            *[
                F.struct(
                    F.lit(c).alias("__lbl__"),
                    self._valid_col(c, schema).cast(cast).alias("__v__"),
                )
                for c in self._columns
            ]
        )
        sdf = (
            self._internal.sdf.select(
                self._internal.index_col.alias(INDEX_COL), pairs.alias("__p__")
            )
            .select(INDEX_COL, F.explode("__p__").alias("__e__"))
            .filter(F.col("__e__.__v__").isNotNull())
            .select(
                F.struct(
                    F.col(INDEX_COL).alias("__l0__"),
                    F.col("__e__.__lbl__").alias("__l1__"),
                ).alias("__midx__"),
                F.col("__e__.__v__").alias("__value__"),
            )
        )
        internal = InternalFrame(
            sdf, "__midx__", (self._internal.index_name, None)
        )
        return Series._from_internal(internal, sdf["__value__"], None)

    @property
    def T(self) -> "DataFrame":
        """Eager transpose — inherently driver-scale (row labels become
        columns), so it collects through the Series.unique()-style loud
        guard (shared MAX_DRIVER_COLS knob, core/limits.py) and rebuilds a
        frame from the transposed pandas object."""
        from pontem_spark.core.limits import MAX_DRIVER_COLS

        n = self._internal.sdf.limit(MAX_DRIVER_COLS + 1).count()
        if n > MAX_DRIVER_COLS:
            raise ValueError(
                f"T would create >{MAX_DRIVER_COLS} columns; transpose is a "
                "driver-scale operation — aggregate or filter first"
            )
        pdf = self.to_pandas().T
        pdf.columns = [str(c) for c in pdf.columns]
        spark = self._internal.sdf.sparkSession
        return DataFrame(pdf, spark=spark)


    # -- label indexing, elementwise map, row-wise apply -------------------

    @property
    def loc(self):
        return _FrameLocIndexer(self)

    def map(self, func, na_action: str | None = None) -> "DataFrame":
        """Elementwise callable over every cell (pandas DataFrame.map /
        legacy applymap) — each column routes through Series.map's Arrow
        path on the SHARED anchor, so the result is still one frame, one
        plan, no joins."""
        return DataFrame._from_internal(
            self._internal,
            {k: self[k].map(func, na_action=na_action)._col for k in self._columns},
        )

    applymap = map

    def apply(self, func, axis: int = 0, dtype: str = "double"):
        """axis=0: func over each COLUMN as a Series — scalars come back
        as a pandas Series (the reduction shape), Series come back as a
        rebuilt frame. axis=1: func over each ROW via one Arrow
        pandas_udf on a struct of the columns (batched, never per-row
        Python) returning a Series of ``dtype``. A STRING func is the
        pandas named-reduction form (``df.apply("sum")``, r8 probe) —
        delegated to the one-pass reduction paths, never Python."""
        if isinstance(func, str):
            if axis in (1, "columns"):
                return self._reduce_rowwise(func)
            return self._reduce_all(func)
        if axis == 0:
            results = {c: func(self[c]) for c in self._columns}
            if all(isinstance(v, Series) for v in results.values()):
                return DataFrame._from_internal(
                    self._internal, {k: v._col for k, v in results.items()}
                )
            import pandas as pd

            return pd.Series(results)
        from pontem_spark.core._udf import make_row_udf

        names = list(self._columns)
        struct = F.struct(*[self._columns[c].alias(c) for c in names])
        return Series._from_internal(self._internal, make_row_udf(func, dtype)(struct), None)

    def mode(self):
        """Per-column modes, ragged-padded with NaN like pandas — an eager
        driver terminal built from Series.mode (each column's mode set is
        tiny by construction)."""
        import pandas as pd

        return pd.concat(
            {c: self[c].mode().to_pandas().reset_index(drop=True) for c in self._columns},
            axis=1,
        ).set_axis(list(self._columns), axis=1)

    def cumprod(self) -> "DataFrame":
        """Per-column cumprod with pandas skipna (the shared _cum window)."""
        return self._cum(F.product)

    def prod(self):
        import pandas as pd

        return pd.Series({c: self[c].prod() for c in self._numeric_cols()})

    product = prod

    def _moment_reduce(self, expr_fn):
        """ONE aggregation pass for a composite moment statistic across
        every numeric column (the per-column Series methods each run a
        driver job — N jobs for an N-column frame; this is 1)."""
        import pandas as pd

        schema = self._dtype_map()
        cols = self._numeric_cols()
        if not cols:
            return pd.Series(dtype="float64")
        exprs = [expr_fn(self._valid_col(c, schema)).alias(c) for c in cols]
        row = self._internal.sdf.select(*exprs).first()
        return pd.Series(
            {c: (float("nan") if row[c] is None else row[c]) for c in cols},
            dtype="float64",
        )

    def sem(self, ddof: int = 1):
        from pontem_spark.core.groupby import _COMPOSITE_AGGS

        if ddof == 1:
            return self._moment_reduce(_COMPOSITE_AGGS["sem"])
        import pandas as pd

        return pd.Series({c: self[c].sem(ddof=ddof) for c in self._numeric_cols()})

    def skew(self):
        from pontem_spark.core.groupby import _skew_expr

        return self._moment_reduce(_skew_expr)

    def kurt(self):
        from pontem_spark.core.groupby import _kurt_expr

        return self._moment_reduce(_kurt_expr)

    kurtosis = kurt

    def combine_first(self, other: "DataFrame") -> "DataFrame":
        """Patch missing cells from ``other``, aligned on the index (the
        pandas CDC idiom) — one full-outer join on the index, per-column
        coalesce with pandas-missing semantics (NaN counts as missing)."""
        a = self.to_spark(index_col="__idx")
        b = other.to_spark(index_col="__idx")
        sa = {f.name: f.dataType.simpleString() for f in a.schema.fields}
        sb = {f.name: f.dataType.simpleString() for f in b.schema.fields}

        def blank(col: Column, t: str | None) -> Column:
            if t in ("double", "float"):
                return F.when(F.isnan(col), F.lit(None)).otherwise(col)
            return col

        j = a.alias("a").join(b.alias("b"), "__idx", "full_outer")
        cols: dict[str, Column] = {}
        for c in list(self._columns) + [c for c in other._columns if c not in self._columns]:
            left = blank(F.col(f"a.{c}"), sa.get(c)) if c in self._columns else F.lit(None)
            right = blank(F.col(f"b.{c}"), sb.get(c)) if c in other._columns else F.lit(None)
            cols[c] = F.coalesce(left, right)
        internal = InternalFrame(j, "__idx", self._internal.index_name)
        return DataFrame._from_internal(internal, cols)

    def reindex(self, labels: "list") -> "DataFrame":
        """Conform to a new index label list: present labels keep their
        row, absent labels become all-missing rows (pandas). One left join
        from the (tiny, broadcastable) label frame. Duplicate labels in
        SELF raise like pandas (lazy in-plan guard)."""
        from pontem_spark.core.internal import guard_unique_labels

        spark = self._internal.sdf.sparkSession
        lab = spark.createDataFrame([(l,) for l in labels], ["__idx"])
        data = self.to_spark(index_col="__idx")
        j = guard_unique_labels(
            data, "__idx", lab.join(data, "__idx", "left"), "__idx"
        )
        internal = InternalFrame(j, "__idx", self._internal.index_name)
        return DataFrame._from_internal(internal, {c: j[c] for c in self._columns})

    def reindex_like(self, other: "DataFrame") -> "DataFrame":
        """Conform to ``other`` on BOTH axes like pandas: rows =
        other's index (one DISTRIBUTED left join from its index frame —
        never a driver-side label collect), columns = other's columns
        (absent ones come back all-missing). Result rows follow index
        order. Duplicate labels in SELF raise like pandas (lazy in-plan
        guard)."""
        from pontem_spark.core.internal import guard_unique_labels

        lab = other.to_spark(index_col="__idx").select("__idx")
        data = self.to_spark(index_col="__idx")
        j = guard_unique_labels(
            data, "__idx", lab.join(data, "__idx", "left"), "__idx"
        )
        internal = InternalFrame(j, "__idx", self._internal.index_name)
        absent = F.lit(None).cast("double")
        return DataFrame._from_internal(
            internal,
            {
                c: (j[c] if c in self._columns else absent)
                for c in other._columns
            },
        )

    @property
    def values(self):
        return self.to_pandas().values

    def copy(self, deep: bool = True) -> "DataFrame":
        return DataFrame._from_internal(self._internal, dict(self._columns))

    @property
    def empty(self) -> bool:
        return self._internal.sdf.limit(1).count() == 0

    def pop(self, column: str) -> Series:
        """Remove and return a column (in-place on the wrapper's column
        dict — the anchor itself is immutable)."""
        out = self[column]
        del self._columns[column]
        return out

    def insert(self, loc: int, column: str, value) -> None:
        """Insert a column at a position (pandas in-place contract)."""
        if column in self._columns:
            raise ValueError(f"cannot insert {column}, already exists")
        items = list(self._columns.items())
        col = value._col if isinstance(value, Series) else (
            value if isinstance(value, Column) else F.lit(value)
        )
        items.insert(loc, (column, col))
        self._columns.clear()
        self._columns.update(items)

    @property
    def at(self):
        """Scalar label accessor: df.at[label, col] (loc's scalar cell)."""
        return _FrameAtIndexer(self, positional=False)

    @property
    def iat(self):
        """Scalar positional accessor: df.iat[pos, colpos]."""
        return _FrameAtIndexer(self, positional=True)

    def value_counts(self, normalize: bool = False, ascending: bool = False) -> Series:
        """Row-combination counts as a Series with the columns as a
        (Multi)Index — one hash aggregate on all columns; the sort lives
        in the order spec (TakeOrdered when a head() follows)."""
        cols = list(self._columns)
        sdf = self._materialized()
        counted = sdf.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n"))
        if normalize:
            total = counted.agg(F.sum("__n").alias("__t"))
            counted = counted.crossJoin(F.broadcast(total)).withColumn(
                "__n", F.col("__n") / F.col("__t")
            )
        if len(cols) == 1:
            out = counted.withColumnRenamed(cols[0], "__vidx__")
            internal = InternalFrame(
                out, "__vidx__", cols[0], (("__n", ascending), ("__vidx__", True))
            )
        else:
            out = counted.withColumn(
                "__vidx__", F.struct(*[F.col(c) for c in cols])
            )
            internal = InternalFrame(
                out, "__vidx__", tuple(cols), (("__n", ascending), ("__vidx__", True))
            )
        name = "proportion" if normalize else "count"
        return Series._from_internal(internal, F.col("__n"), name)

    def rename_axis(self, name) -> "DataFrame":
        """Rename the index (zero-job metadata)."""
        internal = InternalFrame(
            self._internal.sdf,
            self._internal.index_spark_col,
            name,
            self._internal.order_spec,
        )
        return DataFrame._from_internal(internal, dict(self._columns))

    def _level_rebuild(self, keep: "list[str]", base_sdf=None) -> "DataFrame":
        m = base_sdf if base_sdf is not None else self._materialized()
        # pandas droplevel/swaplevel/xs PRESERVE row order; the rebuilt
        # index must not become the sort key (r8 probe: droplevel re-sorted
        # by the remaining levels). The original struct index keeps the
        # order — but under a HELPER name: _materialized() re-aliases the
        # new index to INDEX_COL, so a spec naming INDEX_COL would resolve
        # to the rebuilt index, not the original one.
        spec = self._internal.order_spec
        if spec is None:
            m = m.withColumn("__lvlorder__", F.col(INDEX_COL))
            spec = (("__lvlorder__", True),)
        if len(keep) == 1:
            sdf = m.withColumn("__idx2__", F.col(f"{INDEX_COL}.{keep[0]}"))
            internal = InternalFrame(sdf, "__idx2__", keep[0], order_spec=spec)
        else:
            sdf = m.withColumn(
                "__idx2__",
                F.struct(*[F.col(f"{INDEX_COL}.{n}").alias(n) for n in keep]),
            )
            internal = InternalFrame(sdf, "__idx2__", tuple(keep), order_spec=spec)
        return DataFrame._from_internal(internal, {c: sdf[c] for c in self._columns})

    def _index_level_names(self) -> list:
        name = self._internal.index_name
        if not isinstance(name, tuple):
            raise TypeError("not a MultiIndex")
        if any(n is None for n in name):
            # ctor MultiIndexes keep pandas' unnamed levels (None) in
            # index_name; the struct schema holds the level_{i} fallback
            # field names the level machinery addresses (r14)
            fields = self._materialized().schema[INDEX_COL].dataType.names
            return [n if n is not None else f for n, f in zip(name, fields)]
        return list(name)

    def droplevel(self, level) -> "DataFrame":
        names = self._index_level_names()
        drop = names[level] if isinstance(level, int) else level
        return self._level_rebuild([n for n in names if n != drop])

    def swaplevel(self, i: int = -2, j: int = -1) -> "DataFrame":
        names = self._index_level_names()
        names[i], names[j] = names[j], names[i]
        return self._level_rebuild(names)

    def xs(self, key, level=0) -> "DataFrame":
        """MultiIndex cross-section: pushdown filter on the level + level
        drop."""
        names = self._index_level_names()
        lvl = names[level] if isinstance(level, int) else level
        m = self._materialized().filter(F.col(f"{INDEX_COL}.{lvl}") == F.lit(key))
        return self._level_rebuild([n for n in names if n != lvl], base_sdf=m)

    def unstack(self) -> "DataFrame":
        """2-level MultiIndexed frame → wide frame: the inner level's
        values become column name suffixes per existing column (pandas
        flattened to ``col_level`` names since this engine's columns are
        flat strings) — ONE groupBy(outer).pivot(inner) over all columns."""
        sdf = self._materialized()
        idx_type = dict(sdf.dtypes)[INDEX_COL]
        if not idx_type.startswith("struct"):
            raise ValueError("unstack needs a 2-level MultiIndexed frame")
        fields = sdf.select(f"{INDEX_COL}.*").columns
        if len(fields) != 2:
            raise ValueError(f"unstack supports exactly 2 index levels, got {len(fields)}")
        l0, l1 = fields
        cols = list(self._columns)
        flat = sdf.select(
            F.col(f"{INDEX_COL}.{l0}").alias("__l0__"),
            F.col(f"{INDEX_COL}.{l1}").alias("__l1__"),
            *[sdf[c].alias(c) for c in cols],
        )
        wide = flat.groupBy("__l0__").pivot("__l1__").agg(
            *[F.first(c).alias(c) for c in cols]
        )
        out_cols = [c for c in wide.columns if c != "__l0__"]
        # Spark names pivot outputs "<pivotval>_<alias>" for multi-agg;
        # pandas order is (col, level) -> rename to "col_level"
        renames = {}
        for oc in out_cols:
            if len(cols) == 1:
                renames[oc] = f"{cols[0]}_{oc}"
            else:
                lvl, cname = oc.rsplit("_", 1)
                renames[oc] = f"{cname}_{lvl}"
        internal = InternalFrame(
            wide.withColumnRenamed("__l0__", INDEX_COL), INDEX_COL,
            self._internal.index_name[0] if isinstance(self._internal.index_name, tuple) else None,
        )
        ordered = sorted(out_cols, key=lambda oc: (renames[oc].rsplit("_", 1)[0], renames[oc]))
        return DataFrame._from_internal(
            internal, {renames[oc]: wide[oc] for oc in ordered}
        )

    def corrwith(self, other: "DataFrame") -> "Series":
        """Pearson correlation of matching columns, index-aligned — one
        inner join on the index + ONE aggregation computing every shared
        column's corr (pandas returns a driver Series; so do we, via the
        frame-reduction path)."""
        import pandas as pd

        shared = [c for c in self._columns if c in other._columns]
        a = self.to_spark(index_col="__idx")
        b = other.to_spark(index_col="__idx")
        j = a.alias("a").join(b.alias("b"), "__idx", "inner")

        def _nn(col):
            # NaN must act as missing: F.corr skips NULL pairwise but
            # propagates NaN into the whole statistic (r8 probe: one NaN
            # row made every correlation NaN; pandas drops the pair)
            v = col.cast("double")
            return F.when(~F.isnan(v), v)

        exprs = [
            F.corr(_nn(F.col(f"a.{c}")), _nn(F.col(f"b.{c}"))).alias(c)
            for c in shared
        ]
        row = j.agg(*exprs).first()
        return pd.Series({c: row[c] for c in shared})

    def reorder_levels(self, order: "list") -> "DataFrame":
        """Reorder MultiIndex levels (struct field reorder — zero-job)."""
        names = self._index_level_names()
        new = [names[l] if isinstance(l, int) else l for l in order]
        return self._level_rebuild(new)

    def dot(self, other: "DataFrame"):
        """Matrix product: self (n×k, distributed) · other (k×m, k =
        #columns so driver-sized by definition) — ``other`` is collected
        once and each output column becomes a LINEAR-COMBINATION
        expression on the shared anchor: fully distributed on the big
        side, zero joins, one projection."""
        w = other.to_pandas()
        missing = [c for c in self._columns if c not in w.index]
        if missing:
            raise ValueError(f"matrices not aligned; other.index lacks {missing}")
        cols: dict[str, Column] = {}
        for out_col in w.columns:
            expr = None
            for c in self._columns:
                term = self._columns[c] * F.lit(float(w.loc[c, out_col]))
                expr = term if expr is None else expr + term
            cols[str(out_col)] = expr
        return DataFrame._from_internal(self._internal, cols)

    def rolling(self, window: int, min_periods: "int | None" = None):
        """Per-column rolling aggregates sharing ONE window sort."""
        from pontem_spark.core.window import FrameRolling

        return FrameRolling(self, window, min_periods)

    def expanding(self, min_periods: int = 1):
        """Per-column expanding aggregates (unbounded-preceding frame)."""
        from pontem_spark.core.window import FrameRolling

        return FrameRolling(self, 0, min_periods, expanding=True)

    def ewm(
        self,
        com: float | None = None,
        span: float | None = None,
        halflife: float | None = None,
        alpha: float | None = None,
        adjust: bool = True,
        ignore_na: bool = False,
        min_periods: int = 0,
    ):
        """Frame-wide exponentially-weighted windows — one Arrow group
        runs the recurrence for every column (core/window.py::FrameEwm)."""
        from pontem_spark.core.window import FrameEwm

        return FrameEwm(self, com, span, halflife, alpha, adjust, ignore_na, min_periods)

    def interpolate(self, method: str = "linear", limit: "int | None" = None) -> "DataFrame":
        """Positional linear interpolation per numeric column — the
        Series.interpolate semantics (interior gaps linear, leading stay
        missing, trailing ffill, ``limit`` capping consecutive fills per
        run) with the two ignore-nulls window scans SHARED across every
        column (one sort total)."""
        if method != "linear":
            raise ValueError("interpolate: only method='linear'")
        if limit is not None and (not isinstance(limit, int) or limit <= 0):
            raise ValueError("interpolate: limit must be a positive integer")
        from pyspark.sql import Window

        numeric = set(self._numeric_cols())
        bad = [c for c in self._columns if c not in numeric]
        if bad:
            raise TypeError(f"interpolate: non-numeric columns {bad}")
        sdf = self._materialized()
        schema = dict(sdf.dtypes)
        order = self._internal.order_columns(INDEX_COL)
        back = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
        fwd = Window.orderBy(*order).rowsBetween(0, Window.unboundedFollowing)
        pos = F.row_number().over(Window.orderBy(*order))
        cols = {}
        for c in self._columns:
            v = sdf[c].cast("double")
            if schema.get(c) in ("double", "float"):
                v = F.when(~F.isnan(sdf[c]), v)
            valid_pos = F.when(v.isNotNull(), pos)
            pv = F.last(v, ignorenulls=True).over(back)
            pp = F.last(valid_pos, ignorenulls=True).over(back)
            nv = F.first(v, ignorenulls=True).over(fwd)
            np_ = F.first(valid_pos, ignorenulls=True).over(fwd)
            gate = F.lit(True) if limit is None else (pos - pp) <= limit
            cols[c] = (
                F.when(v.isNotNull(), v)
                .when(
                    pv.isNotNull() & nv.isNotNull() & gate,
                    pv + (nv - pv) * (pos - pp) / (np_ - pp).cast("double"),
                )
                .when(pv.isNotNull() & gate, pv)
            )
        internal = InternalFrame(
            sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec
        )
        return DataFrame._from_internal(internal, cols)

    # -- final parity batch -------------------------------------------------

    @property
    def ndim(self) -> int:
        return 2

    @property
    def size(self) -> int:
        return len(self) * len(self._columns)

    def tail(self, n: int = 5) -> "DataFrame":
        return self.iloc[-n:] if n > 0 else self.iloc[len(self):]

    def aggregate(self, spec):
        return self.agg(spec)

    def get(self, key, default=None):
        return self[key] if key in self._columns else default

    def filter(self, items=None, like: str | None = None, regex: str | None = None, axis: int = 1) -> "DataFrame":
        """pandas DataFrame.filter default: subset COLUMNS by name /
        substring / regex — pure column selection, zero jobs."""
        import re as _re

        if axis not in (1, "columns"):
            raise ValueError("filter: only axis=1 (columns) is supported here")
        if sum(x is not None for x in (items, like, regex)) != 1:
            raise TypeError("specify exactly one of items, like, regex")
        if items is not None:
            keep = [c for c in self._columns if c in set(items)]
        elif like is not None:
            keep = [c for c in self._columns if like in c]
        else:
            pat = _re.compile(regex)
            keep = [c for c in self._columns if pat.search(c)]
        return self[keep]

    def transpose(self) -> "DataFrame":
        return self.T

    def truncate(self, before=None, after=None) -> "DataFrame":
        """Index-label range filter, inclusive (pushdown-friendly)."""
        sdf = self._materialized()
        cond = F.lit(True)
        if before is not None:
            cond = cond & (F.col(INDEX_COL) >= F.lit(before))
        if after is not None:
            cond = cond & (F.col(INDEX_COL) <= F.lit(after))
        m = sdf.filter(cond)
        internal = InternalFrame(
            m, INDEX_COL, self._internal.index_name, self._internal.order_spec
        )
        return DataFrame._from_internal(internal, {c: m[c] for c in self._columns})

    def update(self, other: "DataFrame") -> None:
        """Overwrite cells from ``other``'s non-missing values on matching
        index labels and shared columns. Left join + per-column coalesce.
        Rebinds self IN PLACE and returns None, exactly like pandas (r9:
        the r8 hybrid return-self made ``df2 = df.update(o)`` a silent
        alias of ``df`` — returning None forces value-style call sites to
        surface at flip time instead of masking the mutation)."""
        a = self._materialized()
        shared = [c for c in self._columns if c in other._columns]
        b_full = other._materialized()
        # row-aligned derivation (df.update(df.shift())): join on the
        # shared order-spec helpers too (r12)
        keys = rowalign_keys(self._internal, other._internal, a, b_full)
        b = b_full.select(
            INDEX_COL, *keys, *[F.col(c).alias(f"__u_{c}") for c in shared]
        )
        sb = {f.name: f.dataType.simpleString() for f in b.schema.fields}
        j = rowalign_left_join(a, b, keys, [f"__u_{c}" for c in shared])
        cols: dict[str, Column] = {}
        for c in self._columns:
            if c in shared:
                u = F.col(f"__u_{c}")
                if sb.get(f"__u_{c}") in ("double", "float"):
                    u = F.when(F.isnan(u), F.lit(None)).otherwise(u)
                cols[c] = F.coalesce(u, j[c])
            else:
                cols[c] = j[c]
        # self's visible order and row identity survive the update
        uspec = tuple(
            (n, asc)
            for n, asc in (self._internal.order_spec or ())
            if n in j.columns
        ) or None
        internal = InternalFrame(
            j,
            INDEX_COL,
            self._internal.index_name,
            uspec,
            row_tokens=self._internal.row_tokens,
        )
        self._internal = internal
        self._columns = cols
        return None

    def align(self, other: "DataFrame", join: str = "outer") -> "tuple[DataFrame, DataFrame]":
        """Index-align two frames onto ONE joined anchor. Columns align
        too, like pandas (r8 probe): ``outer`` takes the sorted union
        (absent columns come back all-missing), ``inner`` the
        intersection, ``left``/``right`` that side's columns."""
        how = {"outer": "full_outer", "inner": "inner", "left": "left", "right": "right"}[join]
        a = self.to_spark(index_col="__idx")
        b = other.to_spark(index_col="__idx").select(
            "__idx", *[F.col(c).alias(f"__r_{c}") for c in other._columns]
        )
        j = a.join(b, "__idx", how)
        internal = InternalFrame(j, "__idx", self._internal.index_name)
        if join == "outer":
            cols = sorted(set(self._columns) | set(other._columns))
        elif join == "inner":
            cols = [c for c in self._columns if c in other._columns]
        elif join == "left":
            cols = list(self._columns)
        else:
            cols = list(other._columns)
        # pandas fills a column absent from one side with NaN (dtype
        # becomes float64) — a NULL double literal matches
        absent = F.lit(None).cast("double")
        left = DataFrame._from_internal(
            internal, {c: (j[c] if c in self._columns else absent) for c in cols}
        )
        right = DataFrame._from_internal(
            internal,
            {c: (j[f"__r_{c}"] if c in other._columns else absent) for c in cols},
        )
        return left, right

    def combine(self, other: "DataFrame", func, fill_value=None) -> "DataFrame":
        """pandas ``DataFrame.combine``: align (outer index + sorted
        column union), then merge each column PAIR with ``func``. The
        callable receives two engine :class:`Series` sharing ONE joined
        anchor (``align``'s invariant), so any composition of standard
        Series ops stays a single distributed plan — zero extra joins,
        no driver-side data. ``fill_value`` pre-fills missing cells on
        both sides before ``func`` sees them, like pandas."""
        from pontem_spark.core.series import Series

        a, b = self.align(other)
        cols: dict[str, Column] = {}
        for c in a._columns:
            s1, s2 = a[c], b[c]
            if fill_value is not None:
                s1, s2 = s1.fillna(fill_value), s2.fillna(fill_value)
            out = func(s1, s2)
            if not isinstance(out, Series):
                raise TypeError(
                    f"combine: func must return a Series, got {type(out)}"
                )
            if out._internal.sdf is not a._internal.sdf:
                raise ValueError(
                    "combine: func must derive its result from the two "
                    "aligned inputs (standard Series ops), not re-anchor"
                )
            cols[c] = out._col
        return DataFrame._from_internal(a._internal, cols)

    def compare(self, other: "DataFrame") -> "DataFrame":
        """Rows×columns that differ, as ``col_self``/``col_other`` pairs
        (flattened from pandas' column MultiIndex) — one full-outer
        comparison join, differing rows only."""
        a = self.to_spark(index_col="__idx")
        b = other.to_spark(index_col="__idx").select(
            "__idx", *[F.col(c).alias(f"__r_{c}") for c in other._columns]
        )
        j = a.join(b, "__idx", "full_outer")
        import functools as _ft

        neq = [~j[c].eqNullSafe(j[f"__r_{c}"]) for c in self._columns]
        diff = j.filter(_ft.reduce(lambda x, y: x | y, neq))
        internal = InternalFrame(diff, "__idx", self._internal.index_name)
        cols: dict[str, Column] = {}
        for c in self._columns:
            same = diff[c].eqNullSafe(diff[f"__r_{c}"])
            cols[f"{c}_self"] = F.when(~same, diff[c])
            cols[f"{c}_other"] = F.when(~same, diff[f"__r_{c}"])
        return DataFrame._from_internal(internal, cols)

    def first_valid_index(self):
        """First index label with ANY non-missing cell, in visible order."""
        return self._frame_valid_edge(first=True)

    def last_valid_index(self):
        return self._frame_valid_edge(first=False)

    def _frame_valid_edge(self, first: bool):
        import functools as _ft

        sdf = self._materialized()
        schema = dict(sdf.dtypes)
        masks = []
        for c in self._columns:
            v = sdf[c]
            m = v.isNotNull()
            if schema.get(c) in ("double", "float"):
                m = m & ~F.isnan(v)
            masks.append(m)
        any_valid = _ft.reduce(lambda x, y: x | y, masks)
        spec = self._internal.order_spec or ((INDEX_COL, True),)
        order = [
            F.col(c).asc() if (asc if first else not asc) else F.col(c).desc()
            for c, asc in spec
        ]
        rows = sdf.filter(any_valid).orderBy(*order).select(INDEX_COL).limit(1).collect()
        return rows[0][INDEX_COL] if rows else None


    @classmethod
    def from_dict(cls, data: Mapping, spark=None) -> "DataFrame":
        return cls(dict(data), spark=spark)

    @classmethod
    def from_records(cls, records, columns: "list[str] | None" = None, spark=None) -> "DataFrame":
        import pandas as pd

        return cls(pd.DataFrame.from_records(records, columns=columns), spark=spark)

    def iterrows(self):
        """Driver-side row iterator (pandas contract — inherently eager)."""
        return self.to_pandas().iterrows()

    def itertuples(self, index: bool = True, name: str = "Pandas"):
        return self.to_pandas().itertuples(index=index, name=name)

    def isetitem(self, loc: int, value) -> None:
        name = list(self._columns)[loc]
        self[name] = value

    def set_axis(self, labels, axis: int = 1) -> "DataFrame":
        """axis=1: rename columns positionally (zero-job). Row labels need
        an enumeration join — use reset_index + set_index instead."""
        if axis not in (1, "columns"):
            raise ValueError("set_axis: only axis=1 (columns) is supported here")
        if len(labels) != len(self._columns):
            raise ValueError("set_axis: length mismatch")
        return self.rename(columns=dict(zip(self._columns, labels)))

    def pivot(self, index: str, columns: str, values: str) -> "DataFrame":
        """Reshape without aggregation — pivot_table with 'first' (pandas
        pivot raises on duplicate (index, columns) pairs; document: here
        the first value in frame order wins)."""
        return self.pivot_table(index=index, columns=columns, values=values, aggfunc="first")

    def memory_usage(self, index: bool = True, deep: bool = False):
        return self.to_pandas().memory_usage(index=index, deep=deep)

    def info(self, *args, **kwargs):
        return self.to_pandas().info(*args, **kwargs)

    def to_dict(self, *args, **kwargs):
        return self.to_pandas().to_dict(*args, **kwargs)

    def to_numpy(self):
        return self.to_pandas().to_numpy()

    def to_records(self, *args, **kwargs):
        return self.to_pandas().to_records(*args, **kwargs)

    def to_string(self, *args, **kwargs) -> str:
        return self.to_pandas().to_string(*args, **kwargs)

    def to_markdown(self, *args, **kwargs) -> str:
        return self.to_pandas().to_markdown(*args, **kwargs)

    def to_html(self, *args, **kwargs) -> str:
        return self.to_pandas().to_html(*args, **kwargs)

    def to_csv(self, *args, **kwargs):
        """Driver-side pandas terminal; the DISTRIBUTED sink is
        sources/writers.py::write_csv."""
        return self.to_pandas().to_csv(*args, **kwargs)

    def to_json(self, *args, **kwargs):
        return self.to_pandas().to_json(*args, **kwargs)

    def to_parquet(self, path: str, **kwargs) -> None:
        """DISTRIBUTED parquet sink (writers.py) — never a driver
        round-trip."""
        from pontem_spark.sources.writers import write_parquet

        write_parquet(self.to_spark(), path, **kwargs)

    def to_orc(self, path: str, **kwargs) -> None:
        from pontem_spark.sources.writers import write_orc

        write_orc(self.to_spark(), path, **kwargs)

    def resample(self, rule: str):
        """Fixed-interval resample over a timestamp index: one
        map-side-combinable aggregate per bucket across every numeric
        column (observed buckets only — the grid is gap_fill's job)."""
        return _FrameResampler(self, rule)

    def asfreq(self, freq: str, method: str | None = None, fill_value=None) -> "DataFrame":
        """pandas asfreq over a timestamp index — every column taken at
        the EXACT grid timestamps (grid anchored at the first
        observation; see Series.asfreq for the grid/guard/fill shape).
        One bounds agg + grid explode + exact left join; ffill/bfill add
        one time-ordered window carrying a struct of ALL columns (one
        pass regardless of width)."""
        import re

        from pyspark.sql import Window
        from pyspark.sql.types import TimestampType

        from pontem_spark.core.series import _Resampler

        m = re.fullmatch(r"(\d*)\s*([a-zA-Z]+)", freq.strip())
        unit = m.group(2).lower() if m else None
        if not m or unit not in _Resampler._UNITS:
            raise ValueError(
                f"unsupported asfreq rule {freq!r}; fixed-width units only "
                f"({sorted(_Resampler._UNITS)})"
            )
        if method not in (None, "ffill", "pad", "bfill", "backfill"):
            raise ValueError(f"asfreq: unsupported method {method!r}")
        sec = int(m.group(1) or 1) * _Resampler._UNITS[unit]
        sdf = self._materialized()
        if not isinstance(sdf.schema[INDEX_COL].dataType, TimestampType):
            raise TypeError("asfreq requires a timestamp index")
        # MICROSECOND grid — see Series.asfreq: unix_timestamp's whole-
        # second truncation silently NaN'd every sub-second-anchored index
        step = sec * 1_000_000
        bounds = sdf.agg(
            F.unix_micros(F.min(F.col(INDEX_COL))).alias("__mn"),
            F.unix_micros(F.max(F.col(INDEX_COL))).alias("__mx"),
        )
        n = ((F.col("__mx") - F.col("__mn")) / F.lit(step)).cast("long") + 1
        seq = F.sequence(F.col("__mn"), F.col("__mx"), F.lit(step))
        guarded = F.when(
            n > _Resampler._MAX_GRID,
            F.raise_error(
                F.concat(
                    F.lit("asfreq: the grid has "),
                    n.cast("string"),
                    F.lit(
                        f" slots (time-range/freq) — past the "
                        f"{_Resampler._MAX_GRID} guard. Coarsen the rule."
                    ),
                )
            ),
        ).otherwise(seq)
        grid = bounds.select(F.explode(guarded).alias("__gus")).select(
            F.timestamp_micros(F.col("__gus")).alias("__g")
        )
        obs = F.struct(*[sdf[c].alias(c) for c in self._columns])
        data = sdf.select(F.col(INDEX_COL).alias("__g"), obs.alias("__obs"))
        if method is None:
            joined = grid.join(data, "__g", "left")
            cols = {}
            for c in self._columns:
                v = F.col("__obs").getField(c)
                if fill_value is not None:
                    v = F.when(F.col("__obs").isNotNull(), v).otherwise(
                        F.lit(fill_value)
                    )
                cols[c] = v
            out = joined.select(
                F.col("__g").alias(INDEX_COL),
                *[v.alias(c) for c, v in cols.items()],
            )
        else:
            forward = method in ("ffill", "pad")
            u = data.select("__g", "__obs", F.lit(1).alias("__src")).unionByName(
                grid.select(
                    "__g",
                    F.lit(None).cast(data.schema["__obs"].dataType).alias("__obs"),
                    F.lit(0).alias("__src"),
                )
            )
            if forward:
                w = Window.orderBy(
                    F.col("__g").asc(), F.col("__src").desc()
                ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
                picked = F.last(F.col("__obs"), ignorenulls=True).over(w)
            else:
                w = Window.orderBy(
                    F.col("__g").asc(), F.col("__src").asc()
                ).rowsBetween(Window.currentRow, Window.unboundedFollowing)
                picked = F.first(F.col("__obs"), ignorenulls=True).over(w)
            out = (
                u.withColumn("__pick", picked)
                .filter(F.col("__src") == 0)
                .select(
                    F.col("__g").alias(INDEX_COL),
                    *[
                        F.col("__pick").getField(c).alias(c)
                        for c in self._columns
                    ],
                )
            )
        # duplicate index timestamps fan out the grid join — pandas raises
        from pontem_spark.core.internal import guard_unique_labels

        out = guard_unique_labels(data, "__g", out, INDEX_COL)
        internal = InternalFrame(out, INDEX_COL, self._internal.index_name)
        return DataFrame._from_internal(internal, {c: out[c] for c in self._columns})

    def at_time(self, time_str: str) -> "DataFrame":
        from pontem_spark.core.series import Series as _S

        t = _S._normalize_time(time_str)
        return self._index_time_filter(
            F.date_format(F.col(INDEX_COL), "HH:mm:ss") == F.lit(t)
        )

    def between_time(self, start: str, end: str) -> "DataFrame":
        from pontem_spark.core.series import Series as _S

        t = F.date_format(F.col(INDEX_COL), "HH:mm:ss")
        lo, hi = _S._normalize_time(start), _S._normalize_time(end)
        cond = (
            (t >= F.lit(lo)) & (t <= F.lit(hi))
            if lo <= hi
            else (t >= F.lit(lo)) | (t <= F.lit(hi))
        )
        return self._index_time_filter(cond)

    def _index_time_filter(self, cond: Column) -> "DataFrame":
        sdf = self._materialized()
        m = sdf.filter(cond)
        internal = InternalFrame(
            m, INDEX_COL, self._internal.index_name, self._internal.order_spec
        )
        return DataFrame._from_internal(internal, {c: m[c] for c in self._columns})

    def divide(self, other): return self / other

    def transform(self, func) -> "DataFrame":
        """Elementwise shape-preserving transform: a callable routes
        through the shared-anchor Arrow map; a string names a numpy-style
        elementwise function applied as a native Column op."""
        if callable(func):
            return self.map(func)
        named = {
            "sqrt": F.sqrt, "exp": F.exp, "log": F.log, "abs": F.abs,
        }
        if func not in named:
            raise ValueError(f"transform: unsupported function name {func!r}")
        return DataFrame._from_internal(
            self._internal, {k: named[func](v) for k, v in self._columns.items()}
        )

    def infer_objects(self) -> "DataFrame":
        return self

    def convert_dtypes(self) -> "DataFrame":
        return self

    def asof(self, where):
        """Last row (as a pandas Series) whose index is <= ``where``, with
        at least one non-missing cell — ordered limit-1 job, the frame
        twin of Series.asof."""
        import functools as _ft

        sdf = self._materialized()
        schema = dict(sdf.dtypes)
        masks = []
        for c in self._columns:
            m = sdf[c].isNotNull()
            if schema.get(c) in ("double", "float"):
                m = m & ~F.isnan(sdf[c])
            masks.append(m)
        any_valid = _ft.reduce(lambda x, y: x | y, masks)
        pdf = (
            sdf.filter((F.col(INDEX_COL) <= F.lit(where)) & any_valid)
            .orderBy(F.col(INDEX_COL).desc())
            .select(*[sdf[c].alias(c) for c in self._columns])
            .limit(1)
            .toPandas()
        )
        import numpy as np
        import pandas as pd

        if len(pdf) == 0:
            return pd.Series({c: np.nan for c in self._columns}, name=where)
        row = pdf.iloc[0]
        row.name = where
        return row

    # -- elementwise arithmetic / comparisons ----------------------------
    #
    # Cell rules (dtype classes, missing-ness, bool/str/int64 rules) are
    # core/cells.py, shared with Series. The frame-level pandas 2.x rules,
    # measured (pandas 2.2.2 REPL, r14 probe):
    #   * the NAMED ops (add/sub/.../pow and eq/ne/lt/le/gt/ge) ALIGN both
    #     axes exactly like arithmetic — only the DUNDER comparisons
    #     require identically-labeled operands (both index and columns,
    #     order included), raising pandas' ValueError otherwise
    #   * one-sided columns become NaN, or the missing result under the
    #     aligning named comparisons
    #   * a Series operand with fill_value raises NotImplementedError
    #     ("fill_value X not supported.") on every axis

    _CMP_FRAME_MSG = (
        "Can only compare identically-labeled (both index and columns) "
        "DataFrame objects"
    )

    def _elementwise_scalar(
        self, opname: str, other, reflected: bool = False,
        fill_value=None, strict: bool = False,
    ) -> "DataFrame":
        """Frame ⊕ scalar per column — a pure projection on the same
        anchor (zero jobs). Frame and Series operands dispatch to the
        aligned forms. ``strict`` marks DUNDER comparisons."""
        import numpy as np

        if isinstance(other, np.generic):
            other = other.item()
        if isinstance(other, DataFrame):
            return self._elementwise_frame(
                opname, other, reflected, fill_value=fill_value, strict=strict
            )
        if isinstance(other, Series):
            if fill_value is not None:
                raise NotImplementedError(f"fill_value {fill_value} not supported.")
            return self._elementwise_series_columns(
                opname, other, reflected, strict=strict
            )
        rdt = scalar_dtype(other)
        schema = self._dtype_map()
        rcol = F.lit(other)
        out = {
            k: combine_cells(
                opname, v, rcol, schema.get(k), rdt,
                reflected=reflected, fill_value=fill_value, literal=True,
            )
            for k, v in self._columns.items()
        }
        return DataFrame._from_internal(self._internal, out)

    def _elementwise_frame(
        self, opname: str, other, reflected: bool, fill_value=None,
        strict: bool = False,
    ) -> "DataFrame":
        """Frame ⊕ frame — and frame ⊕ Series broadcast down the INDEX
        axis (``df.sub(s, axis=0)``), where the one series value column
        combines with EVERY frame column. pandas aligns BOTH axes:
        columns by name (sorted union when the sets differ) and rows by
        index.

        Plan shape: same-anchor operands compose column-wise — zero
        joins. Cross-anchor operands pair rows through
        ``internal.align_rows``, the aligner Series binops use.

        ``strict`` (dunder comparisons) raises pandas' identically-
        labeled ValueError — column labels eagerly here, row labels
        lazily in the aligner."""
        is_series = isinstance(other, Series)
        cols_l = dict(self._columns)
        if is_series:
            cols_r = dict.fromkeys(cols_l, other._col)
            union = list(cols_l)
        else:
            cols_r = dict(other._columns)
            if strict and list(cols_l) != list(cols_r):
                raise ValueError(self._CMP_FRAME_MSG)
            if set(cols_l) != set(cols_r):
                union = sorted({*cols_l, *cols_r}, key=str)
            else:
                union = list(cols_l)

        if other._internal is self._internal:
            # same anchor: pure projection, zero jobs
            internal, finish, sdf = self._internal, None, self._internal.sdf
            ldts = dict(zip(cols_l, dtypes(sdf, *cols_l.values())))
            rdts = dict(zip(cols_r, dtypes(sdf, *cols_r.values())))
        else:
            # cross-anchor: the row aligner shared with Series
            a = self._materialized()
            b = other._materialized("__frv__") if is_series else other._materialized()
            lname = {c: f"__flv{i}__" for i, c in enumerate(union) if c in cols_l}
            if is_series:
                rname, rvals = dict.fromkeys(union, "__frv__"), {"__frv__": "__frv__"}
            else:
                rname = {c: f"__frv{i}__" for i, c in enumerate(union) if c in cols_r}
                rvals = rname
            ldts = {c: a.schema[c].dataType.simpleString() for c in cols_l}
            rdts = {
                c: b.schema["__frv__" if is_series else c].dataType.simpleString()
                for c in rname
            }
            internal, finish = align_rows(
                self._internal, other._internal, a, b, lname, rvals,
                strict=self._CMP_FRAME_MSG if strict else None,
            )
            sdf = internal.sdf
            cols_l = {c: sdf[n] for c, n in lname.items()}
            cols_r = {c: sdf[n] for c, n in rname.items()}

        comparison = opname in COMPARISONS
        absent = F.lit(None).cast("double")
        out: dict[str, Column] = {}
        for c in union:
            lcol, rcol = cols_l.get(c), cols_r.get(c)
            present_dt = ldts.get(c) if lcol is not None else rdts.get(c)
            if (lcol is not None and rcol is not None) or (
                not comparison
                and (
                    fill_value is not None
                    # pow must combine with the absent side: pandas'
                    # 1 ** NaN == 1 and NaN ** 0 == 1 leak through
                    # one-sided columns (r14 fuzz seed 24)
                    or (opname == "pow" and dtype_class(present_dt) in ("num", "bool"))
                )
            ):
                col = combine_cells(
                    opname,
                    absent if lcol is None else lcol,
                    absent if rcol is None else rcol,
                    ldts.get(c), rdts.get(c), reflected=reflected,
                    fill_value=fill_value, int64=finish is None,
                )
            elif comparison:
                col = F.lit(opname == "ne")
            else:
                col = F.lit(None).cast("double")
            out[c] = col if finish is None else finish(col)
        return DataFrame._from_internal(internal, out)

    def _elementwise_series_columns(
        self, opname: str, s, reflected: bool, strict: bool = False,
    ) -> "DataFrame":
        """Frame ⊕ Series broadcast along axis='columns' (the pandas
        default): the series' labels align to the frame's COLUMN names —
        the metadata axis, driver-scale by semantics, so collecting the
        (typically #columns-sized) series is not a distributed-data pull.
        Labels on one side only become NaN columns (False/True under the
        aligning named comparisons); DUNDER comparisons require matching
        label sets and raise pandas' 'Operands are not aligned' (r14
        probe: the NAMED comparisons align — only dunders raise)."""
        import pandas as pd

        svals = s.to_pandas()
        if svals.index.has_duplicates:
            raise ValueError("cannot reindex on an axis with duplicate labels")
        mapping = dict(svals.items())
        cols_l = dict(self._columns)
        comparison = opname in COMPARISONS
        if set(cols_l) != set(mapping):
            if comparison and strict:
                raise ValueError(
                    "Operands are not aligned. Do `left, right = left.align("
                    "right, axis=1, copy=False)` before operating."
                )
            union = sorted({*cols_l, *mapping}, key=str)
        else:
            union = list(cols_l)
        schema = self._dtype_map()
        out: dict[str, Column] = {}
        for c in union:
            if c in cols_l and c in mapping and not pd.isna(mapping[c]):
                v = mapping[c]
                out[c] = combine_cells(
                    opname, cols_l[c], F.lit(v), schema.get(c), scalar_dtype(v),
                    reflected=reflected, literal=True,
                )
            elif comparison:
                out[c] = F.lit(opname == "ne")
            else:
                out[c] = F.lit(None).cast("double")
        return DataFrame._from_internal(self._internal, out)

    # -- operator surface -------------------------------------------------

    def __add__(self, o): return self._elementwise_scalar("add", o)
    def __radd__(self, o): return self._elementwise_scalar("add", o, reflected=True)
    def __sub__(self, o): return self._elementwise_scalar("sub", o)
    def __rsub__(self, o): return self._elementwise_scalar("sub", o, reflected=True)
    def __mul__(self, o): return self._elementwise_scalar("mul", o)
    def __rmul__(self, o): return self._elementwise_scalar("mul", o, reflected=True)
    def __truediv__(self, o): return self._elementwise_scalar("truediv", o)
    def __rtruediv__(self, o): return self._elementwise_scalar("truediv", o, reflected=True)
    def __floordiv__(self, o): return self._elementwise_scalar("floordiv", o)
    def __rfloordiv__(self, o): return self._elementwise_scalar("floordiv", o, reflected=True)
    def __mod__(self, o): return self._elementwise_scalar("mod", o)
    def __rmod__(self, o): return self._elementwise_scalar("mod", o, reflected=True)
    def __pow__(self, o): return self._elementwise_scalar("pow", o)
    def __rpow__(self, o): return self._elementwise_scalar("pow", o, reflected=True)
    # logical/bitwise — the (df > 0) & (df2 < 5) idiom; aligning, never
    # strict (pandas & with mismatched labels unions, it does not raise)
    def __and__(self, o): return self._elementwise_scalar("and_", o)
    def __rand__(self, o): return self._elementwise_scalar("and_", o, reflected=True)
    def __or__(self, o): return self._elementwise_scalar("or_", o)
    def __ror__(self, o): return self._elementwise_scalar("or_", o, reflected=True)
    def __xor__(self, o): return self._elementwise_scalar("xor", o)
    def __rxor__(self, o): return self._elementwise_scalar("xor", o, reflected=True)

    def _unary(self, kind: str) -> "DataFrame":
        """Elementwise ``neg``/``invert`` per column (cells.unary)."""
        schema = self._dtype_map()
        out = {k: unary(kind, v, schema.get(k)) for k, v in self._columns.items()}
        return DataFrame._from_internal(self._internal, out)

    def __neg__(self): return self._unary("neg")
    def __invert__(self): return self._unary("invert")
    def __pos__(self): return DataFrame._from_internal(self._internal, dict(self._columns))
    def __abs__(self): return self.abs()

    def _named_op(self, opname, other, fill_value=None, reflected=False,
                  axis="columns", level=None):
        """Shared core of the flexible named arithmetic methods — the
        full 7-op table with axis and fill_value (r14: previously a 4-op
        table without either)."""
        if level is not None:
            raise NotImplementedError("level is not supported")
        if axis not in (None, 0, 1, "index", "columns"):
            raise ValueError(f"No axis named {axis} for object type DataFrame")
        if isinstance(other, Series):
            if fill_value is not None:
                raise NotImplementedError(f"fill_value {fill_value} not supported.")
            if axis in (0, "index"):
                return self._elementwise_frame(opname, other, reflected)
        return self._elementwise_scalar(
            opname, other, reflected=reflected, fill_value=fill_value
        )

    def add(self, other, axis="columns", level=None, fill_value=None):
        return self._named_op("add", other, fill_value, axis=axis, level=level)
    def radd(self, other, axis="columns", level=None, fill_value=None):
        return self._named_op("add", other, fill_value, reflected=True, axis=axis, level=level)
    def sub(self, other, axis="columns", level=None, fill_value=None):
        return self._named_op("sub", other, fill_value, axis=axis, level=level)
    def rsub(self, other, axis="columns", level=None, fill_value=None):
        return self._named_op("sub", other, fill_value, reflected=True, axis=axis, level=level)
    def mul(self, other, axis="columns", level=None, fill_value=None):
        return self._named_op("mul", other, fill_value, axis=axis, level=level)
    def rmul(self, other, axis="columns", level=None, fill_value=None):
        return self._named_op("mul", other, fill_value, reflected=True, axis=axis, level=level)
    def div(self, other, axis="columns", level=None, fill_value=None):
        return self._named_op("truediv", other, fill_value, axis=axis, level=level)
    def rdiv(self, other, axis="columns", level=None, fill_value=None):
        return self._named_op("truediv", other, fill_value, reflected=True, axis=axis, level=level)
    def floordiv(self, other, axis="columns", level=None, fill_value=None):
        return self._named_op("floordiv", other, fill_value, axis=axis, level=level)
    def rfloordiv(self, other, axis="columns", level=None, fill_value=None):
        return self._named_op("floordiv", other, fill_value, reflected=True, axis=axis, level=level)
    def mod(self, other, axis="columns", level=None, fill_value=None):
        return self._named_op("mod", other, fill_value, axis=axis, level=level)
    def rmod(self, other, axis="columns", level=None, fill_value=None):
        return self._named_op("mod", other, fill_value, reflected=True, axis=axis, level=level)
    def pow(self, other, axis="columns", level=None, fill_value=None):
        return self._named_op("pow", other, fill_value, axis=axis, level=level)
    def rpow(self, other, axis="columns", level=None, fill_value=None):
        return self._named_op("pow", other, fill_value, reflected=True, axis=axis, level=level)
    truediv = div
    rtruediv = rdiv
    multiply = mul
    subtract = sub

    # dunder comparisons: STRICT — pandas requires identically-labeled
    # operands (both index and columns, order included)
    def __gt__(self, o): return self._elementwise_scalar("gt", o, strict=True)
    def __ge__(self, o): return self._elementwise_scalar("ge", o, strict=True)
    def __lt__(self, o): return self._elementwise_scalar("lt", o, strict=True)
    def __le__(self, o): return self._elementwise_scalar("le", o, strict=True)
    def __eq__(self, o): return self._elementwise_scalar("eq", o, strict=True)  # type: ignore[override]
    def __ne__(self, o): return self._elementwise_scalar("ne", o, strict=True)  # type: ignore[override]
    __hash__ = None  # pandas DataFrames are unhashable too

    # flexible named comparisons ALIGN both axes like arithmetic (r14
    # probe: only the dunders raise on label mismatch)
    def eq(self, other, axis="columns", level=None):
        return self._named_op("eq", other, axis=axis, level=level)
    def ne(self, other, axis="columns", level=None):
        return self._named_op("ne", other, axis=axis, level=level)
    def lt(self, other, axis="columns", level=None):
        return self._named_op("lt", other, axis=axis, level=level)
    def le(self, other, axis="columns", level=None):
        return self._named_op("le", other, axis=axis, level=level)
    def gt(self, other, axis="columns", level=None):
        return self._named_op("gt", other, axis=axis, level=level)
    def ge(self, other, axis="columns", level=None):
        return self._named_op("ge", other, axis=axis, level=level)

    # -- conditional replacement -----------------------------------------

    def _where_mask(self, cond: "DataFrame", other, invert: bool) -> "DataFrame":
        """Shared where/mask core. ``cond`` must be built from the SAME
        anchor (the common ``df.where(df > 0)`` idiom) — a foreign-anchor
        cond needs index alignment, which is a merge the caller should do
        explicitly; we raise rather than silently join."""
        if not isinstance(cond, DataFrame) or cond._internal is not self._internal:
            raise ValueError(
                "where/mask cond must be derived from the same frame "
                "(e.g. df.where(df > 0)); align foreign frames with merge first"
            )
        missing = set(self._columns) - set(cond._columns)
        if missing:
            raise ValueError(f"cond lacks columns {sorted(missing)}")
        if isinstance(other, DataFrame):
            # frame fallback (df.where(df > 0, -df)) — same-anchor like
            # cond; replaced cells take other's cell, columns other lacks
            # fall back to NaN (r14 probe)
            if other._internal is not self._internal:
                raise ValueError(
                    "where/mask other must be derived from the same frame; "
                    "align foreign frames with merge first"
                )
            fallback = {
                k: other._columns.get(k, F.lit(None)) for k in self._columns
            }
        else:
            fb = F.lit(other) if other is not None else F.lit(None)
            fallback = {k: fb for k in self._columns}
        out: dict[str, Column] = {}
        for k, v in self._columns.items():
            c = cond._columns[k].cast("boolean")
            keep = ~c if invert else c
            # pandas: missing cond counts as False (replaced in where)
            out[k] = F.when(keep.isNotNull() & keep, v).otherwise(fallback[k])
        return DataFrame._from_internal(self._internal, out)

    def where(self, cond: "DataFrame", other=None) -> "DataFrame":
        """Keep cells where cond holds, replace the rest (pandas NaN
        default). Pure projection — zero jobs, no shuffle."""
        return self._where_mask(cond, other, invert=False)

    def mask(self, cond: "DataFrame", other=None) -> "DataFrame":
        """Replace cells where cond holds (the inverse of where)."""
        return self._where_mask(cond, other, invert=True)

    # -- fills along the visible order ------------------------------------

    def ffill(self) -> "DataFrame":
        """Forward-fill every column along the visible order (one shared
        window sort for all columns, like shift). NaN cells count as
        missing (pandas), so they fill too."""
        return self._directional_fill(forward=True)

    def bfill(self) -> "DataFrame":
        return self._directional_fill(forward=False)

    def _directional_fill(self, forward: bool) -> "DataFrame":
        from pyspark.sql import Window

        # materialize FIRST: window exprs ordering on the index must see a
        # real column, not a lateral alias from the same projection
        # (UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS_IN_WINDOW, caught by
        # the where->ffill composition)
        sdf = self._materialized()
        base = Window.orderBy(*self._internal.order_columns(INDEX_COL))
        w = (
            base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            if forward
            else base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        schema = dict(sdf.dtypes)
        pick = F.last if forward else F.first
        out = {}
        for k in self._columns:
            v = sdf[k]
            if schema.get(k) in ("double", "float"):
                v = F.when(~F.isnan(v), v)
            out[k] = pick(v, ignorenulls=True).over(w)
        internal = InternalFrame(
            sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec
        )
        return DataFrame._from_internal(internal, out)

    pad = ffill
    backfill = bfill

    # -- misc pandas conveniences -----------------------------------------

    def sort_index(self, ascending: bool = True) -> "DataFrame":
        """Reorder the VISIBLE order back to the index — zero-job metadata
        (order_spec rewrite + one lazy projection), the inverse of
        sort_values. The sort key lives in a DEDICATED helper column
        (__si_ord__), not the index name: a later set_index re-points the
        index and a spec naming it would follow the NEW index (r10
        composition probe — the derived-rebind class, same fix as
        sort_values). _materialized() also normalizes merge/reindex
        anchors' __rowid__/__idx/__vidx__ index names (r10 probe crash)."""
        mat = self._materialized()
        names = {n for n, _ in (self._internal.order_spec or ())}
        si, sm = "__si_ord__", "__si_miss__"
        k = 2
        while si in names or sm in names:
            si, sm = f"__si_ord{k}__", f"__si_miss{k}__"
            k += 1
        # pandas sort_index puts missing labels LAST for both directions
        # (na_position='last'); Spark's ascending default is NULLS FIRST
        # (r12 probe: extract().set_index() floated the no-match rows to
        # the top), so a leading missing flag steers them
        miss = F.col(INDEX_COL).isNull()
        try:
            if mat.schema[INDEX_COL].dataType.simpleString() in ("double", "float"):
                miss = miss | F.isnan(F.col(INDEX_COL))
        except Exception:  # non-resolvable index dtype: null-only
            pass
        sdf = mat.withColumn(sm, miss).withColumn(si, F.col(INDEX_COL))
        # rows tied on the index keep their previous visible order: the
        # old spec rides along as the tie-break — its helper columns
        # survive _materialized() by design (r12 probe). Documented
        # deviation: pandas' default sort_index kind is QUICKSORT, whose
        # intra-duplicate order is a partitioning artifact, not a
        # contract; this engine is deterministically stable instead
        # (pandas' own kind='stable' order).
        prior = tuple(
            (n, asc)
            for n, asc in (self._internal.order_spec or ())
            if n in sdf.columns
        )
        internal = InternalFrame(
            sdf,
            INDEX_COL,
            self._internal.index_name,
            ((sm, True), (si, ascending)) + prior,
            row_tokens=self._internal.row_tokens,
        )
        return DataFrame._from_internal(internal, {c: sdf[c] for c in self._columns})

    def pipe(self, func, *args, **kwargs):
        return func(self, *args, **kwargs)

    def equals(self, other: "DataFrame") -> bool:
        """Exact equality: same columns, same index→row mapping, missing
        cells equal each other (pandas). One distributed anti-join-style
        comparison per call — no row collect."""
        if not isinstance(other, DataFrame) or list(self._columns) != list(other._columns):
            return False
        a = self.to_spark(index_col="__idx")
        b = other.to_spark(index_col="__idx")
        if len(a.columns) != len(b.columns):
            return False
        j = a.alias("a").join(b.alias("b"), "__idx", "full_outer")
        neq = [
            ~(F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")))
            for c in self._columns
        ]
        import functools as _ft

        bad = j.filter(_ft.reduce(lambda x, y: x | y, neq)).limit(1).count()
        return bad == 0 and a.count() == b.count()

    def take(self, positions: list) -> "DataFrame":
        """Positional row selection (iloc with a list)."""
        return self._positional_take(list(positions))

    def isin(self, values) -> "DataFrame":
        """Boolean mask per cell. ``values``: list (all columns) or dict
        {column: list} (unlisted columns all-False). Missing cells are
        False (pandas)."""
        schema = self._dtype_map()
        out: dict[str, Column] = {}
        for k, v in self._columns.items():
            vals = values.get(k, []) if isinstance(values, Mapping) else list(values)
            if not vals:
                out[k] = F.lit(False)
            else:
                out[k] = v.isin(vals) & ~missing(v, schema.get(k))
        return DataFrame._from_internal(self._internal, out)

    def replace(self, to_replace, value=None) -> "DataFrame":
        """Scalar or dict replacement per cell: ``{old: new}`` applies to
        all columns; the nested pandas form ``{col: {old: new}}`` applies
        per column (r8 probe: the nested dict crashed as a HashMap
        literal). Pure projection. NaN targets are not supported here —
        use fillna, which already handles pandas-missing."""
        if isinstance(to_replace, Mapping) and to_replace and all(
            isinstance(m, Mapping) for m in to_replace.values()
        ):
            unknown = [c for c in to_replace if c not in self._columns]
            if unknown:
                raise KeyError(unknown)
            out = self
            for col, m in to_replace.items():
                out = out._replace_in_columns(m, only=col)
            return out
        mapping = to_replace if isinstance(to_replace, Mapping) else {to_replace: value}
        return self._replace_in_columns(mapping)

    def _replace_in_columns(self, mapping: "Mapping", only: "str | None" = None) -> "DataFrame":
        schema = {
            f.name: f.dataType.simpleString().split("(")[0]
            for f in self._materialized().schema.fields
        }
        numeric = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}

        def applies(col_type: str | None, old) -> bool:
            # pandas replace skips type-mismatched columns; comparing an int
            # literal against a string column would ANSI-throw instead
            if isinstance(old, bool):
                return col_type == "boolean"
            if isinstance(old, (int, float)):
                return col_type in numeric
            if isinstance(old, str):
                return col_type == "string"
            return False

        out: dict[str, Column] = {}
        for k, v in self._columns.items():
            expr = v
            if only is None or k == only:
                for old, new in mapping.items():
                    if applies(schema.get(k), old):
                        expr = F.when(v == F.lit(old), F.lit(new)).otherwise(expr)
            out[k] = expr
        return DataFrame._from_internal(self._internal, out)

    def select_dtypes(self, include=None, exclude=None) -> "DataFrame":
        """Column subset by Spark simpleString dtype families: 'number',
        'integer', 'float', 'string', 'bool'."""
        fam = {
            "number": {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"},
            "integer": {"tinyint", "smallint", "int", "bigint"},
            "float": {"float", "double"},
            "string": {"string"},
            "bool": {"boolean"},
        }

        def expand(spec):
            if spec is None:
                return None
            names: set[str] = set()
            for s in [spec] if isinstance(spec, str) else list(spec):
                names |= fam.get(s, {s})
            return names

        inc, exc = expand(include), expand(exclude)
        schema = {
            f.name: f.dataType.simpleString().split("(")[0]
            for f in self._materialized().schema.fields
        }
        keep = [
            c
            for c in self._columns
            if (inc is None or schema.get(c) in inc)
            and (exc is None or schema.get(c) not in exc)
        ]
        return self[keep]

    def items(self):
        for c in self._columns:
            yield c, self[c]

    def keys(self):
        return list(self._columns)

    def join(self, other: "DataFrame", how: str = "left", lsuffix: str = "", rsuffix: str = "") -> "DataFrame":
        """Index-on-index join (the pandas df.join default) — a merge on
        the index columns."""
        left = self.reset_index()
        right = other.reset_index()
        overlap = set(self._columns) & set(other._columns)
        if overlap and not (lsuffix or rsuffix):
            raise ValueError(f"columns overlap: {sorted(overlap)}; pass lsuffix/rsuffix")
        lr = left.rename(columns={c: c + lsuffix for c in overlap}) if lsuffix else left
        rr = right.rename(columns={c: c + rsuffix for c in overlap}) if rsuffix else right
        on = [c for c in lr.columns if c in rr.columns and c not in self._columns]
        return lr.merge(rr, on=on, how=how)


class _FrameResampler:
    """Fixed-interval resampling of every numeric column."""

    def __init__(self, df: DataFrame, rule: str):
        from pontem_spark.core.series import _Resampler

        r = _Resampler.__new__(_Resampler)
        import re

        m = re.fullmatch(r"(\d*)\s*([a-zA-Z]+)", rule.strip())
        unit = m.group(2).lower() if m else None
        if not m or unit not in _Resampler._UNITS:
            raise ValueError(f"unsupported resample rule {rule!r}")
        self._df = df
        self._sec = int(m.group(1) or 1) * _Resampler._UNITS[unit]

    def _agg(self, fn) -> "DataFrame":
        df = self._df
        numeric = set(df._numeric_cols())
        cols = [c for c in df._columns if c in numeric]
        sdf = df._materialized()
        schema = dict(sdf.dtypes)
        epoch = F.unix_timestamp(F.col(INDEX_COL))
        bucket = F.timestamp_seconds(epoch - (epoch % F.lit(self._sec)))
        exprs = []
        for c in cols:
            v = sdf[c]
            if schema.get(c) in ("double", "float"):
                v = F.when(~F.isnan(v), v)
            exprs.append(fn(v).alias(c))
        out = sdf.select(bucket.alias("__b"), *[sdf[c] for c in cols]).groupBy(
            "__b"
        ).agg(*exprs)
        internal = InternalFrame(out, "__b", df._internal.index_name)
        return DataFrame._from_internal(internal, {c: out[c] for c in cols})

    def mean(self): return self._agg(F.mean)
    def sum(self): return self._agg(F.sum)
    def min(self): return self._agg(F.min)
    def max(self): return self._agg(F.max)
    def count(self): return self._agg(F.count)


class _FrameAtIndexer:
    """df.at[label, col] / df.iat[pos, colpos] — scalar cell access."""

    def __init__(self, df: DataFrame, positional: bool):
        self._df = df
        self._positional = positional

    def __getitem__(self, key):
        row, col = key
        if self._positional:
            series_row = self._df.iloc[row]
            return series_row.iloc[col] if isinstance(col, int) else series_row[col]
        return self._df.loc[row, col]


class _FrameLocIndexer:
    """``df.loc[rows]`` / ``df.loc[rows, cols]`` — LABEL-based selection.

    Row keys: boolean Series mask (the pushdown-friendly idiom), a single
    label (returns that row as a pandas Series, like iloc[int]), a label
    list (KeyError on absent labels, pandas parity — one membership-count
    job), or a label slice (INCLUSIVE both ends, pandas label-slicing).
    Results keep frame order (this engine's documented sort contract).
    Column keys: name / list of names."""

    def __init__(self, df: DataFrame):
        self._df = df

    def __getitem__(self, key):
        if isinstance(key, tuple):
            rows, cols = key
            base = self._df[cols] if isinstance(cols, list) else self._df[[cols]]
        else:
            rows, base = key, self._df
        if isinstance(rows, Series):
            out = base[rows]
        elif isinstance(rows, slice):
            if rows.step is not None:
                raise TypeError("label slices do not support a step")
            sdf = base._materialized()
            cond = F.lit(True)
            if rows.start is not None:
                cond = cond & (F.col(INDEX_COL) >= F.lit(rows.start))
            if rows.stop is not None:
                cond = cond & (F.col(INDEX_COL) <= F.lit(rows.stop))
            matched = sdf.filter(cond)
            internal = InternalFrame(
                matched, INDEX_COL, base._internal.index_name,
                base._internal.order_spec,
            )
            out = DataFrame._from_internal(
                internal, {c: matched[c] for c in base._columns}
            )
        elif isinstance(rows, list):
            sdf = base._materialized()
            matched = sdf.filter(F.col(INDEX_COL).isin(rows))
            found = {
                r[INDEX_COL]
                for r in matched.select(INDEX_COL).distinct().collect()
            }
            missing = [l for l in rows if l not in found]
            if missing:
                raise KeyError(missing)
            internal = InternalFrame(
                matched, INDEX_COL, base._internal.index_name,
                base._internal.order_spec,
            )
            out = DataFrame._from_internal(
                internal, {c: matched[c] for c in base._columns}
            )
        else:  # single label -> that row as a pandas Series
            msdf = base._materialized().filter(F.col(INDEX_COL) == F.lit(rows))
            pdf = msdf.select(*list(base._columns)).toPandas()
            if len(pdf) == 0:
                raise KeyError(rows)
            if len(pdf) > 1:  # duplicate labels: pandas returns a frame
                internal = InternalFrame(
                    msdf, INDEX_COL, base._internal.index_name,
                    base._internal.order_spec,
                )
                return DataFrame._from_internal(
                    internal, {c: msdf[c] for c in base._columns}
                )
            row = pdf.iloc[0]
            row.name = rows
            if isinstance(key, tuple) and not isinstance(key[1], list):
                return row.iloc[0]  # df.loc[label, col] -> scalar
            return row
        if isinstance(key, tuple) and not isinstance(key[1], list):
            return out[key[1]]
        return out


class _FrameILocIndexer:
    """``df.iloc[rows]`` / ``df.iloc[rows, cols]`` — positional over the
    frame's visible order (rows) and registration order (columns).

    Row keys: slice (incl. negative step), int (returns a pandas Series of
    that row, like pandas), integer list. Column keys: int / list / slice
    over column POSITIONS. ``df.iloc[:, 0]`` returns the Series at column
    position 0."""

    def __init__(self, df: DataFrame):
        self._df = df

    def _select_cols(self, df: "DataFrame", key):
        names = list(df._columns)
        if isinstance(key, slice):
            picked = names[key]
        elif isinstance(key, int):
            return df[names[key]]  # Series
        elif isinstance(key, (list, tuple)):
            picked = [names[int(k)] for k in key]
        else:
            raise TypeError(f"iloc column key: {type(key)}")
        return df[picked]

    def __getitem__(self, key):
        col_key = None
        if isinstance(key, tuple) and len(key) == 2:
            key, col_key = key
        if isinstance(key, bool):
            raise TypeError("iloc key: bool")
        if isinstance(key, slice):
            out = self._df._positional_slice(key)
        elif isinstance(key, int):
            k = key
            if k < 0:
                k += len(self._df)
                if k < 0:
                    raise IndexError(key)
            sliced = self._df._positional_slice(slice(k, k + 1))
            if col_key is not None:
                sliced = self._select_cols(sliced, col_key)
                if isinstance(sliced, Series):
                    rows = sliced._materialized().collect()
                    if not rows:
                        raise IndexError(key)
                    return rows[0][_VALUE]
            pdf = sliced.to_pandas()
            if len(pdf) == 0:
                raise IndexError(key)
            row = pdf.iloc[0]
            row.name = pdf.index[0]
            return row
        elif isinstance(key, (list, tuple)) or (
            hasattr(key, "__array__") and getattr(key, "ndim", 1) == 1
        ):
            out = self._df._positional_take(list(key))
        else:
            raise TypeError(f"iloc key: {type(key)}")
        if col_key is not None:
            out = self._select_cols(out, col_key)
        return out


def concat(frames: list, axis: int = 0) -> DataFrame:
    """pandas.concat: axis=0 == unionByName over materialized frames
    (Series inputs are lifted to 1-column frames first); axis=1 == an
    index-aligned outer join of the columns (each input contributes its
    columns; overlapping names raise)."""
    from pontem_spark.core.series import _VALUE, Series

    if not frames:
        raise ValueError("concat of empty list")

    # pandas: concat of ALL-Series inputs on axis=0 is a SERIES (r10
    # probe — the frame lift leaked out as a 1-column DataFrame). The
    # blocks stack under one shared column regardless of each input's
    # name; the result name is the shared name if unanimous, else None.
    all_series = axis == 0 and all(isinstance(x, Series) for x in frames)
    series_name = frames[0]._name if all_series else None
    if all_series and any(f._name != series_name for f in frames):
        series_name = None

    def lift(x):
        if isinstance(x, Series):
            name = "__cc__" if all_series else str(x._name if x._name is not None else 0)
            sdf = x._materialized()
            # carry the Series' order_spec: a sorted Series input keeps
            # its CURRENT row order through concat, same as frames (the
            # spec's helper columns survive _materialized as extras)
            return DataFrame._from_internal(
                InternalFrame(
                    sdf, INDEX_COL, x._internal.index_name,
                    x._internal.order_spec,
                ),
                {name: sdf[_VALUE]},
            )
        return x

    lifted = [lift(f) for f in frames]
    if axis == 1:
        names = [c for f in lifted for c in f._columns]
        if len(set(names)) != len(names):
            raise ValueError(f"concat axis=1: duplicate column names {names}")
        base = lifted[0].to_spark(index_col="__idx")
        for f in lifted[1:]:
            base = base.join(f.to_spark(index_col="__idx"), "__idx", "full_outer")
        internal = InternalFrame(base, "__idx", lifted[0]._internal.index_name)
        return DataFrame._from_internal(internal, {c: base[c] for c in names})
    # pandas concat outer-aligns COLUMNS (r8 probe): a column absent from
    # one input comes back missing there, not an analysis error. Column
    # order is pandas': first frame's columns, then new ones in order of
    # appearance. Row order is stacking order — frame position first, each
    # frame's own index within it (r8 probe: index-order materialization
    # interleaved the inputs' duplicate default indexes) — carried as a
    # lazy order spec on a source-position column, no sort until a
    # materialization point.
    cols: list[str] = []
    for f in lifted:
        for c in f._columns:
            if c not in cols:
                cols.append(c)
    # pandas preserves each input's CURRENT row order (e.g. a frame just
    # sorted by a value column), not its index order. Inputs carrying a
    # non-default order_spec get a per-block rank column: mono-id after an
    # explicit orderBy is globally order-consistent (range-partitioned
    # sort → partition index occupies the id's high bits) and distributed
    # — no single-partition window. Index-ordered inputs skip the sort
    # entirely (NULL __ord__ ties fall through to the INDEX_COL key).
    def _blk(i, f):
        spec = f._internal.order_spec
        p = f._materialized_user().withColumn("__src__", F.lit(i))
        if not spec or tuple(spec) == ((INDEX_COL, True),):
            return p
        ordered = f._materialized().orderBy(*f._internal.order_columns(INDEX_COL))
        return (
            ordered.withColumn("__ord__", F.monotonically_increasing_id())
            .select(INDEX_COL, *f._columns, "__ord__")
            .withColumn("__src__", F.lit(i))
        )

    pieces = [_blk(i, f) for i, f in enumerate(lifted)]
    any_ord = any("__ord__" in p.columns for p in pieces)
    sdf = pieces[0]
    for p in pieces[1:]:
        sdf = sdf.unionByName(p, allowMissingColumns=True)
    spec = (
        (("__src__", True), ("__ord__", True), (INDEX_COL, True))
        if any_ord
        else (("__src__", True), (INDEX_COL, True))
    )
    internal = InternalFrame(
        sdf,
        INDEX_COL,
        lifted[0]._internal.index_name,
        order_spec=spec,
    )
    if all_series:
        return Series._from_internal(internal, sdf["__cc__"], series_name)
    return DataFrame._from_internal(internal, {c: sdf[c] for c in cols})


def get_dummies(
    df: DataFrame,
    columns: "list[str] | str",
    prefix_sep: str = "_",
    dtype: str = "int",
    max_categories: "int | None" = None,
    dummy_na: bool = False,
) -> DataFrame:
    """pandas.get_dummies over the named columns: one indicator column per
    distinct value, named ``{col}{prefix_sep}{value}`` in sorted value
    order (pandas' layout); the source columns are replaced, other columns
    pass through. A missing cell gets 0 in every indicator; with
    ``dummy_na=True`` a trailing ``{col}{prefix_sep}nan`` indicator marks
    the missing cells, like pandas (r9).

    Scale shape: the distinct sets are DRIVER-side by necessity (they
    become the schema — a schema cannot be lazy), so one loudly-guarded
    distinct aggregate per column caps the collect at ``max_categories``;
    the indicators themselves are a pure map-side projection. One-hot at
    100 TB cardinality belongs in an array/embedding column, not 10^6
    schema fields — the guard message says so. Default cap is the shared
    MAX_DRIVER_CATEGORIES knob (core/limits.py)."""
    from pontem_spark.core.limits import MAX_DRIVER_CATEGORIES

    if max_categories is None:
        max_categories = MAX_DRIVER_CATEGORIES
    columns = [columns] if isinstance(columns, str) else list(columns)
    unknown = [c for c in columns if c not in df._columns]
    if unknown:
        raise KeyError(unknown)
    cols: dict[str, Column] = {}
    mat = df._materialized()
    for name in df._columns:
        if name not in columns:
            cols[name] = df._columns[name]
            continue
        distinct = (
            mat.select(F.col(name).alias("__v"))
            .where(F.col("__v").isNotNull())
            .distinct()
            .limit(max_categories + 1)
            .collect()
        )
        if len(distinct) > max_categories:
            raise ValueError(
                f"get_dummies: {name!r} has more than {max_categories} distinct "
                "values — one-hot would explode the schema; encode as an array "
                "or embedding column instead (or raise max_categories)"
            )
        for val in sorted(r["__v"] for r in distinct):
            # a NULL cell must read 0 in every indicator (pandas
            # dummy_na=False), not NULL — coalesce the tri-state equality
            cols[f"{name}{prefix_sep}{val}"] = F.coalesce(
                df._columns[name] == F.lit(val), F.lit(False)
            ).cast(dtype)
        if dummy_na:
            src = df._columns[name]
            miss = src.isNull()
            schema = dict(mat.dtypes)
            if schema.get(name) in ("double", "float"):
                miss = miss | F.isnan(src)
            cols[f"{name}{prefix_sep}nan"] = miss.cast(dtype)
    return DataFrame._from_internal(df._internal, cols)
