"""DataFrame: the multi-column frame the reference promised but never built
(``pontem/dataframe/__init__.py`` is an empty module — SURVEY §0, §2.G).

Same anchor-sharing design as Series: a DataFrame is (anchor Spark frame,
ordered {name: Column expression}). Column assignment ``df['c'] = df['a'] * 2``
(the reference README's pitch, ``README.md:16-19``) is pure expression
bookkeeping — zero jobs until an action.
"""

from __future__ import annotations

import functools
from typing import Any, Iterable, Mapping

from pyspark.sql import Column, DataFrame as SparkDataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType

from pontem_spark.core import reductions, window as win
from pontem_spark.core.cells import (
    COMPARISONS,
    NUMERIC_DTYPES,
    combine_cells,
    dtype_class,
    dtypes,
    missing,
    scalar_dtype,
    valid,
)
from pontem_spark.core.generic import Frame
from pontem_spark.core.internal import (
    INDEX_COL,
    InternalFrame,
    align_rows,
    next_epos_name,
    rowalign_keys,
    rowalign_left_join,
    upload,
)
from pontem_spark.core.series import _VALUE, Series

_ROWID = "__rowid__"


class DataFrame(Frame):
    """2-D labeled frame over a Spark anchor: a frame of many value columns."""

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
        self._internal, self._columns = upload(pdf, spark)

    @classmethod
    def _from_internal(cls, internal: InternalFrame, columns: dict[str, Column]) -> "DataFrame":
        df = cls.__new__(cls)
        df._internal = internal
        df._columns = dict(columns)
        return df

    # -- the Frame hooks and the column-key side of the indexers -------------

    def _values(self) -> "dict[str, Column]":
        return self._columns

    def _with(self, internal: InternalFrame, cols: "dict[str, Column]") -> "DataFrame":
        return DataFrame._from_internal(internal, cols)

    def _split_key(self, key):
        return key if isinstance(key, tuple) and len(key) == 2 else (key, None)

    def _iloc_columns(self, key):
        """Column keys of ``iloc``: int (→ that Series) / list / slice over
        column POSITIONS."""
        names = list(self._columns)
        if isinstance(key, slice):
            picked = names[key]
        elif isinstance(key, int):
            return self[names[key]]  # Series
        elif isinstance(key, (list, tuple)):
            picked = [names[int(k)] for k in key]
        else:
            raise TypeError(f"iloc column key: {type(key)}")
        return self[picked]

    def _row(self, key):
        """A one-row slice as a pandas Series (``iloc[int]``)."""
        pdf = self.to_pandas()
        if len(pdf) == 0:
            raise IndexError(key)
        row = pdf.iloc[0]
        row.name = pdf.index[0]
        return row

    def _label(self, label, one_col: bool = False):
        """``loc[label]``: that row as a pandas Series (its one cell for
        ``loc[label, col]``); a repeated label gives the frame of its rows,
        like pandas."""
        msdf = self._materialized().filter(F.col(INDEX_COL) == F.lit(label))
        pdf = msdf.select(*list(self._columns)).toPandas()
        if len(pdf) == 0:
            raise KeyError(label)
        if len(pdf) > 1:
            return self._rewrap(msdf)
        row = pdf.iloc[0]
        row.name = label
        return row.iloc[0] if one_col else row

    # -- metadata -----------------------------------------------------------

    @property
    def columns(self) -> list[str]:
        return list(self._columns)

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

    # -- materialization ------------------------------------------------------

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
            return self._masked(key)
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
            out = self._rewrap(sdf, row_tokens=self._internal.row_tokens)
            self._internal, self._columns = out._internal, {**out._columns, key: sdf["__new__"]}
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
        base = self._materialized()
        dt = dict(base.dtypes).get(values)
        # NaN is pandas-missing: count must not count it, sum/mean/min/max
        # must skip it (r8 probe: a NaN-only cell counted 1)
        valid_v = valid(base[values], dt)

        def agg(empty: bool = False) -> Column:
            # the core/reductions.py entry; ``empty`` adds pandas' result
            # over no values (sum 0), the margins' min_count=0 convention
            return reductions.column(
                aggfunc, base[values], dt, order=base[INDEX_COL], empty=empty
            )

        # margins over the COLUMNS path follow pandas' dropna rule (r9
        # grid probe): with dropna=True pandas computes margins from the
        # NaN-dropped data, so a group/column with ZERO valid rows
        # vanishes and reindexes to NaN; with dropna=False the group
        # exists and sum/count give 0 (min_count=0). sum: NULL-vs-0 via
        # coalesce; count: natively 0, nulled via when(e > 0) instead.
        def m_margin():
            e = agg()
            if aggfunc == "sum":
                return e if dropna else agg(True)
            if aggfunc == "count":
                return F.when(e > 0, e) if dropna else e
            return e

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
                    fb = base.filter(valid_v.isNotNull())
                    src = self._rewrap(fb, order_spec=None)
                return src.groupby(index).agg({values: aggfunc})
            if not base.filter(
                F.col(index).cast("string") == margins_name
            ).isEmpty():
                raise ValueError(
                    f"margins_name {margins_name!r} conflicts with an index "
                    "value"
                )
            per_base = (
                base.filter(valid_v.isNotNull()) if drop_rows else base
            )
            per_key = (
                per_base.filter(per_base[index].isNotNull())
                .groupBy(F.col(index).cast("string").alias(index))
                .agg(agg(True).alias(values))
            )
            total = base.select(agg(True).alias(values)).withColumn(
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
            agg().alias("__pva"),
            F.count(valid_v).alias("__pvc"),
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
                .agg(m_margin().alias(margins_name))
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
            # NaN) — hence agg(True) here, m_margin for the per-row/column ones
            margin_row = (
                col_pivoted.agg(m_margin())
                .withColumn(index, F.lit(margins_name))
                .crossJoin(base.select(agg(True).alias(margins_name)))
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
        """Lazy order spec (the Frame sort); ``ascending`` may be
        per-column. pandas accepts INDEX LEVEL names in ``by`` (r12 probe
        batch 3: set_index('u').sort_values('u') raised
        UNRESOLVED_COLUMN); a name matching BOTH a column and a level is
        the same ambiguity error as groupby."""
        by = [by] if isinstance(by, str) else list(by)
        asc = [ascending] * len(by) if isinstance(ascending, bool) else list(ascending)
        if len(asc) != len(by):
            raise ValueError("sort_values: ascending list must match by list")
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
        return self._sort_by(exprs, asc, na_position)

    def drop_duplicates(self, subset: list[str] | None = None, keep: "str | bool" = "first") -> "DataFrame":
        return self._drop_duplicates(subset or list(self._columns), keep)

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
        return self._dropna(subset or list(self._columns), how)

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
                        F.coalesce(valid(self._columns[k], schema.get(k)), F.lit(value[k]))
                        if k in value
                        else self._columns[k]
                    )
                    for k in self._columns
                },
            )
        def fillable(t: str) -> bool:
            if isinstance(value, bool):
                return t == "boolean"
            if isinstance(value, (int, float)):
                return t in NUMERIC_DTYPES or t.startswith("decimal")
            if isinstance(value, str):
                return t == "string"
            return True

        return DataFrame._from_internal(
            self._internal,
            {
                k: (
                    F.coalesce(valid(self._columns[k], schema.get(k)), F.lit(value))
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
            {k: valid(self._columns[k], schema.get(k)).isNull() for k in self._columns},
        )

    def notna(self) -> "DataFrame":
        schema = self._dtype_map()
        return DataFrame._from_internal(
            self._internal,
            {k: valid(self._columns[k], schema.get(k)).isNotNull() for k in self._columns},
        )

    isnull = isna
    notnull = notna

    def abs(self) -> "DataFrame":
        """pandas raises TypeError when any column is non-numeric; so do we
        (silently passing strings through would hide the error until an
        ANSI cast throw deep in a later job)."""
        self._require_numeric("abs")
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
            cols[c] = F.when(valid(self._columns[c], schema.get(c)).isNotNull(), clipped)
        return DataFrame._from_internal(self._internal, cols)

    def _require_numeric(self, op: str) -> None:
        numeric = set(self._numeric_cols())
        bad = [c for c in self._columns if c not in numeric]
        if bad:
            raise TypeError(f"{op}: non-numeric columns {bad}")

    def shift(self, periods: int = 1) -> "DataFrame":
        return self._visible(win.shift, periods)

    def agg(self, spec: Mapping[str, str | list[str]]):
        """{'col': ['sum','mean']} → pandas DataFrame of scalars, and
        {'col': 'sum'} (a str for every column) → a pandas Series by
        column, like pandas: core/reductions.py entries, ONE aggregation
        pass for all requested statistics."""
        import pandas as pd

        dts = self._dtype_map()
        labels = [
            (col, h) for col, how in spec.items()
            for h in ([how] if isinstance(how, str) else how)
        ]
        row = self._internal.sdf.select(
            *[reductions.column(h, self._columns[col], dts[col]) for col, h in labels]
        ).first()
        out: dict[str, dict[str, Any]] = {}
        for (col, h), val in zip(labels, row):
            out.setdefault(col, {})[h] = float("nan") if val is None else val
        if all(isinstance(how, str) for how in spec.values()):
            return pd.Series({col: out[col][how] for col, how in spec.items()})
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
        schema = self._dtype_map()
        common = "double" if all(schema[c] in NUMERIC_DTYPES for c in value_vars) else "string"
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
        return self._rewrap(sdf, order_spec=spec)

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

            def _cmp(a: tuple, b: tuple) -> int:
                # the frame's order over a mixed asc/desc key tuple
                for x, y, asc in zip(a, b, ascending):
                    if x != y:
                        return (-1 if x < y else 1) * (1 if asc else -1)
                return 0

            keys = sorted(
                [tuple(r) for r in sample_rows if None not in _flat(tuple(r))],
                key=functools.cmp_to_key(_cmp),
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
        return self._rewrap(sdf)

    def nlargest(self, n: int, columns: str | list[str], keep: str = "first") -> "DataFrame":
        return self._n_extreme(n, [columns] if isinstance(columns, str) else list(columns), True, keep)

    def nsmallest(self, n: int, columns: str | list[str], keep: str = "first") -> "DataFrame":
        return self._n_extreme(n, [columns] if isinstance(columns, str) else list(columns), False, keep)

    def duplicated(self, subset: list[str] | None = None, keep: "str | bool" = "first") -> Series:
        """Boolean Series marking duplicate rows (the Frame rule) on the
        anchor, so ``df[~df.duplicated()]`` is the plain dedup idiom."""
        part = [self._columns[k] for k in subset or list(self._columns)]
        flag = self._duplicate_flag(part, keep, "duplicated", self._internal.index_spark_col)
        return Series._from_internal(self._internal, flag, None)

    def _pairwise_matrix(self, pair_agg, diag_agg=None, diag_const: float = 1.0):
        """Shared scaffolding for corr/cov: numeric-column selection, ONE
        aggregation pass for all k·(k-1)/2 pair cells (plus per-column
        diagonal aggregates when ``diag_agg`` is given, else the constant
        ``diag_const``), symmetric pandas matrix out."""
        import pandas as pd

        schema = self._dtype_map()
        cols = [c for c in self._columns if schema[c] in NUMERIC_DTYPES]
        # NaN is pandas-missing: corr/covar skip NULL pairwise but
        # propagate NaN into the whole cell (r8 probe) — blank NaN to NULL
        v = {c: valid(self._columns[c], schema.get(c)) for c in cols}
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

    def _reduce(self, how: str, **kw):
        """Axis-0 reduction → pandas Series: the core/reductions.py entry
        over every eligible column (pandas numeric_only for the arithmetic
        ones), ONE select for all of them."""
        import pandas as pd

        dts = self._dtype_map()
        cols = [c for c in self._columns if reductions.eligible(how, dts[c])]
        if not cols:
            return pd.Series(dtype="float64")
        row = self._internal.sdf.select(
            *[reductions.column(how, self._columns[c], dts[c], **kw) for c in cols]
        ).first()
        return pd.Series(
            [float("nan") if v is None else v for v in row], index=cols
        )

    def _numeric_cols(self) -> list[str]:
        schema = self._dtype_map()
        return [
            c
            for c in self._columns
            if schema[c] in NUMERIC_DTYPES
        ]

    def _reduce_rowwise(self, how: str):
        """axis=1 reduction → a Series over the SAME anchor (one map-side
        expression per row — no shuffle, no job until materialized).
        pandas skipna semantics: nulls are ignored; an all-null row yields
        0 for sum (pandas min_count=0) and null for mean/min/max."""
        from functools import reduce as _reduce

        from pontem_spark.core.series import Series

        schema = self._dtype_map()
        cols = [valid(self._columns[c], schema.get(c)) for c in self._numeric_cols()]
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
        return self._reduce("sum")

    def mean(self, axis: int = 0):
        if axis in (1, "columns"):
            return self._reduce_rowwise("mean")
        return self._reduce("mean")

    def min(self, axis: int = 0):
        if axis in (1, "columns"):
            return self._reduce_rowwise("min")
        return self._reduce("min")

    def max(self, axis: int = 0):
        if axis in (1, "columns"):
            return self._reduce_rowwise("max")
        return self._reduce("max")

    def quantile(self, q: "float | list" = 0.5):
        """Exact linear percentile per numeric column → pandas Series
        (scalar q) or pandas DataFrame indexed by q (list q), ONE
        aggregation pass either way."""
        import pandas as pd

        if isinstance(q, (int, float)):
            return self._reduce("quantile", q=q).astype("float64")
        qs = [float(x) for x in q]
        out = self._reduce("quantile", q=qs)
        return pd.DataFrame(
            {
                c: [float("nan") if x is None else float(x) for x in v]
                if isinstance(v, list) else [float("nan")] * len(qs)
                for c, v in out.items()
            },
            index=qs,
            dtype="float64",
        )

    def idxmax(self):
        return self._extreme_labels(descending=True)

    def idxmin(self):
        return self._extreme_labels(descending=False)

    def _extreme_labels(self, descending: bool):
        """The core/window.py idx-extreme rule over every numeric column
        in one action; pandas raises on an all-missing column."""
        import pandas as pd

        cols = {c: self._columns[c] for c in self._numeric_cols()}
        found = {}
        if cols:
            row = win.idx_extreme(win.Visible(self._internal, cols), descending).first()
            found = {c: row[c] for c in cols}
        bad = [c for c, v in found.items() if v is None]
        if bad:
            raise ValueError(f"attempt to get arg-extreme of all-missing columns {bad}")
        return pd.Series({c: v.label for c, v in found.items()})

    def describe(self):
        """pandas describe (core/reductions.py) of every numeric column —
        ONE aggregation pass total (pandas layout)."""
        import pandas as pd

        dts = self._dtype_map()
        cols = [c for c in self._columns if reductions.eligible("describe", dts[c])]
        exprs = [e for c in cols for _, e in reductions.describe(self._columns[c], dts[c])]
        row = self._internal.sdf.select(*exprs).first() if exprs else []
        k = len(reductions.DESCRIBE)
        return pd.DataFrame(
            {c: list(row[i * k:(i + 1) * k]) for i, c in enumerate(cols)},
            index=list(reductions.DESCRIBE),
        )

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
        kinds = {schema[c] for c in self._columns}
        if kinds <= set(NUMERIC_DTYPES):
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
                    valid(self._columns[c], schema.get(c)).cast(cast).alias("__v__"),
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
            return self._reduce(func)
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

    def combine_first(self, other: "DataFrame") -> "DataFrame":
        """Patch missing cells from ``other``, aligned on the index (the
        pandas CDC idiom) — one full-outer join on the index, per-column
        coalesce with pandas-missing semantics (NaN counts as missing)."""
        a = self.to_spark(index_col="__idx")
        b = other.to_spark(index_col="__idx")
        sa = {f.name: f.dataType.simpleString() for f in a.schema.fields}
        sb = {f.name: f.dataType.simpleString() for f in b.schema.fields}

        j = a.alias("a").join(b.alias("b"), "__idx", "full_outer")
        cols: dict[str, Column] = {}
        for c in list(self._columns) + [c for c in other._columns if c not in self._columns]:
            left = valid(F.col(f"a.{c}"), sa.get(c)) if c in self._columns else F.lit(None)
            right = valid(F.col(f"b.{c}"), sb.get(c)) if c in other._columns else F.lit(None)
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

    # -- final parity batch -------------------------------------------------

    @property
    def ndim(self) -> int:
        return 2

    @property
    def size(self) -> int:
        return len(self) * len(self._columns)

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
        neq = [~j[c].eqNullSafe(j[f"__r_{c}"]) for c in self._columns]
        diff = j.filter(functools.reduce(lambda x, y: x | y, neq))
        internal = InternalFrame(diff, "__idx", self._internal.index_name)
        cols: dict[str, Column] = {}
        for c in self._columns:
            same = diff[c].eqNullSafe(diff[f"__r_{c}"])
            cols[f"{c}_self"] = F.when(~same, diff[c])
            cols[f"{c}_other"] = F.when(~same, diff[f"__r_{c}"])
        return DataFrame._from_internal(internal, cols)

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

    def to_records(self, *args, **kwargs):
        return self.to_pandas().to_records(*args, **kwargs)

    def to_html(self, *args, **kwargs) -> str:
        return self.to_pandas().to_html(*args, **kwargs)

    def to_parquet(self, path: str, **kwargs) -> None:
        """DISTRIBUTED parquet sink (writers.py) — never a driver
        round-trip."""
        from pontem_spark.sources.writers import write_parquet

        write_parquet(self.to_spark(), path, **kwargs)

    def to_orc(self, path: str, **kwargs) -> None:
        from pontem_spark.sources.writers import write_orc

        write_orc(self.to_spark(), path, **kwargs)

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

    def asof(self, where):
        """Last row (as a pandas Series) whose index is <= ``where``, with
        at least one non-missing cell — ordered limit-1 job, the frame
        twin of Series.asof."""
        sdf = self._materialized()
        any_valid = self._any_valid(sdf)
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

    def _binop(
        self, other, opname: str, reflected: bool = False,
        strict: bool = False, fill_value=None,
    ) -> "DataFrame":
        """The one DataFrame ⊕ other dispatch (the Frame dunders land
        here): a scalar is a pure projection per column on the same anchor
        (zero jobs); frame and Series operands go to the aligned forms.
        ``strict`` marks DUNDER comparisons."""
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
        return self._binop(other, opname, reflected=reflected, fill_value=fill_value)

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

    # -- misc pandas conveniences -----------------------------------------

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
        bad = j.filter(functools.reduce(lambda x, y: x | y, neq)).limit(1).count()
        return bad == 0 and a.count() == b.count()

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
