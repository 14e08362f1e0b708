"""Frame: the one base of Series and DataFrame — each row-level rule once.

A Series is a frame of ONE value column plus its name; a DataFrame is a
frame of many. Every body here is written over the dict of value columns
that two hooks give (the layout of pandas-on-Spark's ``Frame`` base,
``pyspark/pandas/generic.py``):

- ``_values()`` → ``{name: Column}``: ``{__value__: col}`` for a Series,
  the column dict for a DataFrame;
- ``_with(internal, cols)`` → the same class over ``internal`` with
  those columns (a Series keeps its name).

:meth:`Frame._rewrap` re-anchors on a materialization through them. On
top sit positional rows (head/tail/take and ``iloc``), label rows
(``loc``/``at``), filters (boolean masks, truncate, at_time/
between_time, dropna), order (sort_index, sort_values, nlargest/
nsmallest, the first/last valid label), duplicates, sample, the pandas
export, the operator dunders and the window wrappers. A subclass adds
only what pandas gives it alone: column keys for a DataFrame, the name
and the scalar cell for a Series.
"""

from __future__ import annotations

import operator
from collections import defaultdict
from functools import reduce

from pyspark.sql import Column, Window, functions as F

from pontem_spark.core import window as win
from pontem_spark.core.cells import dtypes, missing, unary
from pontem_spark.core.internal import INDEX_COL, InternalFrame

_KEEP = object()  # _rewrap: keep the current order spec


class _Indexer:
    """``obj.iloc[key]``-style access: subscripting calls ``get(key)``."""

    __slots__ = ("_get",)

    def __init__(self, get):
        self._get = get

    def __getitem__(self, key):
        return self._get(key)


class Frame:
    """Base of :class:`Series` and :class:`DataFrame` over one anchor."""

    _internal: InternalFrame

    # -- the two hooks and the rewrap built on them --------------------------

    def _values(self) -> "dict[str, Column]":
        raise NotImplementedError

    def _with(self, internal: InternalFrame, cols: "dict[str, Column]"):
        raise NotImplementedError

    def _rewrap(self, sdf, order_spec=_KEEP, row_tokens=None):
        """This frame re-anchored on ``sdf``, a materialization of it (index
        as INDEX_COL, value columns under their names). The index name
        stays, and so does the order spec unless one is given; the rows
        get a fresh identity unless ``row_tokens`` carries the source's."""
        spec = self._internal.order_spec if order_spec is _KEEP else order_spec
        internal = InternalFrame(
            sdf, INDEX_COL, self._internal.index_name, spec, row_tokens=row_tokens
        )
        return self._with(internal, {k: sdf[k] for k in self._values()})

    def _materialized(self, value_alias: "str | None" = None):
        """The anchor projected to INDEX_COL, the value columns and the
        order-spec helpers; ``value_alias`` renames a Series' one value
        column."""
        cols = self._values()
        if value_alias is not None:
            (col,) = cols.values()
            cols = {value_alias: col}
        return self._internal.materialize(cols)

    def _ordered(self, sdf):
        return sdf.orderBy(*self._internal.order_columns(INDEX_COL))

    def _dtype_map(self) -> "dict[str, str | None]":
        """Spark dtype name per value column (one ``cells.dtypes`` analysis)."""
        vals = self._values()
        return dict(zip(vals, dtypes(self._internal.sdf, *vals.values())))

    def _any_valid(self, sdf) -> Column:
        """TRUE on the rows of ``sdf`` (a materialization) holding a
        non-missing value in any value column."""
        names = list(self._values())
        dts = dtypes(sdf, *[sdf[k] for k in names])
        return reduce(operator.or_, [~missing(sdf[k], dt) for k, dt in zip(names, dts)])

    # -- metadata and export ---------------------------------------------------

    @property
    def index(self):
        from pontem_spark.core.indexes import Index

        return Index(self)

    @property
    def empty(self) -> bool:
        return self._internal.sdf.limit(1).count() == 0

    def _pandas(self, pdf):
        """The pandas object of this class from the exported frame."""
        return pdf

    def to_pandas(self):
        import pandas as pd

        pdf = self._ordered(self._materialized()).toPandas()
        pdf = pdf[[INDEX_COL, *self._values()]]  # drop order-spec helpers
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
            return self._pandas(pdf.drop(columns=[INDEX_COL]).set_index(idx))
        if len(pdf) and isinstance(pdf[INDEX_COL].iloc[0], dict):
            # a FLAT index of python tuples uploads as a struct column;
            # convert the Arrow dicts back to tuples (r14 probe C9)
            pdf[INDEX_COL] = [tuple(r.values()) for r in pdf[INDEX_COL]]
        out = pdf.set_index(INDEX_COL)
        out.index.name = name
        return self._pandas(out)

    @property
    def values(self):
        """Eager numpy materialization (pandas contract: an ndarray is
        driver-sized by definition)."""
        return self.to_pandas().values

    def to_numpy(self):
        return self.to_pandas().to_numpy()

    def to_dict(self, *args, **kwargs):
        return self.to_pandas().to_dict(*args, **kwargs)

    def to_string(self, *args, **kwargs) -> str:
        return self.to_pandas().to_string(*args, **kwargs)

    def to_markdown(self, *args, **kwargs) -> str:
        return self.to_pandas().to_markdown(*args, **kwargs)

    def to_csv(self, *args, **kwargs):
        """Driver-side pandas terminal; the DISTRIBUTED sink is
        sources/writers.py::write_csv."""
        return self.to_pandas().to_csv(*args, **kwargs)

    def to_json(self, *args, **kwargs):
        return self.to_pandas().to_json(*args, **kwargs)

    def copy(self, deep: bool = True):
        """New wrapper over the same immutable anchor — frames here are
        never mutated in place, so deep and shallow coincide."""
        return self._with(self._internal, dict(self._values()))

    def pipe(self, func, *args, **kwargs):
        return func(self, *args, **kwargs)

    def infer_objects(self):
        return self

    def convert_dtypes(self):
        return self

    def rename_axis(self, name):
        """Rename the index (zero-job metadata)."""
        internal = InternalFrame(
            self._internal.sdf,
            self._internal.index_spark_col,
            name,
            self._internal.order_spec,
        )
        return self._with(internal, dict(self._values()))

    # -- positional rows --------------------------------------------------------

    def _positional_slice(self, key: slice):
        """Positional slice via row_number over the VISIBLE order
        (``order_spec``), so chained positional ops compose:
        ``s[::-1][:3]`` numbers rows descending and returns the last three,
        and ``s[::-1][::-1]`` restores ascending order. The global
        (unpartitioned) window is on-demand only — pandas-positional
        semantics need a total order (SURVEY §7 'hard parts').

        Negative start/stop resolve against the length (one count).
        Negative steps select the same positions as pandas and record a
        DESCENDING ``order_spec``, so materialization shows the reversed
        order without the engine ever storing a reversed table."""
        step = 1 if key.step is None else key.step
        if step == 0:
            raise ValueError("slice step cannot be zero")
        if step < 0 or (key.start or 0) < 0 or (key.stop is not None and key.stop < 0):
            start, stop, step = key.indices(len(self))
        else:
            start, stop = key.start or 0, key.stop
        w = Window.orderBy(*self._internal.order_columns(INDEX_COL))
        sdf = self._materialized().withColumn("__rn__", F.row_number().over(w) - 1)
        rn = F.col("__rn__")
        spec = self._internal.order_spec
        if step < 0:
            # positions start, start+step, ... (exclusive of stop)
            cond = (rn <= start) & (rn > stop) & ((F.lit(start) - rn) % F.lit(-step) == 0)
            spec = tuple((c, not asc) for c, asc in (spec or ((INDEX_COL, True),)))
            # double reverse lands back on plain index order — drop the spec
            # so downstream ops take the no-metadata fast paths
            if spec == ((INDEX_COL, True),):
                spec = None
        else:
            cond = rn >= start
            if stop is not None:
                cond = cond & (rn < stop)
            if step != 1:
                cond = cond & ((rn - F.lit(start)) % F.lit(step) == 0)
        return self._rewrap(sdf.filter(cond).drop("__rn__"), order_spec=spec)

    def _positional_take(self, positions: list):
        """Rows at the given VISIBLE-order positions, IN REQUEST ORDER,
        duplicates included — full pandas take semantics (r10 probe). Each
        matched row explodes a literal array of its request-ranks (one CASE
        branch per distinct position — the list is driver-sized by
        construction) into ``__take_ord__``, which drives the order spec.
        One global row_number window (on-demand only)."""
        keys = [int(k) for k in positions]
        if any(k < 0 for k in keys):
            n = len(self)
            keys = [k + n if k < 0 else k for k in keys]
            if any(k < 0 for k in keys):
                raise IndexError(f"position out of bounds for length {n}")
        ranks: "dict[int, list[int]]" = defaultdict(list)
        for i, k in enumerate(keys):
            ranks[k].append(i)
        w = Window.orderBy(*self._internal.order_columns(INDEX_COL))
        mat = self._materialized().withColumn("__rn__", F.row_number().over(w) - 1)
        chain = None
        for k, rs in ranks.items():
            cond = F.col("__rn__") == k
            chain = F.when(cond, F.lit(rs)) if chain is None else chain.when(cond, F.lit(rs))
        if chain is None:  # empty positions list
            sdf = mat.filter(F.lit(False)).withColumn("__take_ord__", F.lit(0))
        else:
            sdf = mat.filter(F.col("__rn__").isin(list(ranks))).withColumn(
                "__take_ord__", F.explode(chain)
            )
        return self._rewrap(sdf.drop("__rn__"), order_spec=(("__take_ord__", True),))

    def head(self, n: int = 5):
        return self._rewrap(self._ordered(self._materialized()).limit(n))

    def tail(self, n: int = 5):
        """Last n rows in visible order — the iloc[-n:] positional path."""
        return self.iloc[-n:] if n > 0 else self.iloc[len(self):]

    def take(self, positions: list):
        return self._positional_take(list(positions))

    # -- indexers: one row path; a DataFrame adds its column keys ---------------

    @property
    def iloc(self):
        return _Indexer(self._iloc)

    @property
    def iat(self):
        return _Indexer(self._iloc)

    @property
    def loc(self):
        return _Indexer(self._loc)

    @property
    def at(self):
        return _Indexer(self._loc)

    def _split_key(self, key):
        """``(row key, column key or None)``; only a DataFrame has columns."""
        return key, None

    def _iloc(self, key):
        """Row keys: slice (incl. negative step), int (that row's cell or
        row), integer list (take)."""
        rows, cols = self._split_key(key)
        if isinstance(rows, bool):
            raise TypeError("iloc key: bool")
        if isinstance(rows, int):
            k = rows + len(self) if rows < 0 else rows
            if k < 0:
                raise IndexError(rows)
            one = self._positional_slice(slice(k, k + 1))
            if cols is not None:
                one = one._iloc_columns(cols)
            return one._row(rows)
        if isinstance(rows, slice):
            out = self._positional_slice(rows)
        elif isinstance(rows, (list, tuple)) or (
            hasattr(rows, "__array__") and getattr(rows, "ndim", 1) == 1
        ):
            out = self._positional_take(list(rows))
        else:
            raise TypeError(f"iloc key: {type(rows)}")
        return out if cols is None else out._iloc_columns(cols)

    def _loc(self, key):
        """Row keys: a boolean Series mask, a label slice (INCLUSIVE both
        ends), a label list (KeyError on absent labels, like pandas — one
        membership job) or a single label. Results keep the visible
        order."""
        from pontem_spark.core.series import Series

        rows, cols = self._split_key(key)
        one_col = cols is not None and not isinstance(cols, list)
        base = self if cols is None else self[[cols] if one_col else cols]
        if isinstance(rows, Series):
            out = base._masked(rows)
        elif isinstance(rows, slice):
            if rows.step is not None:
                raise TypeError("label slices do not support a step")
            out = base.truncate(rows.start, rows.stop)
        elif isinstance(rows, list):
            out = base._filter(F.col(INDEX_COL).isin(rows))
            found = {
                r[INDEX_COL]
                for r in out._materialized().select(INDEX_COL).distinct().collect()
            }
            absent = [label for label in rows if label not in found]
            if absent:
                raise KeyError(absent)
        else:
            return base._label(rows, one_col)
        return out[cols] if one_col else out

    # -- filters ------------------------------------------------------------

    def _filter(self, cond: Column, sdf=None):
        """The rows of this frame — or of ``sdf``, a materialization of
        it — where ``cond`` holds, in the same visible order. The result
        gets a fresh row identity: a filter is not 1 row in, 1 row out, so
        it pairs with its source by label like pandas (``s[s > 1] + s``
        under a repeated label is pandas' per-label cartesian, which a
        join on the source's helper columns would cut to matched rows)."""
        sdf = self._materialized() if sdf is None else sdf
        return self._rewrap(sdf.filter(cond))

    def _masked(self, key):
        """Rows where the boolean Series ``key`` holds. A same-anchor mask
        is projected WITH the values before the filter, so a window-derived
        value (``s.cumsum()[mask]``) keeps its PRE-filter value (r10
        composition probe); Catalyst substitutes the mask alias, so plain
        predicates still push to the scan. A foreign mask joins on the
        index."""
        if key._internal.sdf is self._internal.sdf:
            vals = self._values()
            extras = [
                n
                for n, _ in (self._internal.order_spec or ())
                if n != INDEX_COL and n not in vals and n in self._internal.sdf.columns
            ]
            sdf = self._internal.sdf.select(
                self._internal.index_col.alias(INDEX_COL),
                *[c.alias(k) for k, c in vals.items()],
                *dict.fromkeys(extras),
                key._col.alias("__mask__"),
            )
            return self._filter(F.col("__mask__"), sdf)
        mask = key._materialized("__m__").select(INDEX_COL, "__m__")
        return self._filter(F.col("__m__"), self._materialized().join(mask, INDEX_COL, "inner"))

    def truncate(self, before=None, after=None):
        """Rows with index label in [before, after] — a pushdown-friendly
        range filter on the index (pandas requires a sorted index for the
        same reason)."""
        cond = F.lit(True)
        if before is not None:
            cond = cond & (F.col(INDEX_COL) >= F.lit(before))
        if after is not None:
            cond = cond & (F.col(INDEX_COL) <= F.lit(after))
        return self._filter(cond)

    @staticmethod
    def _normalize_time(t: str) -> str:
        parts = t.split(":")
        while len(parts) < 3:
            parts.append("00")
        return ":".join(p.zfill(2) for p in parts)

    def at_time(self, time_str: str):
        """Rows whose TIMESTAMP index is exactly this time of day."""
        return self._filter(
            F.date_format(F.col(INDEX_COL), "HH:mm:ss")
            == F.lit(self._normalize_time(time_str))
        )

    def between_time(self, start: str, end: str):
        """Rows whose time of day falls in [start, end] inclusive (pandas
        default inclusive='both'); a wrapping range (start > end) selects
        the complement band like pandas."""
        t = F.date_format(F.col(INDEX_COL), "HH:mm:ss")
        lo, hi = self._normalize_time(start), self._normalize_time(end)
        cond = (
            (t >= F.lit(lo)) & (t <= F.lit(hi))
            if lo <= hi
            else (t >= F.lit(lo)) | (t <= F.lit(hi))
        )
        return self._filter(cond)

    def _dropna(self, keys: "list[str]", how: str = "any"):
        """Drop rows missing (NULL or float NaN — Spark's own dropna is
        NULL-only) in any ('any') or every ('all') of the ``keys`` value
        columns. The mask reads the MATERIALIZED columns: a window column
        (a grouped cumsum assigned back) inside WHERE is illegal in Spark
        (r10 probe)."""
        if how not in ("any", "all"):
            raise ValueError(f"dropna: how must be 'any' or 'all', got {how!r}")
        mat = self._materialized()
        miss = [missing(mat[k], dt) for k, dt in zip(keys, dtypes(mat, *[mat[k] for k in keys]))]
        return self._filter(~reduce(operator.or_ if how == "any" else operator.and_, miss), mat)

    # -- order ---------------------------------------------------------------

    def _sort_helpers(self, sdf, exprs: "dict[str, Column]"):
        """Per sort key, a missing flag ``__miss_{c}__`` and the key itself
        ``__sv_{c}__`` as DEDICATED helper columns of ``sdf``: the spec must
        not name a rebindable value column (a derived ``sorted > 0`` or
        ``df['a'] = df['a'] > 0`` would re-sort by the derived values — r10
        probe). Names are minted PAST those the prior spec uses, so a
        re-sort cannot overwrite the old sort values it tie-breaks on.
        Returns ``(sdf, [(miss_name, value_name), ...])``."""
        taken = {n for n, _ in (self._internal.order_spec or ())}

        def mint(base: str) -> str:
            if base not in taken:
                return base
            k = 2
            while f"{base[:-2]}{k}__" in taken:
                k += 1
            return f"{base[:-2]}{k}__"

        names = []
        for c, e in exprs.items():
            try:
                dt = sdf.select(e).schema[0].dataType.simpleString()
            except Exception:
                dt = None
            m, v = mint(f"__miss_{c}__"), mint(f"__sv_{c}__")
            sdf = sdf.withColumn(m, missing(e, dt)).withColumn(v, e)
            names.append((m, v))
        return sdf, names

    def _tie_spec(self, sdf, reverse: bool = False) -> "list[tuple[str, bool]]":
        """The visible order as the tie-break of a sort (pandas' stable
        position), the index last — reversed for pandas' keep='last'."""
        spec = [(n, a) for n, a in (self._internal.order_spec or ()) if n in sdf.columns]
        if INDEX_COL not in {n for n, _ in spec}:
            spec.append((INDEX_COL, True))
        return [(n, a != reverse) for n, a in spec]

    def _sort_by(self, exprs: "dict[str, Column]", ascending: "list[bool]", na_position: str):
        """Lazy sort: only the order SPEC changes; the sort runs at
        materialization. pandas keeps missing cells at the chosen END in
        both directions (Spark orders NaN as the LARGEST value, which puts
        NaN first on a descending sort), so each key's missing flag leads
        it. Rows tied on every key keep their previous VISIBLE order
        (pandas kind='stable'), the index last (r13 probe)."""
        if na_position not in ("last", "first"):
            raise ValueError(f"sort_values: na_position must be 'first' or 'last', got {na_position!r}")
        sdf, names = self._sort_helpers(self._materialized(), exprs)
        spec = []
        for (m, v), a in zip(names, ascending):
            # ascending=True sorts False(valid) before True(missing) → "last"
            spec += [(m, na_position == "last"), (v, a)]
        seen = {n for n, _ in spec}
        spec += [(n, a) for n, a in self._tie_spec(sdf) if n not in seen]
        return self._rewrap(sdf, order_spec=tuple(spec), row_tokens=self._internal.row_tokens)

    def sort_index(self, ascending: bool = True):
        """Reorder the VISIBLE order back to the index — zero-job metadata.
        The sort key lives in a DEDICATED helper column (``__sv_index__``),
        not the index: a later set_index re-points the index and a spec
        naming it would follow the NEW index (r10 composition probe).
        Missing labels sort LAST both directions (pandas
        na_position='last'; Spark's ascending default is NULLS FIRST — r12
        probe). Ties keep the previous visible order: the engine is
        deterministically stable (pandas' kind='stable' order), where
        pandas' default quicksort order among duplicates is an artifact."""
        sdf, ((m, v),) = self._sort_helpers(self._materialized(), {"index": F.col(INDEX_COL)})
        prior = tuple(
            (n, asc) for n, asc in (self._internal.order_spec or ()) if n in sdf.columns
        )
        return self._rewrap(
            sdf, order_spec=((m, True), (v, ascending)) + prior, row_tokens=self._internal.row_tokens
        )

    def _n_extreme(self, n: int, by: "list[str]", largest: bool, keep: str = "first"):
        """nlargest/nsmallest over the ``by`` value columns: a lazy sort
        spec + limit, so the plan is TakeOrderedAndProject (per-partition
        heaps + driver merge), never a global sort. Rows missing in a key
        order AFTER every valid value of it (pandas; Spark's asc-nulls-
        first and NaN-is-largest would lead with them — r10 probe).
        ``keep``: 'first'/'last' break boundary ties by the first/last
        visible position, like pandas; 'all' keeps every row tying the
        n-th key, so the result can exceed n rows (one broadcast 1-row
        boundary join)."""
        if keep not in ("first", "last", "all"):
            raise ValueError(
                f"nlargest/nsmallest: keep must be 'first', 'last' or 'all', got {keep!r}"
            )
        sdf, names = self._sort_helpers(self._materialized(), {c: F.col(c) for c in by})
        pair_spec = [x for m, v in names for x in ((m, True), (v, not largest))]
        spec = tuple(pair_spec + self._tie_spec(sdf, reverse=keep == "last"))
        if keep != "all":
            return self._rewrap(sdf, order_spec=spec).head(n)
        # boundary = the WORST kept key: order the (≤ n)-row top frame by
        # the REVERSED key spec and take one row
        top = sdf.orderBy(*[F.col(c).asc() if a else F.col(c).desc() for c, a in spec]).limit(n)
        rev = top.orderBy(*[F.col(c).desc() if a else F.col(c).asc() for c, a in pair_spec]).limit(1)
        bcols = [x for pair in names for x in pair]
        boundary = rev.select(*[F.col(x).alias(f"__b_{x}") for x in bcols])
        # lexicographic ties-or-beats the boundary key: a row is kept
        # unless some leading-tie column leaves it strictly worse
        worse, tie = F.lit(False), F.lit(True)
        for m, v in names:
            mc, bm = F.col(m), F.col(f"__b_{m}")
            vc, bv = F.col(v), F.col(f"__b_{v}")
            beaten = (vc < bv) if largest else (vc > bv)
            col_worse = (mc & ~bm) | (~mc & ~bm & F.coalesce(beaten, F.lit(False)))
            col_tie = (mc & bm) | (~mc & ~bm & F.coalesce(vc == bv, F.lit(False)))
            worse = worse | (tie & col_worse)
            tie = tie & col_tie
        kept = sdf.crossJoin(F.broadcast(boundary)).filter(~worse)
        return self._rewrap(kept.drop(*[f"__b_{x}" for x in bcols]), order_spec=spec)

    def first_valid_index(self):
        """Index label of the first row holding any non-missing value, in
        visible order (None when there is none)."""
        return self._valid_label(first=True)

    def last_valid_index(self):
        return self._valid_label(first=False)

    def _valid_label(self, first: bool):
        sdf = self._materialized()
        # invert from the SPEC for the "last" direction (calling .desc() on a
        # SortOrder nests two sort orders -> Spark codegen INTERNAL_ERROR)
        spec = self._internal.order_spec or ((INDEX_COL, True),)
        order = [F.col(c).asc() if asc == first else F.col(c).desc() for c, asc in spec]
        rows = (
            sdf.filter(self._any_valid(sdf)).orderBy(*order).select(INDEX_COL).limit(1).collect()
        )
        return rows[0][INDEX_COL] if rows else None

    # -- duplicates and sample --------------------------------------------------

    def _duplicate_flag(self, part: "list[Column]", keep, op: str, index_col: str = INDEX_COL) -> Column:
        """The one duplicate rule: TRUE on every row of a ``part`` group
        but the survivor — the first ('first') or last ('last') in the
        VISIBLE order (a sorted frame keeps its sorted-first row, like
        pandas — r10 composition probe), none for ``False``. One window
        shuffle on the keys; the spec names resolve where the caller's
        frame holds the helper columns."""
        if keep is False:
            return F.count(F.lit(1)).over(Window.partitionBy(*part)) > 1
        if keep not in ("first", "last"):
            raise ValueError(f"{op}: keep must be 'first', 'last' or False, got {keep!r}")
        spec = self._internal.order_spec or ((index_col, True),)
        order = [
            F.col(n).asc() if asc == (keep == "first") else F.col(n).desc() for n, asc in spec
        ]
        return F.row_number().over(Window.partitionBy(*part).orderBy(*order)) > 1

    def _drop_duplicates(self, keys: "list[str]", keep):
        """pandas semantics: the survivor of each duplicate group is chosen
        by visible position — Spark's own dropDuplicates keeps an ARBITRARY
        row. The flag is a column first: Spark forbids window functions
        inside WHERE."""
        mat = self._materialized()
        flag = self._duplicate_flag([F.col(k) for k in keys], keep, "drop_duplicates")
        return self._filter(~F.col("__dup__"), mat.withColumn("__dup__", flag))

    def sample(
        self,
        frac: "float | None" = None,
        n: "int | None" = None,
        seed: "int | None" = None,
        random_state: "int | None" = None,
    ):
        """pandas-shaped sampling. ``frac`` without a seed is Spark's
        Bernoulli sample (a fresh draw per call, like pandas); with a seed,
        and for ``n``, draws are CONTENT-deterministic — md5 of (index,
        seed) — so they repeat across calls, cluster sizes and engines
        (Spark's per-partition Bernoulli re-rolls when partitioning
        shifts — r10 probe). ``n`` is an exact count: one
        TakeOrderedAndProject by the draw."""
        seed = random_state if random_state is not None else seed
        if (frac is None) == (n is None):
            raise ValueError("sample: pass exactly one of frac= or n=")
        mat = self._materialized()
        draw = F.md5(F.concat_ws("\x1f", F.col(INDEX_COL).cast("string"), F.lit(str(seed))))
        if n is not None:
            return self._rewrap(mat.orderBy(draw).limit(n), order_spec=None)
        if seed is None:
            return self._rewrap(mat.sample(fraction=frac))
        u = F.conv(F.substring(draw, 1, 15), 16, 10).cast("double") / float(16 ** 15)
        return self._rewrap(mat.filter(u < F.lit(float(frac))))

    # -- operators --------------------------------------------------------------

    def __add__(self, o): return self._binop(o, "add")
    def __radd__(self, o): return self._binop(o, "add", reflected=True)
    def __sub__(self, o): return self._binop(o, "sub")
    def __rsub__(self, o): return self._binop(o, "sub", reflected=True)
    def __mul__(self, o): return self._binop(o, "mul")
    def __rmul__(self, o): return self._binop(o, "mul", reflected=True)
    def __truediv__(self, o): return self._binop(o, "truediv")
    def __rtruediv__(self, o): return self._binop(o, "truediv", reflected=True)
    def __floordiv__(self, o): return self._binop(o, "floordiv")
    def __rfloordiv__(self, o): return self._binop(o, "floordiv", reflected=True)
    def __mod__(self, o): return self._binop(o, "mod")
    def __rmod__(self, o): return self._binop(o, "mod", reflected=True)
    def __pow__(self, o): return self._binop(o, "pow")
    def __rpow__(self, o): return self._binop(o, "pow", reflected=True)
    # logical/bitwise — the (s > 0) & (t < 5) idiom; aligning, never strict
    # (pandas & with mismatched labels unions, it does not raise)
    def __and__(self, o): return self._binop(o, "and_")
    def __rand__(self, o): return self._binop(o, "and_", reflected=True)
    def __or__(self, o): return self._binop(o, "or_")
    def __ror__(self, o): return self._binop(o, "or_", reflected=True)
    def __xor__(self, o): return self._binop(o, "xor")
    def __rxor__(self, o): return self._binop(o, "xor", reflected=True)

    # dunder comparisons: STRICT — pandas requires identically-labeled
    # operands; the named eq/ne/lt/le/gt/ge align like arithmetic. Defining
    # __eq__ leaves the class unhashable (pandas DataFrames are too).
    def __eq__(self, o): return self._binop(o, "eq", strict=True)  # type: ignore[override]
    def __ne__(self, o): return self._binop(o, "ne", strict=True)  # type: ignore[override]
    def __lt__(self, o): return self._binop(o, "lt", strict=True)
    def __le__(self, o): return self._binop(o, "le", strict=True)
    def __gt__(self, o): return self._binop(o, "gt", strict=True)
    def __ge__(self, o): return self._binop(o, "ge", strict=True)

    def _unary(self, kind: str):
        """Elementwise ``neg``/``invert`` of every value column (cells.unary)."""
        dts = self._dtype_map()
        return self._with(
            self._internal, {k: unary(kind, v, dts[k]) for k, v in self._values().items()}
        )

    def __neg__(self): return self._unary("neg")
    def __invert__(self): return self._unary("invert")

    def divide(self, other): return self / other

    # -- reductions (core/reductions.py entries through each class' _reduce) ----

    def count(self): return self._reduce("count")  # non-missing, like pandas
    def median(self): return self._reduce("median")
    def nunique(self): return self._reduce("nunique")
    def std(self, ddof: int = 1): return self._reduce("std", ddof=ddof)
    def var(self, ddof: int = 1): return self._reduce("var", ddof=ddof)
    def sem(self, ddof: int = 1): return self._reduce("sem", ddof=ddof)
    def prod(self): return self._reduce("prod")
    def skew(self): return self._reduce("skew")
    def kurt(self): return self._reduce("kurt")
    def any(self): return self._reduce("any")
    def all(self): return self._reduce("all")

    product = prod
    kurtosis = kurt

    # -- visible-order windows: core/window.py rules ----------------------------

    def _visible(self, rule, *args, numeric: "str | None" = None):
        """Run a core/window.py visible-order rule over every value column —
        one shared window spec, so Catalyst plans ONE sort. ``numeric``
        names an op a DataFrame refuses on non-numeric columns, like
        pandas. A result on the rule's one materialization hop records its
        source: ``Series._mat_pair`` composes the two there."""
        if numeric is not None:
            self._require_numeric(numeric)
        src = win.Visible(self._internal, self._values())
        internal, cols = rule(src, *args)
        out = self._with(internal, cols)
        if src.materialized and internal is src.internal:
            out._mat_source = self
        return out

    def diff(self, periods: int = 1):
        return self._visible(win.diff, periods, numeric="diff")

    def pct_change(self, periods: int = 1, fill_method: "str | None" = "pad"):
        return self._visible(win.pct_change, periods, fill_method, numeric="pct_change")

    def cumsum(self): return self._visible(win.cum, F.sum, numeric="cumulative op")
    def cummax(self): return self._visible(win.cum, F.max, numeric="cumulative op")
    def cummin(self): return self._visible(win.cum, F.min, numeric="cumulative op")
    def cumprod(self): return self._visible(win.cum, F.product, numeric="cumulative op")
    def ffill(self): return self._visible(win.fill, True)
    def bfill(self): return self._visible(win.fill, False)

    pad = ffill
    backfill = bfill

    def interpolate(self, method: str = "linear", limit: "int | None" = None):
        return self._visible(win.interpolate, method, limit, numeric="interpolate")

    def rank(
        self,
        method: str = "average",
        ascending: bool = True,
        pct: bool = False,
        na_option: str = "keep",
    ):
        """pandas rank: 'average' (the pandas default), 'min', 'max',
        'dense' or 'first'; ``na_option`` 'keep', 'top' or 'bottom'; ``pct``
        rescales to (0, 1] — each column ranked by the core/window.py rule,
        one window sort per column on one partitioning."""
        return self._visible(win.rank, method, ascending, pct, na_option, numeric="rank")

    def rolling(self, window: int, min_periods: "int | None" = None):
        self._require_numeric("rolling")
        return win.Rolling(self, window, min_periods)

    def expanding(self, min_periods: int = 1):
        self._require_numeric("rolling")
        return win.Rolling(self, None, min_periods)

    def ewm(
        self,
        com: "float | None" = None,
        span: "float | None" = None,
        halflife: "float | None" = None,
        alpha: "float | None" = None,
        adjust: bool = True,
        ignore_na: bool = False,
        min_periods: int = 0,
    ):
        self._require_numeric("ewm")
        return win.Ewm(self, com, span, halflife, alpha, adjust, ignore_na, min_periods)

    def resample(self, rule: str):
        """Fixed-interval resample over a timestamp index
        (core/window.py::resample); an aggregation that a column's dtype
        does not take raises TypeError like pandas."""
        return win.Resampler(self, rule)

    def asfreq(self, freq: str, method: "str | None" = None, fill_value=None):
        return self._visible(win.asfreq, freq, method, fill_value)

    # -- MultiIndex levels ------------------------------------------------------

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

    def _level_rebuild(self, keep: "list[str]", base_sdf=None):
        """The index rebuilt from the ``keep`` levels. pandas droplevel/
        swaplevel/xs PRESERVE row order; the rebuilt index must not become
        the sort key (r8 probe), so the original struct index keeps the
        order under a HELPER name (``_materialized()`` re-aliases the new
        index to INDEX_COL, where a spec naming INDEX_COL would follow it)."""
        m = base_sdf if base_sdf is not None else self._materialized()
        spec = self._internal.order_spec
        if spec is None:
            m = m.withColumn("__lvlorder__", F.col(INDEX_COL))
            spec = (("__lvlorder__", True),)
        if len(keep) == 1:
            sdf = m.withColumn("__idx2__", F.col(f"{INDEX_COL}.{keep[0]}"))
            internal = InternalFrame(sdf, "__idx2__", keep[0], order_spec=spec)
        else:
            sdf = m.withColumn(
                "__idx2__", F.struct(*[F.col(f"{INDEX_COL}.{n}").alias(n) for n in keep])
            )
            internal = InternalFrame(sdf, "__idx2__", tuple(keep), order_spec=spec)
        return self._with(internal, {c: sdf[c] for c in self._values()})

    def droplevel(self, level):
        names = self._index_level_names()
        drop = names[level] if isinstance(level, int) else level
        return self._level_rebuild([n for n in names if n != drop])

    def swaplevel(self, i: int = -2, j: int = -1):
        names = self._index_level_names()
        names[i], names[j] = names[j], names[i]
        return self._level_rebuild(names)

    def reorder_levels(self, order: "list"):
        """Reorder MultiIndex levels (struct field reorder — zero-job)."""
        names = self._index_level_names()
        return self._level_rebuild([names[lv] if isinstance(lv, int) else lv for lv in order])

    def xs(self, key, level=0):
        """Cross-section: rows where the index LEVEL equals ``key``, that
        level dropped — a pushdown-friendly filter plus the level rebuild."""
        names = self._index_level_names()
        lvl = names[level] if isinstance(level, int) else level
        m = self._materialized().filter(F.col(f"{INDEX_COL}.{lvl}") == F.lit(key))
        return self._level_rebuild([n for n in names if n != lvl], base_sdf=m)
