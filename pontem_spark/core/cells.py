"""pandas cell rules over Spark columns — the one table under every Series
and DataFrame elementwise op.

Callers pair the operand cells (same anchor, one materialization hop, the
row aligner, or a literal) and resolve both dtypes as Spark
``simpleString`` names — ``None`` is a NULL literal or a column that does
not resolve. :func:`combine_cells` then returns the output cell under
pandas 2.2.2's rules, measured:

- comparisons: a missing (NULL or NaN) operand compares False, ``ne``
  True; bool vs number compares as 0/1; a timestamp column against a str
  operand (scalar or column, either side) compares through Spark's own
  string-to-timestamp cast, pandas' parse of the str; across other dtype
  classes ``eq`` is False, ``ne`` True and ordering comparisons raise
  TypeError;
- ``& | ^``: bool ⊕ bool is logical with missing filled False before the
  op, int ⊕ int is bitwise, bool ⊕ int is bitwise then truthiness, a
  float column right of a bool is its truthiness (NaN False); a float
  left, a float scalar, int ⊕ float, str and other dtypes raise
  TypeError;
- str: ``+`` concatenates (NaN propagates), a str column times an int
  repeats, the rest raises TypeError;
- numpy bool arithmetic: ``+`` is OR, ``*`` AND, ``-`` raises TypeError,
  ``/ // **`` raise NotImplementedError, ``%`` is 0; bool ⊕ number
  upcasts the bool to int;
- ``fill_value``: a cell missing on exactly one side takes the fill
  before the op, both-missing stays missing;
- datetime-like ⊕ datetime-like is Spark's own arithmetic (timestamp
  differences are day-time intervals, pandas' timedelta);
- the int64 rules (negative integer exponents raise; ``x % 0`` is 0 for
  a bool divisor, and ``x % 0`` and ``x // 0`` are 0 under ``fill_value``)
  hold only while pandas' column stays int64, which alignment holes
  break — they flip it to float64 column-wide, action at a distance.
  They apply exactly where hole-freedom is provable: callers pass
  ``int64=True`` for the same anchor or one materialization hop, and a
  scalar operand (``literal``) implies it (an int Spark dtype there is
  int64 by construction; a ctor None would have made it float).
"""

from __future__ import annotations

import datetime
import decimal
import operator

from pyspark.sql import Column, DataFrame as SparkDataFrame, functions as F

INT_DTYPES = ("tinyint", "smallint", "int", "bigint")
_FLOAT_DTYPES = ("float", "double")
NUMERIC_DTYPES = INT_DTYPES + _FLOAT_DTYPES
_TIMESTAMPS = ("timestamp", "timestamp_ntz")
COMPARISONS = frozenset({"eq", "ne", "lt", "le", "gt", "ge"})
_ORDER_CMP = frozenset({"lt", "le", "gt", "ge"})
_LOGICAL = {"and_": "&", "or_": "|", "xor": "^"}
_BOOL_RAISE = frozenset({"truediv", "floordiv", "pow"})
_STR_ERRS = {
    "sub": "unsupported operand type(s) for -: 'str' and 'str'",
    "mul": "can't multiply sequence by non-int of type 'str'",
    "truediv": "unsupported operand type(s) for /: 'str' and 'str'",
    "floordiv": "unsupported operand type(s) for //: 'str' and 'str'",
    "mod": "printf-style str % str formatting is not supported "
           "(documented deviation from pandas)",
    "pow": "unsupported operand type(s) for ** or pow(): 'str' and 'str'",
}


def dtype_class(dt: "str | None") -> str:
    """bool / num / str / other. A NULL literal (None, Spark's void)
    counts as a number: pandas' NaN."""
    if dt is None or dt == "void":
        return "num"
    if dt == "string":
        return "str"
    if dt == "boolean":
        return "bool"
    if dt in INT_DTYPES or dt in _FLOAT_DTYPES or dt.startswith("decimal"):
        return "num"
    return "other"


def scalar_dtype(v) -> "str | None":
    """Spark dtype name of a Python scalar operand (numpy scalars by
    value); None for None. Anything else is not an elementwise operand."""
    import numpy as np

    if v is None:
        return None
    if isinstance(v, np.datetime64):
        return "timestamp"
    if isinstance(v, np.generic):
        v = v.item()
    for typ, dt in (
        (str, "string"), (bool, "boolean"), (int, "bigint"), (float, "double"),
        (datetime.datetime, "timestamp"), (datetime.date, "date"),
        (datetime.timedelta, "interval"), (decimal.Decimal, "decimal"),
    ):
        if isinstance(v, typ):
            return dt
    raise TypeError(
        "elementwise op needs a scalar, Series or DataFrame, got "
        f"{type(v).__name__}"
    )


def dtypes(sdf: SparkDataFrame, *cols: Column) -> "list[str | None]":
    """Dtype names of ``cols`` on ``sdf`` in ONE analysis; a column that
    does not resolve there is None."""
    try:
        return [f.dataType.simpleString() for f in sdf.select(*cols).schema.fields]
    except Exception:  # noqa: BLE001 — unresolvable: null-only
        if len(cols) == 1:
            return [None]
        return [dtypes(sdf, c)[0] for c in cols]


def missing(col: Column, dt: "str | None") -> Column:
    """pandas-missing (NULL, plus NaN for float dtypes) from a KNOWN dtype
    — ``x != x`` cannot detect NaN here, Spark defines NaN = NaN as TRUE."""
    if dt in _FLOAT_DTYPES:
        return col.isNull() | F.isnan(col)
    return col.isNull()


def valid(col: Column, dt: "str | None") -> Column:
    """``col`` with pandas-missing cells blanked to NULL: Spark aggregates
    and window functions skip NULL but PROPAGATE NaN (sum/mean/max of a
    NaN-bearing column is NaN, count counts it), the opposite of pandas'
    skipna — every reduction aggregates over this."""
    if dt in _FLOAT_DTYPES:
        return F.when(F.isnan(col), F.lit(None)).otherwise(col)
    return col


# -- pandas-corrected column functions ---------------------------------


def zero_div_value(a: Column, b: Column) -> Column:
    # pandas float semantics for a zero divisor: x/0 → ±inf signed by
    # BOTH operands' signs, 0/0 (and nan/0) → NaN. The divisor's sign
    # bit matters even for zero (1.0/-0.0 = -inf); a zero's sign bit is
    # invisible to comparisons, but CAST(-0.0 AS STRING) = '-0.0', so
    # the sign flip reads it from the string form (zero branch only —
    # the per-row cost exists solely where the division would THROW).
    flip = F.when(
        b.cast("string").startswith("-"), F.lit(-1.0)
    ).otherwise(F.lit(1.0))
    return (
        F.when(a > 0, F.lit(float("inf")))
        .when(a < 0, F.lit(float("-inf")))
        .otherwise(F.lit(float("nan")))
    ) * flip


def truediv_cols(a: Column, b: Column) -> Column:
    # Spark 4 runs ANSI mode by default, where /0 THROWS at runtime;
    # pandas never does. Guarding with when() keeps the division branch
    # unevaluated for zero divisors (found by hypothesis: Series/0.0
    # killed the job).
    return F.when(b == 0, zero_div_value(a, b)).otherwise(a / b)


def floordiv_cols(a: Column, b: Column) -> Column:
    # pandas floordiv is FLOOR division (the reference truncated via
    # cast('integer'), wrong for negatives — series.py:203-209);
    # zero divisor → same IEEE values as truediv (floor(±inf) = ±inf).
    # A NaN quotient must be guarded: Spark's floor(NaN) silently
    # returns 0, not NaN (r7 probe — NaN // 10 came back 0.0)
    q = a / b
    return F.when(b == 0, zero_div_value(a, b)).otherwise(
        F.when(F.isnan(q), F.lit(float("nan"))).otherwise(F.floor(q))
    )


def pow_cols(a: Column, b: Column) -> Column:
    # numpy/pandas: 1 ** x == 1 and x ** 0 == 1 even when x is
    # missing (pd 1.0**NaN = 1.0, NaN**0 = 1.0); Spark pow propagates
    # the null/NaN instead (r7 probe)
    return (
        F.when(a == 1, F.lit(1.0))
        .when(b == 0, F.lit(1.0))
        .otherwise(F.pow(a, b))
    )


def mod_cols(a: Column, b: Column) -> Column:
    # pandas/Python mod takes the divisor's sign; Spark % the dividend's.
    # Zero divisor → NaN (pandas float x % 0.0).
    return F.when(b == 0, F.lit(float("nan"))).otherwise(a - F.floor(a / b) * b)


_OPS = {
    "add": operator.add, "sub": operator.sub, "mul": operator.mul,
    "truediv": truediv_cols, "floordiv": floordiv_cols,
    "mod": mod_cols, "pow": pow_cols,
    "eq": operator.eq, "ne": operator.ne, "lt": operator.lt,
    "le": operator.le, "gt": operator.gt, "ge": operator.ge,
}


# -- the rule table -------------------------------------------------------


def combine_cells(
    op: str, l: Column, r: Column, ldt: "str | None", rdt: "str | None",
    *, reflected: bool = False, fill_value=None, int64: bool = False,
    literal: bool = False,
) -> Column:
    """One output cell of ``l <op> r`` (``r <op> l`` when ``reflected``)
    from operand cells of KNOWN dtypes; ``literal``: ``r`` is a Python
    scalar. Raises pandas' eager errors."""
    int64 = int64 or literal
    if literal:
        # pandas runs column ⊕ scalar as numpy loops over the column (the
        # logical ops column-first whichever side the scalar is on):
        # there is no str * number loop — only a str COLUMN repeats — and
        # no & | ^ loop taking a float scalar
        if (op == "mul" and rdt == "string" and ldt != "string") or (
            op in _LOGICAL and rdt == "double"
        ):
            raise TypeError(
                f"unsupported operand type(s) for {op}: {ldt} column and "
                f"{rdt} scalar"
            )
        reflected = reflected and op not in _LOGICAL
    if reflected:
        l, r, ldt, rdt = r, l, rdt, ldt
    lc, rc = dtype_class(ldt), dtype_class(rdt)
    if op in COMPARISONS:
        # pandas parses a str against a datetime64 column, not a str
        # column against a datetime scalar (object == Timestamp is False)
        parses = (ldt in _TIMESTAMPS and rc == "str") or (
            rdt in _TIMESTAMPS and lc == "str" and not literal
        )
        if not (lc == rc or {lc, rc} == {"bool", "num"} or parses):
            if op in _ORDER_CMP:
                raise TypeError(
                    f"'{op}' not supported between mismatched dtypes "
                    f"({ldt} vs {rdt})"
                )
            return F.lit(op == "ne")
        if lc == "bool" and rc == "num":
            l, ldt = l.cast("int"), "int"
        elif rc == "bool" and lc == "num":
            r, rdt = r.cast("int"), "int"
        # a CONJUNCTION with the not-missing terms, not a when() wrap:
        # Catalyst pushes conjuncts to the scan independently, so the
        # mask idiom s[s > x] keeps its PushedFilters; NULL AND FALSE =
        # FALSE collapses a missing operand's NULL comparison
        lm, rm = missing(l, ldt), missing(r, rdt)
        raw = _OPS[op](l, r)
        return (raw | lm | rm) if op == "ne" else (raw & ~lm & ~rm)
    if op in _LOGICAL:
        return _logical(op, l, r, ldt, rdt, lc, rc)
    if lc == "other" or rc == "other":
        if lc != rc:
            raise TypeError(
                f"unsupported operand type(s) for {op}: {ldt} and {rdt}"
            )
        return _OPS[op](l, r)
    if lc == "str" or rc == "str":
        return _str_cells(op, l, r, ldt, rdt, lc, rc, fill_value)
    if lc == "bool" and rc == "bool":
        if op == "add":
            return l | r
        if op == "mul":
            return l & r
        if op == "sub":
            raise TypeError(
                "numpy boolean subtract, the `-` operator, is not "
                "supported, use the bitwise_xor, the `^` operator, or "
                "the logical_xor function instead."
            )
        if op in _BOOL_RAISE:
            raise NotImplementedError(
                f"operator '{op}' not implemented for bool dtypes"
            )
        # numpy int8 C semantics (r14 fuzz seed 18): bool % bool is
        # x%1==0 or x%0==0 — always 0, never the float NaN mask
        return F.when(l.isNull() | r.isNull(), F.lit(None).cast("int")).otherwise(
            F.lit(0)
        )
    if lc == "bool":
        l, ldt = l.cast("int"), "int"
    elif rc == "bool":
        r, rdt = r.cast("int"), "int"
    if fill_value is not None:
        lm, rm = missing(l, ldt), missing(r, rdt)
        l = F.when(lm & ~rm, F.lit(fill_value)).otherwise(l)
        r = F.when(rm & ~lm, F.lit(fill_value)).otherwise(r)
    if int64 and ldt in INT_DTYPES and rdt in INT_DTYPES:
        if op == "pow":
            # numpy: negative integer exponents raise at runtime —
            # matched with a lazy in-plan raise (r14 fuzz seed 15)
            return F.when(
                r < 0,
                F.raise_error(
                    F.lit("Integers to negative integer powers are not allowed.")
                ),
            ).otherwise(pow_cols(l, r))
        if (op == "mod" and (fill_value is not None or rc == "bool")) or (
            op == "floordiv" and fill_value is not None
        ):
            # numpy C semantics, x % 0 == 0 (and x // 0 == 0): pandas
            # masks int zero division only for an int divisor without
            # fill_value (r14 fuzz seed 41, measured on pandas 2.2.2)
            return F.when(r == 0, F.lit(0)).otherwise(_OPS[op](l, r))
    return _OPS[op](l, r)


def _logical(op, l, r, ldt, rdt, lc, rc) -> Column:
    # pandas ops.logical_op: the RIGHT operand is filled False and cast
    # to bool for a bool left; an int right stays int, and bool ⊕ int
    # runs numpy's bitwise op before the truthiness cast (True & -2 is
    # False). A float left is python-level float & x: TypeError.
    def kind(dt, c):
        if c == "num":
            if dt in INT_DTYPES:
                return "int"
            return "bool" if dt in (None, "void") else "float"
        return c

    lk, rk = kind(ldt, lc), kind(rdt, rc)
    if lk in ("str", "other", "float") or rk in ("str", "other") or (
        lk == "int" and rk == "float"
    ):
        raise TypeError(
            f"unsupported operand type(s) for {_LOGICAL[op]}: {ldt} and {rdt}"
        )
    bitwise = {"and_": "bitwiseAND", "or_": "bitwiseOR", "xor": "bitwiseXOR"}[op]
    if lk == "int" and rk == "int":
        return getattr(l, bitwise)(r)
    if "int" in (lk, rk):
        bits = getattr(l.cast("bigint"), bitwise)(r.cast("bigint"))
        return F.coalesce(bits != 0, F.lit(False))
    lb = F.coalesce(l, F.lit(False))
    if rk == "float":
        rb = ~missing(r, rdt) & (r != 0)
    else:
        rb = F.coalesce(r, F.lit(False))
    # pyspark Column has no __xor__; boolean xor ≡ !=
    return {"and_": operator.and_, "or_": operator.or_, "xor": operator.ne}[op](lb, rb)


def _str_cells(op, l, r, ldt, rdt, lc, rc, fill_value) -> Column:
    if lc != rc:
        ints_b = INT_DTYPES + ("boolean",)
        if op == "mul" and (
            (lc == "str" and rdt in ints_b) or (rc == "str" and ldt in ints_b)
        ):
            # pandas str * int is python string repetition (r14 fuzz
            # seed 614; bool counts as 0/1)
            s, n = (l, r) if lc == "str" else (r, l)
            return F.repeat(s, F.greatest(n.cast("int"), F.lit(0)))
        bad = rdt if lc == "str" else ldt
        raise TypeError(f'can only concatenate str (not "{bad}") to str')
    if op != "add":
        raise TypeError(_STR_ERRS[op])
    if fill_value is not None:
        if not isinstance(fill_value, str):
            raise TypeError(
                f'can only concatenate str (not "{type(fill_value).__name__}") to str'
            )
        lm, rm = l.isNull(), r.isNull()
        l = F.when(lm & ~rm, F.lit(fill_value)).otherwise(l)
        r = F.when(rm & ~lm, F.lit(fill_value)).otherwise(r)
    return F.concat(l, r)  # NULL propagates: "a" + NaN = NaN


def unary(kind: str, col: Column, dt: "str | None") -> Column:
    """``neg`` (numeric negate; bool is logical NOT, pandas' rule; str
    raises) and ``invert`` (bool/NULL logical NOT, int bitwise NOT,
    others raise)."""
    c = dtype_class(dt)
    if kind == "neg":
        if c == "str":
            raise TypeError("bad operand type for unary -: 'str'")
        return ~col if c == "bool" else -col
    if c == "bool" or dt is None:
        return ~col
    if dt in INT_DTYPES:
        return F.bitwise_not(col)
    raise TypeError(f"ufunc 'invert' not supported for dtype {dt}")
