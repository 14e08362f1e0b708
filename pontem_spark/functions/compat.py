"""Cross-engine deterministic rounding.

``ROUND(x, d)`` is NOT portable for doubles: Spark rounds the shortest
decimal string of the double (Java ``BigDecimal.valueOf`` + HALF_UP), DuckDB
rounds the binary value — so a true value like 1/32 = 0.03125 rounds to
0.0313 in Spark and 0.0312 in DuckDB. Any oracle comparison using ROUND is a
latent coin-flip on every ratio of small integers.

The portable form is ``floor(x * 10^d + 0.5) / 10^d``: it only uses IEEE
multiply/add/floor/divide, which every engine computes bit-identically from
the same input double. All query code uses :func:`rnd`; all oracle SQL is
rewritten by :func:`portable_round_sql` at registration time, so authors can
still write natural ``ROUND(expr, d)`` in oracles.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for splicing into a Spark SQL string;
    an embedded backtick is doubled, so any name parses as one identifier."""
    return "`" + name.replace("`", "``") + "`"


def rnd(col: Column, digits: int) -> Column:
    """Deterministic half-up rounding, identical across engines. Returns
    DOUBLE (long floor result divided back)."""
    scale = float(10**digits)
    return F.floor(col * scale + F.lit(0.5)) / F.lit(scale)


def _floor_form(expr: str, digits: int) -> str:
    scale = 10**digits
    return f"(floor(({expr}) * {scale}.0 + 0.5) / {scale}.0)"


def portable_round_sql(sql: str) -> str:
    """Rewrite every ``ROUND(expr, d)`` in a SQL string to the portable
    floor form. Handles nested parentheses; ``d`` must be an integer literal.
    """
    out = []
    i = 0
    pattern = re.compile(r"\bROUND\s*\(", re.IGNORECASE)
    while True:
        m = pattern.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        out.append(sql[i : m.start()])
        # find the balanced closing paren and the last top-level comma
        depth = 1
        j = m.end()
        last_comma = -1
        while j < len(sql) and depth > 0:
            ch = sql[j]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                last_comma = j
            elif ch == "'":  # skip string literals
                j += 1
                while j < len(sql) and sql[j] != "'":
                    j += 1
            j += 1
        if depth != 0 or last_comma < 0:
            raise ValueError(f"unparseable ROUND() at {m.start()}: {sql[m.start():m.start()+80]!r}")
        inner = sql[m.end() : last_comma]
        digits = int(sql[last_comma + 1 : j - 1].strip())
        # recurse for nested ROUNDs inside the expression
        out.append(_floor_form(portable_round_sql(inner), digits))
        i = j
    return "".join(out)
