"""One auditable place for every driver-materialization limit (r7 verdict #7).

A handful of pandas-parity operations are driver-terminal BY CONTRACT —
their result is an ndarray/list/schema, which cannot be lazy — and a few
more funnel all rows through a single Arrow group because the math is
inherently sequential. Each such site guards LOUDLY (a cheap bounded
count-probe, then ValueError naming the distributed alternative) instead
of OOMing an executor or the driver. The limits all live here so the
driver-OOM policy can be audited — and tuned — in one place; every guard
takes the shared default but still accepts an explicit per-call override.

Guarded sites (SCALE.md "Driver-materialization policy" mirrors this list):
  - Series.unique()            MAX_DRIVER_ROWS     (distinct values -> list)
  - Series.factorize()         MAX_DRIVER_ROWS     (codes ndarray, full length)
  - DataFrame.T                MAX_DRIVER_COLS     (rows become schema fields)
  - get_dummies()              MAX_DRIVER_CATEGORIES (categories become fields)
  - core/window.py::ewm        MAX_SINGLE_GROUP_ROWS (Series.ewm and
                               DataFrame.ewm: one Arrow group; the scale
                               shape is df.groupby(k)[col].ewm - one
                               group per key, in parallel)
"""

from __future__ import annotations

# Rows that may be pulled to (or through) one process as VALUES: unique()
# results, factorize() code arrays, a single-group Arrow batch. ~2M rows of
# scalars is tens of MB — comfortably inside a default driver/executor heap,
# loud well before the point it isn't.
MAX_DRIVER_ROWS: int = 2_000_000

# Rows that become SCHEMA FIELDS (transpose). Schemas are driver-resident,
# analyzed per-plan, and O(fields^2) in places inside Catalyst — the useful
# ceiling is far lower than for values.
MAX_DRIVER_COLS: int = 1_000

# Distinct categories get_dummies may turn into indicator columns. One-hot
# beyond a few hundred fields belongs in an array/embedding column.
MAX_DRIVER_CATEGORIES: int = 256

# Rows allowed through a single Arrow group for inherently-sequential math
# (Series/DataFrame ewm): one python worker holds the whole group as a pandas
# block, so the bound matches MAX_DRIVER_ROWS.
MAX_SINGLE_GROUP_ROWS: int = MAX_DRIVER_ROWS
