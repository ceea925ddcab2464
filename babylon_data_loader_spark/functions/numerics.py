"""Cross-engine-exact numeric emission helpers.

The r6 driver produced the repo's first-ever hash mismatches when a
rounded-DOUBLE integer ratio landed exactly on a decimal half-way case
and the driver's DuckDB build rounded it differently than the local
one. The repair discipline (applied repo-wide in r7):

- An integer/DECIMAL ratio is emitted as a SINGLE unrounded IEEE
  division of exact operands — correctly-rounded hardware ops are
  bit-identical in every engine build; ``round(x, k)`` is the only
  build-dependent step, so it is the thing to remove.
- A fixed-scale DECIMAL sum is converted to DOUBLE by scaling to an
  exact INTEGER first (:func:`grid_sum`): a scale>0 decimal→double
  cast double-rounds differently across engines (DuckDB divides the
  scaled integer; Spark rounds the exact rational once), while
  integer→double is one correctly-rounded conversion everywhere.
- ``round(x, k)`` at EXACTLY the grid scale of a decimal-summed value
  is safe (it collapses both engines' conversions back to the shared
  grid) — but a round COARSER than the grid is a structural half-way
  hazard (grid digits ``k+1..s`` can be exactly ``500…0``) and must
  use :func:`grid_sum` instead.

These helpers exist so query code states the intent once instead of
re-deriving the cast chain at every site.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def grid_sum(col: Column, scale: int) -> Column:
    """SUM of a fixed-scale DECIMAL column emitted as DOUBLE with no
    build-dependent rounding: the exact sum is scaled to an integer
    (DECIMAL(38,0)), converted once, divided once.

    The DuckDB oracle twin is
    ``CAST(CAST(SUM(x) * 10^scale AS HUGEINT) AS DOUBLE) / 10^scale.0``.
    """
    factor = 10**scale
    return (F.sum(col) * factor).cast("decimal(38,0)").cast(
        "double"
    ) / F.lit(float(factor))

