"""Cross-engine rounding canonicalization.

``round()`` is NOT portable on exact .5 boundaries: Spark rounds
doubles HALF_UP while DuckDB rounds them half-to-even.  Ratios of
integers (counts, ranks, integer-valued measures) are exact binary/
decimal fractions, so ``k/n`` landing exactly on x.…5 at the rounding
precision is a real event — a sf0.1 soak caught cume_dist (k/1280)
differing in the last digit between engines.

``floor(x·10^dp + 0.5)/10^dp`` computes the HALF_UP result from plain
IEEE arithmetic, which is bit-identical across engines for identical
inputs — use it (with the same expression spelled out in the SQL
oracle) whenever a multi-row ratio of integer-valued data is rounded
for oracle comparison.
Continuous-valued reductions (corr, norms, sums of arbitrary doubles)
don't land on exact boundaries and can keep plain ``round``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_half_up(col: Column, dp: int) -> Column:
    s = float(10**dp)
    return F.floor(col * F.lit(s) + F.lit(0.5)) / F.lit(s)

