"""Cross-engine stable rounding.

Spark rounds DOUBLEs through BigDecimal HALF_UP on the shortest decimal
representation; DuckDB rounds the raw double in C, and BOTH engines'
aggregation orders are nondeterministic run to run. Two failure classes
follow for ``round(<float expr>, s)``:

1. **Exact decimal ties.** Data quantized at s+k decimals (prices,
   discounts) sums to values exactly at a rounding midpoint
   (x.xx5...). The two engines' floating sums land a hair above or
   below the true tie and HALF_UP flips per engine.
2. **Drift exceeding the guard.** The FP error of a large sum grows
   with magnitude and term count (ulp(5e6) ~ 1e-9; hundreds of adds
   push cross-engine drift past 1e-7) — a FIXED epsilon smaller than
   the drift cannot shift both engines to the same side.

``stable_round`` therefore adds an epsilon PROPORTIONAL TO THE
ROUNDING SCALE on both sides: ``eps(s) = 0.5 * 10^-(s+2)`` — half of
one percent of the rounding step. That is:

* far ABOVE any realistic cross-engine drift for values whose
  magnitude makes s-digit rounding meaningful (drift stays ~1e-5
  relative ulps below the step), so decimal ties shift decisively
  above the midpoint in both engines; and
* far BELOW the data's own decimal quantum (data exact at s+1 or s+2
  decimals sits on multiples of 10^-(s+2); the nearest such multiple
  is a full half-quantum away from boundary-minus-eps), so no
  non-tied value is ever pushed across a boundary.

The SQL twin (``stabilize_rounds`` in plans/registry.py) injects the
same epsilon into every oracle ``round()`` — oracle authors write
plain ``round(expr, s)`` and must NOT add an epsilon by hand (it
would double on the DuckDB side only and re-open the asymmetry this
module closes).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def eps_for_scale(scale: int) -> float:
    """Half of one hundredth of the rounding step at ``scale``."""
    return 0.5 * 10.0 ** -(scale + 2)


def stable_round(col: Column, scale: int) -> Column:
    return F.round(col + F.lit(eps_for_scale(scale)), scale)
