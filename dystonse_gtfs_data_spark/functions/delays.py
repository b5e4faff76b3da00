"""Delay validity filters and rounding (SURVEY §2.2 F1-F3).

- count-report validity: |delay| <= 36000 s (src/analyser/count.rs:48-52)
- curve-building validity: |delay| < 3000 s exclusive
  (src/analyser/specific_curves.rs:264, 315)
- 12-second rounding truncating **toward zero** (Rust integer division
  `(d / 12) * 12`, src/analyser/specific_curves.rs:319-320) — NOT floor;
  −13 → −12, −1 → 0.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

COUNT_DELAY_BOUND = 36000
CURVE_DELAY_BOUND = 3000
DELAY_ROUND_STEP = 12


def count_valid(delay: Column) -> Column:
    return delay.between(-COUNT_DELAY_BOUND, COUNT_DELAY_BOUND)


def round_toward_zero(delay: Column, step: int = DELAY_ROUND_STEP) -> Column:
    """Truncate-toward-zero to a multiple of ``step``: sign(d) * floor(|d|/step) * step."""
    d = delay.cast("long")
    return (F.signum(d) * F.floor(F.abs(d) / step) * step).cast("long")


def round_toward_zero_sql(delay: str, step: int = DELAY_ROUND_STEP) -> str:
    d = f"CAST({delay} AS BIGINT)"
    return (
        f"CAST(CASE WHEN {d} >= 0 THEN floor({d} / {step}) * {step} "
        f"ELSE -(floor(-{d} / {step}) * {step}) END AS BIGINT)"
    )
