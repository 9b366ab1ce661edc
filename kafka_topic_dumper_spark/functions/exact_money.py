"""Partition-order-exact money arithmetic.

Sums of price×discount products are 4-decimal true values; a float sum
can land exactly on a round(x, 2) boundary, where (a) the value itself
depends on shuffle/partition order and (b) Spark and DuckDB round the
same double differently (shortest-decimal-repr HALF_UP vs binary
value). Aggregating in integer cents / basis points and dividing by
the scale WITHOUT rounding is bit-identical in every engine under any
partition layout. The inputs must be exact 2-decimal values (true for
all testdata money columns); at ~10^8 rows per group the 3-factor
product sum approaches int64 — move to DECIMAL(38) aggregation there.

ORACLE CAVEAT: the registered DuckDB oracle SQL sums CAST(... AS
BIGINT) unconditionally, so the differential harness is only valid
with the DECIMAL flag OFF (the default). With
SPARK_GRAFT_MONEY_DECIMAL=1 Spark aggregates DECIMAL(38,0) while the
oracle still wraps at int64 — in exactly the overflow regime the flag
targets, the harness would report spurious mismatches against an
int64-wrapping oracle, not real engine errors. Run differential
checks with the flag off; a deployment that needs the flag should
mirror it by porting the oracle sums to DuckDB HUGEINT/DECIMAL.
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F

# int64 headroom: the 3-factor charge term is ≤ ~10^11 per row
# (price_cents ~10^7 × 2 percent factors ~10^2 each), so a bigint sum
# overflows around 10^8 rows in ONE group. The DECIMAL(38,0) switch
# buys ~10^27 group cardinality at ~20-30% agg cost — set
# SPARK_GRAFT_MONEY_DECIMAL=1 for deploys where a single group can
# exceed ~10^7 fact rows. The switch is read when a plan is built.
_DECIMAL_ENV = "SPARK_GRAFT_MONEY_DECIMAL"


def use_decimal() -> bool:
    return os.environ.get(_DECIMAL_ENV, "") not in ("", "0", "false")


def _unit(col: Column) -> Column:
    scaled = F.round(col * 100, 0)
    if use_decimal():
        # DECIMAL(38,0) terms make SUM a decimal aggregation: exact,
        # partition-order independent, and overflow-checked by Spark
        # (ANSI) instead of silently wrapping like bigint
        return scaled.cast("decimal(38,0)")
    return scaled.cast("bigint")


def cents(col: Column) -> Column:
    """2-decimal price → integer cents (bigint, or DECIMAL(38,0) under
    the headroom flag)."""
    return _unit(col)


def pct_units(col: Column) -> Column:
    """2-decimal rate (e.g. 1-discount, 1+tax) → integer percent
    units (bigint, or DECIMAL(38,0) under the headroom flag)."""
    return _unit(col)
