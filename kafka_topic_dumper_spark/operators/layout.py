"""Multi-dimensional data layout — Z-order (Morton) clustering.

The 100 TB problem this solves: a table queried by TWO selective
dimensions at once (here events by ``user_id`` AND time) can be
sort-clustered by only one of them; the other dimension's predicate
then touches every file. Interleaving the bits of both dimensions into
one Morton key and range-sorting the write by that key gives every
file a TIGHT min/max envelope in BOTH dimensions, so parquet
row-group/file skipping prunes 2-D range predicates — the same
technique Delta/Iceberg expose as ``OPTIMIZE ZORDER BY``.

Dimension normalization is load-bearing, not cosmetic: raw user ids
(hundreds) and epoch hours (hundreds of thousands) occupy disjoint bit
ranges, so interleaving RAW values puts every split boundary on the
wide dimension and the narrow one never prunes (measured in
tests/test_layout.py before this normalization existed). Each
dimension is therefore min/max-scaled to the full 16-bit range with
EXACT integer arithmetic — ``(x - min) * 65535 div (max - min)`` —
the integer-division twin of the rank normalization Delta applies via
range-partition ids.

Spark-first shape: min/max are one tiny aggregate broadcast back with
a cross join; the z-value itself is a pure integer expression (32
straight-line bit terms — whole-stage codegen, no Python, no UDF); the
clustered write is ``repartitionByRange(zval).sortWithinPartitions`` —
Spark's native range exchange does the global clustering; nothing is
collected. The pruning payoff is measured (not asserted by hope) in
tests/test_layout.py against the same data written time-sorted.

Reference basis: the reference clusters dump files by one dimension
only — the offset-ordered file naming at kafka_client.py:242-243 —
which is exactly the single-dimension layout this operator
generalizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Z_BITS = 16  # per-dimension bits → 32-bit Morton key
_Z_MAX = (1 << Z_BITS) - 1


def _interleave_terms(xexpr: str, yexpr: str, bits: int, spark: bool) -> str:
    """The Morton key as a straight-line chain of ``2·bits`` terms.
    Generated once per engine dialect from the same loop so the
    arithmetic is identical; everything is exact integer math, so
    cross-engine equality is trivial (no float anywhere)."""
    terms = []
    for i in range(bits):
        if spark:
            terms.append(f"shiftleft(shiftright({xexpr}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({yexpr}, {i}) & 1, {2 * i + 1})")
        else:
            # every term fully parenthesized: DuckDB/Postgres give
            # << and >> LOWER precedence than +, so an unwrapped
            # "a<<j + b<<k" chain parses as cascading shifts of sums
            terms.append(f"(((({xexpr}) >> {i}) & 1) << {2 * i})")
            terms.append(f"(((({yexpr}) >> {i}) & 1) << {2 * i + 1})")
    return "\n + ".join(terms)


# Raw dimension expressions. yh = hours since epoch, integer on both
# engines (events.ts is NTZ wall time; data is post-1970 so truncation
# direction can't differ).
_YH_SPARK = "timestampdiff(HOUR, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
_YH_DUCK = "CAST(floor(epoch(ts) / 3600) AS BIGINT)"

# Exact-integer min/max scaling to the full 16-bit range; greatest(...,1)
# guards the degenerate single-value dimension. The (value - min) * 65535
# intermediate is widened to 128-bit integer math — Spark DECIMAL(38,0)
# with `div`, DuckDB HUGEINT with `//`, verified to agree exactly
# (both truncate toward zero; operands are nonnegative so that IS the
# floor) — because a snowflake-scale id domain (range > ~1.4e14) would
# overflow the bigint multiply: ANSI Spark raises, non-ANSI Spark and
# a narrower oracle would silently wrap (ADVICE r6). NB: DuckDB's `//`
# on DECIMAL operands ROUNDS instead of flooring — HUGEINT, not
# DECIMAL, is the correct widening on that engine.
_XN_SPARK = (
    f"(((CAST(user_id AS DECIMAL(38,0)) - xmin) * {_Z_MAX})"
    " div greatest(CAST(xmax AS DECIMAL(38,0)) - xmin, 1))"
)
_YN_SPARK = (
    f"(((CAST(yh AS DECIMAL(38,0)) - ymin) * {_Z_MAX})"
    " div greatest(CAST(ymax AS DECIMAL(38,0)) - ymin, 1))"
)
_XN_DUCK = (
    f"(((CAST(user_id AS HUGEINT) - xmin) * {_Z_MAX})"
    " // greatest(CAST(xmax AS HUGEINT) - xmin, 1))"
)
_YN_DUCK = (
    f"(((CAST(yh AS HUGEINT) - ymin) * {_Z_MAX})"
    " // greatest(CAST(ymax AS HUGEINT) - ymin, 1))"
)


def _with_zval(events: DataFrame) -> DataFrame:
    """events + ``zval`` column (keeps all input columns)."""
    z = _interleave_terms(_XN_SPARK, _YN_SPARK, Z_BITS, spark=True)
    base = events.withColumn("yh", F.expr(f"CAST({_YH_SPARK} AS BIGINT)"))
    bounds = base.agg(
        F.min("user_id").alias("xmin"),
        F.max("user_id").alias("xmax"),
        F.min("yh").alias("ymin"),
        F.max("yh").alias("ymax"),
    )
    return (
        base.join(F.broadcast(bounds))
        .withColumn("zval", F.expr(f"CAST({z} AS BIGINT)"))
        .drop("yh", "xmin", "xmax", "ymin", "ymax")
    )


def zorder_key(events: DataFrame) -> DataFrame:
    """(event_id, user_id, zval) — the normalized Morton key over
    (user_id, event-hour). Pure JVM expressions; the only non-map step
    is the 1-row min/max aggregate broadcast."""
    return _with_zval(events).select("event_id", "user_id", "zval")


def zorder_oracle_sql() -> str:
    """DuckDB twin of :func:`zorder_key` over the events view."""
    z = _interleave_terms(_XN_DUCK, _YN_DUCK, Z_BITS, spark=False)
    return f"""
        WITH base AS (
            SELECT event_id, user_id, {_YH_DUCK} AS yh FROM events
        ), bounds AS (
            SELECT min(user_id) AS xmin, max(user_id) AS xmax,
                   min(yh) AS ymin, max(yh) AS ymax
            FROM base
        )
        SELECT event_id, user_id, CAST({z} AS BIGINT) AS zval
        FROM base CROSS JOIN bounds
        """


def write_zordered(events: DataFrame, path: str, n_files: int = 16) -> None:
    """Cluster the events table by the Morton key and write it:
    ``repartitionByRange`` computes range boundaries by sampling (one
    pass), giving ``n_files`` files whose z-ranges do not overlap;
    ``sortWithinPartitions`` orders rows inside each file so row-group
    min/max envelopes are tight too. The layout pass is one extra
    range exchange over the table — paid once at write, repaid on
    every 2-D range scan."""
    (
        _with_zval(events)
        .repartitionByRange(n_files, "zval")
        .sortWithinPartitions("zval")
        .drop("zval")
        .write.mode("overwrite")
        .parquet(path)
    )


# --- Hilbert-curve layout (round 9) ----------------------------------------
#
# Z-order's weakness is its seams: every power-of-two boundary the
# Morton key crosses is a long jump in key space, so file z-ranges
# near seams cover loose 2-D envelopes. The Hilbert curve is the
# locality-optimal space-filling alternative — consecutive keys are
# ALWAYS grid-adjacent (no jumps, property-tested), which tightens
# per-file bounding boxes and improves 2-D pruning on the same write
# path. The classic iterative xy2d walk (quadrant + rotate per bit
# level, 16 levels for the 16-bit normalized grid) is data-dependent
# per level, but each level is a branch-free integer CASE expression —
# so the whole transform unrolls into a 16-step chain of pure JVM
# projections on one side and a 16-CTE chain on the other, generated
# from the SAME per-level template (only the 128-bit normalization
# widening differs per engine, exactly as the Morton key documents).

_H_SIDE = 1 << Z_BITS  # 65536: the normalized grid side


def _hilbert_level_exprs(i: int) -> tuple[str, str, str]:
    """(hx', hy', hd') for bit level ``i`` in engine-neutral SQL (fully
    parenthesized; CASE/&/>> parse identically in Spark and DuckDB).
    Branch-free form of the standard xy2d step: quadrant
    q = (3·rx) XOR ry = 3rx + ry − 2·rx·ry, then rotate/reflect the
    frame when ry = 0."""
    s = 1 << i
    rx = f"((hx >> {i}) & 1)"
    ry = f"((hy >> {i}) & 1)"
    flip = _H_SIDE - 1
    new_x = (
        f"(CASE WHEN {ry} = 1 THEN hx"
        f" WHEN {rx} = 1 THEN {flip} - hy ELSE hy END)"
    )
    new_y = (
        f"(CASE WHEN {ry} = 1 THEN hy"
        f" WHEN {rx} = 1 THEN {flip} - hx ELSE hx END)"
    )
    new_d = (
        f"(hd + {s} * {s} * ((3 * {rx}) + {ry} - (2 * {rx} * {ry})))"
    )
    return new_x, new_y, new_d


def hilbert_key(events: DataFrame) -> DataFrame:
    """(event_id, user_id, hval) — the Hilbert-curve clustering key
    over the same normalized (user_id, event-hour) grid as
    :func:`zorder_key`. Normalization (and the 1-row min/max
    broadcast) stay JVM expressions; the 16-level xy2d walk runs as
    ONE vectorized Arrow map stage over (event_id, user_id, hx, hy).

    r18 shape change, value-identical (the oracle keeps the unrolled
    16-CTE chain from the same per-level template and the full-corpus
    differential is exact): the walk was 16 chained CASE projections,
    which Spark fuses into a single generated method big enough that
    HotSpot refuses to JIT it — measured super-linear per-level cost
    (8 levels 0.54 s, 12 levels 1.43 s, 16 levels 1.75 s at sf0.1)
    with the whole chain executing as interpreted bytecode. Spark
    exposes no codegen-stage split to fix that shape, so the walk
    moved across the Arrow boundary instead (guide's vectorized-UDF
    trade): four narrow int64 columns in, three out, branch-free
    numpy per level, measured 1.78 → 0.43 s. All int64 arithmetic —
    shifts/adds on values < 2^33 — so numpy and SQL agree bit-for-bit.
    Still one map stage + one broadcast; no shuffle."""
    base = events.withColumn("yh", F.expr(f"CAST({_YH_SPARK} AS BIGINT)"))
    bounds = base.agg(
        F.min("user_id").alias("xmin"),
        F.max("user_id").alias("xmax"),
        F.min("yh").alias("ymin"),
        F.max("yh").alias("ymax"),
    )
    df = base.join(F.broadcast(bounds)).selectExpr(
        "event_id",
        "user_id",
        f"CAST({_XN_SPARK} AS BIGINT) AS hx",
        f"CAST({_YN_SPARK} AS BIGINT) AS hy",
    )
    flip = _H_SIDE - 1
    nlev = Z_BITS

    # defined inline so cloudpickle serializes it BY VALUE (the
    # documented worker-import recipe — layout must work when the
    # driver did not start in the repo root)
    def _walk(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            hx = pdf["hx"].to_numpy(dtype="int64").copy()
            hy = pdf["hy"].to_numpy(dtype="int64").copy()
            hd = np.zeros(len(hx), dtype="int64")
            for i in range(nlev - 1, -1, -1):
                s = np.int64(1 << i)
                rx = (hx >> i) & 1
                ry = (hy >> i) & 1
                hd += s * s * (3 * rx + ry - 2 * rx * ry)
                nx = np.where(ry == 1, hx, np.where(rx == 1, flip - hy, hy))
                ny = np.where(ry == 1, hy, np.where(rx == 1, flip - hx, hx))
                hx, hy = nx, ny
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "user_id": pdf["user_id"],
                    "hval": hd,
                }
            )

    return df.mapInPandas(_walk, schema="event_id long, user_id long, hval long")


def hilbert_oracle_sql() -> str:
    """DuckDB twin of :func:`hilbert_key`: the identical unrolled
    per-level expressions as a CTE chain."""
    parts = [
        f"""WITH base AS (
            SELECT event_id, user_id, {_YH_DUCK} AS yh FROM events
        ), bounds AS (
            SELECT min(user_id) AS xmin, max(user_id) AS xmax,
                   min(yh) AS ymin, max(yh) AS ymax
            FROM base
        ), l{Z_BITS} AS (
            SELECT event_id, user_id,
                   CAST({_XN_DUCK} AS BIGINT) AS hx,
                   CAST({_YN_DUCK} AS BIGINT) AS hy,
                   CAST(0 AS BIGINT) AS hd
            FROM base CROSS JOIN bounds
        )"""
    ]
    for i in range(Z_BITS - 1, -1, -1):
        nx, ny, nd = _hilbert_level_exprs(i)
        parts.append(f""", l{i} AS (
            SELECT event_id, user_id,
                   {nx} AS hx, {ny} AS hy, {nd} AS hd
            FROM l{i + 1}
        )""")
    return (
        "".join(parts)
        + """
        SELECT event_id, user_id, hd AS hval FROM l0
        """
    )


def xy2d_hilbert(x: int, y: int, bits: int = Z_BITS) -> int:
    """Pure-Python reference xy2d (the classic iterative walk) — the
    independent replay the unit tests compare both engines against."""
    n = 1 << bits
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def register(reg) -> None:
    from kafka_topic_dumper_spark.sources.tables import load_table

    @reg("layout_zorder_events", zorder_oracle_sql())
    def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Normalized Morton (Z-order) clustering key over
        (user_id, event-hour) — integer-exact straight-line bit
        interleave; basis of the 2-D-pruning write layout."""
        return zorder_key(load_table(spark, sf_dir, "events"))

    @reg("layout_hilbert_events", hilbert_oracle_sql())
    def layout_hilbert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hilbert-curve clustering key over the same normalized
        (user_id, event-hour) grid — seam-free locality (consecutive
        keys always grid-adjacent, property-tested), 16 unrolled
        branch-free integer levels, bit-exact vs the identical DuckDB
        CTE chain."""
        return hilbert_key(load_table(spark, sf_dir, "events"))
