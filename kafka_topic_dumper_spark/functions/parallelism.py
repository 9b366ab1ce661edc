"""Scale-adaptive input spreading for CPU-heavy map stages.

The bytes-vs-work mismatch at the SCAN (r18, guide §2.5): Spark sizes
file splits by BYTES (maxPartitionBytes / openCostInBytes), so every
bench-scale parquet input (a few MB) arrives as ONE split, and every
CPU-heavy map stage above the plan's first Exchange (per-token md5
resurfacing, q-gram explode+hash, shingle hashing, the from-scratch
image/audio codecs inside mapInPandas) ran on ONE core of local[32].
Measured at sf0.1: editdist gram counts 5.9 → 1.1 s,
ngram_jaccard 2.2 → 1.3 s, decode_mjpeg 3.3 → 1.0 s,
decode_gif 2.5 → 0.9 s from this one fix.

:func:`spread_input` repartitions to core count ONLY when the input is
narrower than the machine. It is a no-op at deployment scale — a
100 TB corpus arrives in thousands of splits — and on inputs that are
already post-shuffle, so it never adds a corpus-scale shuffle where
parallelism already exists. Round-robin keys (no hash column needed);
all consumers are per-row transforms or key-shuffled aggregations, so
partition placement never reaches any result.

Known blind spot (documented, r18 advice): the width probe reads the
NON-AQE physical partition count. A post-shuffle input reports
``spark.sql.shuffle.partitions`` even when AQE would coalesce it to 1
at runtime, so such an input would silently skip the spread. Every
call site in this repo passes a scan-rooted relation (raw table or a
narrow projection of one), where the probe is exact; a new call site
feeding a post-shuffle relation should spread explicitly instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Probe memo (r18 advice): ``df.rdd.getNumPartitions()`` triggers full
# physical planning (and, first time, file listing) on the driver at
# every plan-construction call. The width of a given (session, plan)
# pair cannot change while the session lives — parquet inputs are
# immutable within a run and the split math is config-bound — so the
# decision is cached on (applicationId, semanticHash(plan), cores).
# semanticHash only canonicalizes the analyzed plan (no physical
# planning); a hash collision could at worst reuse the other plan's
# spread DECISION — a partitioning choice, never a result change.
_PROBE_MEMO: dict[tuple[str, int, int], bool] = {}
_PROBE_MEMO_CAP = 4096  # bench/test sessions construct thousands of plans


def spread_input(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` iff it currently
    has fewer partitions than that (see module docstring)."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    key = (sc.applicationId, df.semanticHash(), n)
    narrow = _PROBE_MEMO.get(key)
    if narrow is None:
        narrow = df.rdd.getNumPartitions() < n
        if len(_PROBE_MEMO) >= _PROBE_MEMO_CAP:
            del _PROBE_MEMO[next(iter(_PROBE_MEMO))]  # the oldest entry
        _PROBE_MEMO[key] = narrow
    return df.repartition(n) if narrow else df
