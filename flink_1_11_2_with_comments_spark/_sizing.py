"""Optimizer-statistics sizing guards for scale-adaptive plan shapes.

Several operators pick their parallelism from the INPUT's size rather
than from session defaults (guide §2.2 "fewer, larger partitions" /
§2 scale-adaptive partitioning): the connected-components loop width,
the PCA Gram-pass widen, the LSH signature persist, the post-dedup
feature-pass repartition. They all need the same two ingredients:

- ``est_bytes``: the Catalyst optimizer's size estimate for a
  DataFrame — free (no job; ``.rdd.getNumPartitions()`` would
  materialize AQE query stages, measured +1s/call) but only
  meaningful when the plan is backed by file statistics. RDD-backed
  plans (createDataFrame, localCheckpoint) report the
  defaultSizeInBytes sentinel (Long.MaxValue).
- ``_UNKNOWN_STATS``: the threshold above which an estimate is that
  sentinel, not a measurement. Deriving a width from the sentinel
  once pinned a 200k-task loop onto an 11-row graph (r14's inherited
  CC defect) — every consumer must treat >= _UNKNOWN_STATS as
  "unknown, leave the plan alone".

``widen_if_underparallel`` packages the common decision: repartition
a provably-small scan to core width so explosive per-row work
(shingle passes, outer-product fanouts, interpreted decimal folds)
parallelizes, and leave anything big — or of unknown size — alone so
the 100 TB plan keeps its scan-derived width and zero extra shuffle.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Optimizer size estimates at or above this are the unknown-stats
# sentinel (defaultSizeInBytes = Long.MaxValue, sometimes scaled down
# by filter selectivity but still astronomically large), not a real
# measurement.
_UNKNOWN_STATS = 1 << 50


def est_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate for ``df``'s plan, in bytes;
    ``_UNKNOWN_STATS`` when the estimate is the unknown sentinel or
    the private API is unavailable (the py4j result is wrapped in
    ``int()`` — it arrives as a BigInteger-backed object on some
    Spark/py4j versions)."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats()
                  .sizeInBytes())
    except Exception:
        return _UNKNOWN_STATS
    return min(est, _UNKNOWN_STATS)


# A Join operator line of a logical plan's treeString.
_JOIN_NODE = re.compile(r"^[\s:|+-]*Join ", re.M)


def est_input_bytes(df: DataFrame) -> int:
    """``est_bytes``, but ``_UNKNOWN_STATS`` when the plan joins.
    Without CBO Catalyst sizes a join as the PRODUCT of its children's
    sizes, so that number says nothing about the rows it yields: the
    few hundred MinHash candidate edges of a 250-doc corpus estimate
    at ~10 TB, and a width derived from that is a 160k-task loop. For
    sizing work by the bytes it reads, a joined plan is unknown."""
    est = est_bytes(df)
    if est < _UNKNOWN_STATS and _JOIN_NODE.search(
            df._jdf.queryExecution().optimizedPlan().treeString()):
        return _UNKNOWN_STATS
    return est


def loop_width(df: DataFrame) -> int | None:
    """Partition count for a driver loop over ``df``, from input stats
    rather than the session shuffle width: about one partition per
    64 MB of ``est_input_bytes`` (at least 1, at most 200k), so a
    small loop input runs narrow. None when the size is unknown (the
    sentinel, or a joined plan): the caller keeps a by-column
    repartition, which AQE can coalesce."""
    est = est_input_bytes(df)
    if est >= _UNKNOWN_STATS:
        return None
    return max(1, min(2 * est // (128 << 20) + 1, 200_000))


def is_provably_small(df: DataFrame, per_core_bytes: int = 128 << 20) -> bool:
    """True when the optimizer KNOWS ``df`` underfills the cluster
    (estimate < cores x one default scan split) — the guard condition
    under which an extra small shuffle is trivially cheap. Unknown
    stats are NOT small: every consumer must default to the
    scale-safe plan shape."""
    est = est_bytes(df)
    if est >= _UNKNOWN_STATS:
        return False
    cores = df.sparkSession.sparkContext.defaultParallelism
    return est < cores * per_core_bytes


def widen_if_underparallel(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition ``df`` to core width when the optimizer's size
    estimate says the scan underfills the cluster; otherwise (big
    input, or unknown stats) return it untouched.

    Byte-based scan partitioning undersizes parallelism for per-row
    work that is much heavier than the bytes suggest: a bench-scale
    documents/embeddings table is ONE 128 MB-rule scan split, so a
    shingle pass or a D^2 outer-product explode runs single-threaded
    on a 32-core machine (measured 3.9 -> 0.7s for the PCA Gram pass,
    4.9 -> 1.2s for the source-overlap shingles). The widen only
    fires when the added shuffle is at most one scan-round of small
    input; at real scale the scan is already thousands of partitions
    wide and the plan is untouched. A keyed repartition keeps the
    widen deterministic per row; keyless round-robin is for callers
    whose downstream doesn't care about co-location."""
    if not is_provably_small(df):
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    if key is None:
        return df.repartition(cores)
    return df.repartition(cores, F.col(key))
