"""Small plan-shaping helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame


def track_cached(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Attach the persisted intermediates a library function created to
    the DataFrame it returns, so callers can release them explicitly.

    Library operators (``ivf_knn``, ``substring_duplicate_spans``, …)
    persist multi-consumer intermediates for speed; only the CALLER
    knows when the result has been fully consumed, so eager try/finally
    unpersist inside the function would silently disable the cache.
    Instead the handles ride along on the result — call
    :func:`release_cached` (or ``spark.catalog.clearCache()``) once
    done, and long-lived sessions never accumulate cached blocks.
    """
    existing = list(getattr(result, "_aeon_cached", ()))
    result._aeon_cached = existing + list(cached)
    return result


def release_cached(result: DataFrame) -> None:
    """Unpersist every intermediate :func:`track_cached` attached to
    ``result`` (no-op for untracked DataFrames). Call after the result
    has been consumed (collected / written); consuming it again simply
    recomputes without the cache — EXCEPT lazily-checkpointed
    intermediates (:class:`LocalCheckpointHandle`), whose lineage is
    truncated: release those only once the result is final."""
    for df in getattr(result, "_aeon_cached", ()):
        df.unpersist()
    result._aeon_cached = []


class LocalCheckpointHandle:
    """Release handle for a lazily ``localCheckpoint``-ed DataFrame.

    Checkpoint blocks are RDD-level storage: ``DataFrame.unpersist``
    and ``spark.catalog.clearCache()`` cannot see them (they release
    cache-manager entries only), and the ContextCleaner frees them only
    when the JVM-side plan object becomes unreachable — measured (r14)
    to pin executor storage for the whole session under py4j reference
    patterns. This shim reaches the underlying RDD through the
    ``LogicalRDD`` node so :func:`release_cached` can free the blocks
    explicitly. After release the checkpointed frame CANNOT be
    recomputed (lineage truncated) — release only once the result has
    been fully consumed."""

    def __init__(self, cp_df: DataFrame):
        self._df = cp_df
        self.is_cached = True  # mirrors DataFrame.is_cached for callers

    def unpersist(self, blocking: bool = False) -> None:
        try:
            self._df._jdf.queryExecution().logical().rdd().unpersist(
                bool(blocking)
            )
            self.is_cached = False
        except Exception:
            # internal accessor: a failed release only pins storage
            # until session end (the pre-r14 behavior), never corrupts
            pass


# logical-plan node names that PROVABLY cannot increase row count over
# their children — a WHITELIST (unknown nodes disqualify), so
# narrow_scan_bytes stays sound as new operators appear. Join, Generate
# (explode), Expand (rollup/grouping sets), mapInPandas/FlatMap and
# InMemoryRelation/LogicalRDD (opaque upstream) are deliberately absent;
# so is Union, because DataFrame.inputFiles() DEDUPES file paths and a
# self-union would undercount its bytes 2x, and so is Sample, because
# sampling WITH replacement at fraction > 1 repeats rows. Every allowed
# node is unary, so a passing plan has exactly one leaf scan and the
# byte count is exact.
_ROW_BOUNDED = frozenset(
    (
        "Relation", "Project", "Filter", "Aggregate", "Sort", "Window",
        "Deduplicate", "Distinct", "GlobalLimit", "LocalLimit", "Limit",
        "Repartition", "RepartitionByExpression", "SubqueryAlias",
        "WithColumns", "WithColumnsRenamed",
    )
)


def narrow_scan_bytes(df: DataFrame) -> int | None:
    """Upper-bound evidence that ``df`` is SMALL, from the driver's file
    listing alone (no Spark job, no action): when every logical-plan
    node is row-bounded (whitelist above — each output row traces to at
    least one scanned row) and every leaf is a local file scan, the
    total scanned bytes bound the work any single-task plan over ``df``
    can see. Returns those bytes, or None when nothing can be proven
    (joins/explodes/cached inputs/remote files/empty listing).

    This is the guide-§2 "derive from input size" hook the grain
    operators use to pick a fixed-cost small plan at bench scale and
    the partitioned plan at 100 TB — a BYTES threshold, not a core
    count, so the decision flips with the data, not the cluster.
    """
    import re

    try:
        # the ANALYZED plan, for two reasons: the analyzer rewrites
        # explode-in-select from a Project expression into a Generate
        # node (the raw plan would hide it from the whitelist), and —
        # unlike Dataset.inputFiles(), which reads the OPTIMIZED plan —
        # it predates cache-manager substitution, so a persisted
        # matching subtree cannot silently swallow the file relation
        # (inputFiles() returns [] in that case, and whether it does
        # depends on when the lazy queryExecution was first forced)
        jplan = df._jdf.queryExecution().analyzed()
        plan = jplan.toString()
        for line in plan.splitlines():
            # a line the regex cannot name is an unknown node too
            m = re.match(r"^[\s:+|-]*'?([A-Za-z]+)", line)
            if not m or m.group(1) not in _ROW_BOUNDED:
                return None
        leaves = jplan.collectLeaves()
        total = 0
        for i in range(leaves.size()):
            # LogicalRelation over HadoopFsRelation: the FileIndex's
            # sizeInBytes is the sum of the listed files' lengths —
            # exactly the scanned-bytes bound (any other leaf shape
            # raises and falls through to None)
            total += leaves.apply(i).relation().location().sizeInBytes()
    except Exception:
        return None
    return total if total > 0 else None


# logical-plan node names that mean "partitioning no longer follows the
# scan" — for these spread() falls back to asking the planned RDD
_NON_NARROW = (
    "Join", "Aggregate", "Window", "Repartition", "Sort", "Deduplicate",
    "Distinct", "GlobalLimit", "LocalLimit", "InMemoryRelation",
)


def _scan_partitions_estimate(df: DataFrame, target: int) -> int | None:
    """Replicate Spark's file-split arithmetic (FilePartition.maxSplitBytes:
    ``maxSplit = min(maxPartitionBytes, max(openCostInBytes,
    (Σsize + n·openCost) / minPartitionNum))``) from the scan's file
    listing, WITHOUT running physical planning. Returns None when the
    plan is not narrow-over-file-scan (join/agg/window/cached upstream,
    or no file source), in which case the caller uses the exact path.
    """
    try:
        plan = df._jdf.queryExecution().logical().toString()
        if any(n in plan for n in _NON_NARROW):
            return None
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    import os
    from urllib.parse import urlparse

    def _bytes_conf(key: str, dflt: int) -> int | None:
        raw = df.sparkSession.conf.get(key, str(dflt)).strip().lower()
        mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
        try:
            if raw.endswith("b"):
                raw = raw[:-1]
            if raw and raw[-1] in mult:
                return int(raw[:-1]) * mult[raw[-1]]
            return int(raw)
        except ValueError:
            return None

    max_pb = _bytes_conf("spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
    open_cost = _bytes_conf("spark.sql.files.openCostInBytes", 4 * 1024 * 1024)
    if max_pb is None or open_cost is None:
        return None
    total = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return None  # remote stat: let the exact path decide
        try:
            total += os.path.getsize(u.path)
        except OSError:
            return None
    padded = total + open_cost * len(files)
    max_split = min(max_pb, max(open_cost, padded // max(target, 1) or 1))
    return -(-padded // max_split)  # ceil


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Ensure at least cluster-parallelism partitions before CPU-heavy
    per-row work (regex, hashing, explode).

    A small parquet file scans as ONE partition, serializing everything
    downstream onto one core; at 100 TB the scan is naturally parallel
    and this is a no-op (we only repartition *up*). The round-robin
    shuffle of the raw input is far cheaper than losing N-1 cores on
    the compute stage.

    r13: the partition count is derived from the scan's file listing
    (Spark's own split formula) instead of ``df.rdd`` — planning the
    standalone RDD cost 0.2-1.3 s of DRIVER time per call (46 call
    sites across the datapipe operators; the repartition decision is
    identical, and non-narrow/non-file plans still take the exact
    ``.rdd`` path).
    """
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    est = _scan_partitions_estimate(df, target)
    if est is None:
        est = df.rdd.getNumPartitions()
    if est < target:
        return df.repartition(target)
    return df
