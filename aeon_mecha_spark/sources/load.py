"""Chunked raw-stream loading — the Spark re-expression of
``swc.aeon.io.api.load(root, reader, start, end)`` (SURVEY §1.2; usage
/root/reference/aeon/dj_pipeline/acquisition.py:603-622, 735-740).

Reference semantics re-expressed:

1. *File discovery* across priority-ordered roots: glob
   ``<root>/**/<pattern>_<chunk-ts>.<ext>``; when the same chunk file
   exists under several roots, the earliest root wins
   (acquisition.py:174-185 ``get_data_directories`` load_order).
2. *Chunk pruning*: only files whose 1-hour window intersects
   [start, end) are read — here a filename-timestamp filter computed
   driver-side on the listing (the analog of partition pruning; O(#files)
   metadata, no data I/O).
3. *Parse*: CSV chunks via the native Spark CSV scan (splittable, JVM);
   binary chunks via ``binaryFile`` + ``mapInPandas`` numpy decode.
4. *Exact trim*: a final ``time ∈ [start, end)`` filter — pushed down by
   Catalyst into the scan for CSV.

At 100 TB the same code applies: discovery is a listing job, pruning cuts
the file set by wall-clock window, and each chunk file is one task.
"""

from __future__ import annotations

import glob as globmod
import os
import re
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aeon_mecha_spark.functions.time import harp_to_timestamp
from aeon_mecha_spark.sources.readers import Reader, decode_binary

_CHUNK_TS_RE = re.compile(r"_(\d{4}-\d{2}-\d{2}T\d{2}-\d{2}-\d{2})\.")


def parse_chunk_ts(path: str) -> datetime | None:
    m = _CHUNK_TS_RE.search(os.path.basename(path))
    if not m:
        return None
    return datetime.strptime(m.group(1), "%Y-%m-%dT%H-%M-%S")


def _dedup_and_prune(
    found: list[tuple[int, str, str]],
    start: datetime | None,
    end: datetime | None,
) -> list[tuple[str, datetime]]:
    """Shared tail of both discovery paths: cross-root dedup (key =
    root-relative path, LOWEST root index wins — the priority-root
    load_order of acquisition.py:174-185), window pruning, and a
    deterministic (ts, rel) output order. ``found`` rows are
    (root_idx, rel_path, abs_path)."""
    best: dict[str, tuple[int, str]] = {}
    for idx, rel, p in found:
        cur = best.get(rel)
        if cur is None or idx < cur[0]:
            best[rel] = (idx, p)
    out = []
    for rel, (_idx, p) in best.items():
        ts = parse_chunk_ts(p)
        if ts is None:
            continue
        if start is not None and ts + timedelta(hours=1) <= start:
            continue
        if end is not None and ts >= end:
            continue
        out.append((p, ts, rel))
    out.sort(key=lambda x: (x[1], x[2]))
    return [(p, ts) for p, ts, _rel in out]


def discover_chunk_files(
    roots: str | list[str],
    reader: Reader,
    start: datetime | None = None,
    end: datetime | None = None,
    spark: SparkSession | None = None,
    distributed_threshold: int = 64,
) -> list[tuple[str, datetime]]:
    """S1 chunk-file discovery with priority-ordered roots and window
    pruning. A chunk file covers [chunk_ts, chunk_ts + 1 h).

    The recursive walk is the part that breaks at scale: a raw-data
    tree holds one epoch directory per session and ~10⁷ chunk files,
    and a driver-side glob serializes every readdir onto one core
    (SCALE.md "known local-vs-cluster deltas", retired round 11). When
    ``spark`` is provided and the tree has more than
    ``distributed_threshold`` first-level directories, the walk runs as
    a Spark job instead — one task per epoch directory, exactly the
    parallel listing Spark's own InMemoryFileIndex performs past its
    parallelPartitionDiscovery threshold. The returned LIST is still
    driver-held either way (it feeds ``spark.read``, which takes paths;
    Spark's file index holds the same O(#files) statuses), so the
    driver cost is one string per file, not one filesystem call per
    directory. Output is identical between the two paths (test-pinned):
    dedup/prune/order live in the shared ``_dedup_and_prune``.
    """
    if isinstance(roots, str):
        roots = [roots]
    pattern = f"*{reader.pattern}*.{reader.extension}"

    # task list: (root_idx, dir, recursive) — files directly under the
    # root plus one recursive task per first-level directory
    tasks: list[tuple[int, str, bool]] = []
    for i, root in enumerate(roots):
        tasks.append((i, root, False))
        try:
            names = sorted(os.listdir(root))
        except OSError:
            continue
        for name in names:
            # glob('**') never matches hidden entries, so the pre-r11
            # driver glob skipped dot-directories (.snapshot, .Trash,
            # .ipynb_checkpoints). An NFS .snapshot mirror holds copies
            # of the same chunks under a different root-relative path,
            # which rel-path dedup cannot collapse — skip them here to
            # keep the distributed walk glob-identical.
            if name.startswith("."):
                continue
            p = os.path.join(root, name)
            if os.path.isdir(p):
                tasks.append((i, p, True))

    def _walk(task: tuple[int, str, bool]) -> list[tuple[int, str, str]]:
        idx, d, rec = task
        root = roots[idx]
        if rec:
            paths = globmod.glob(os.path.join(d, "**", pattern), recursive=True)
        else:
            paths = globmod.glob(os.path.join(d, pattern))
        return [(idx, os.path.relpath(p, root), p) for p in paths]

    if spark is not None and len(tasks) > distributed_threshold:
        sc = spark.sparkContext
        found = (
            sc.parallelize(tasks, len(tasks)).flatMap(_walk).collect()
        )
    else:
        found = [hit for task in tasks for hit in _walk(task)]
    return _dedup_and_prune(found, start, end)


def load(
    spark: SparkSession,
    roots: str | list[str],
    reader: Reader,
    start: datetime | None = None,
    end: datetime | None = None,
) -> DataFrame:
    """``load(root, reader, start, end)`` → DataFrame sorted by time /
    sample order, exact-trimmed to [start, end)."""
    files = discover_chunk_files(roots, reader, start, end, spark=spark)
    if not files:
        empty_schema = reader.spark_schema
        if reader.kind != "harp_csv":
            empty_schema += ", chunk_file string"  # match the non-empty shape
        return spark.createDataFrame([], schema=empty_schema)
    paths = [p for p, _ in files]

    if reader.kind == "harp_csv":
        raw_cols = ["aeon_time", *reader.columns]
        schema = ", ".join(
            f"`{c}` double" for c in raw_cols
        )
        df = spark.read.csv(paths, schema=schema, header=True)
        df = df.select(
            harp_to_timestamp(F.col("aeon_time")).alias("time"),
            *[F.col(c) for c in reader.columns],
        )
    else:
        binf = spark.read.format("binaryFile").load(paths)
        rdr = reader

        def decode(batches):
            import pandas as pd

            for pdf in batches:
                for _, row in pdf.iterrows():
                    out = decode_binary(rdr, row["content"])
                    out.insert(0, "_file", row["path"])
                    yield out

        schema = "_file string, " + rdr.spark_schema
        df = binf.select("path", "content").mapInPandas(decode, schema=schema)
        df = df.withColumn("chunk_file", F.element_at(F.split(F.col("_file"), "/"), -1)).drop("_file")

    if start is not None and reader.kind == "harp_csv":
        df = df.filter(F.col("time") >= F.lit(start))
    if end is not None and reader.kind == "harp_csv":
        df = df.filter(F.col("time") < F.lit(end))
    order = "time" if reader.kind == "harp_csv" else ["chunk_file", "sample_idx"]
    return df.orderBy(order) if isinstance(order, str) else df.orderBy(*order)


def stream_view(
    table: DataFrame,
    experiment: str | None = None,
    device: str | None = None,
    start=None,
    end=None,
    time_col: str = "time",
) -> DataFrame:
    """The ``<aeon_stream>`` codec re-expressed as a view (S15/S16,
    codec.py:18-190): 'decoding' a stored stream reference is just a
    predicate-pushed scan of the stream table — no second query system."""
    df = table
    if experiment is not None:
        df = df.filter(F.col("experiment_name") == experiment)
    if device is not None:
        df = df.filter(F.col("device_name") == device)
    if start is not None:
        df = df.filter(F.col(time_col) >= F.lit(start))
    if end is not None:
        df = df.filter(F.col(time_col) < F.lit(end))
    return df
