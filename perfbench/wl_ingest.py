"""The ingest phase: raw chunk files -> stream tables -> chunk/epoch facts
-> per-chunk summaries and an hourly rollup, then freshness cycles: land
one new hour per device, re-ingest its ``chunk_date`` partition, populate
only the new keys, refresh the rollup and read the hour back.

Checks compare every per-chunk summary, the hourly rollup, stream row
counts and each read-back hour against numpy over the generated samples.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import gen
from common import Ctx, day_bounds, dir_bytes, rows_match
from aeon_mecha_spark.pipeline import ingest
from aeon_mecha_spark.pipeline.continuous import ContinuousAggregate
from aeon_mecha_spark.pipeline.orchestrator import ComputedTable, Table, Tier
from aeon_mecha_spark.sources import load as L
from aeon_mecha_spark.sources.readers import REGISTRY, decode_binary

# table name -> (reader, stream name, devices, value columns, binary period ms)
STREAMS = {
    "encoder": (REGISTRY["encoder"], "Encoder", ("Patch1", "Patch2"), ("angle", "intensity"), None),
    "harp_sync": (REGISTRY["harp_sync"], "HarpSync", ("ClockSynchronizer",), ("clock", "hub_clock", "harp_time"), None),
    "amplifier": (REGISTRY["amplifier"], "AmplifierData", ("Probe",), ("ch0", "ch1", "ch2", "ch3"), gen.BIN_STREAM[3]),
}
INGESTED = ("encoder", "amplifier")  # what the ingest workload lands
SUMMARIZED = ("encoder",)
KEYS = ["experiment_name", "device_name", "stream_name"]
PK = [*KEYS, "chunk_start"]
_CHUNK_TS = r"_(\d{4}-\d{2}-\d{2}T\d{2}-\d{2}-\d{2})\."


def _stream_df(ctx: Ctx, tree: gen.RawTree, name: str, start=None, end=None):
    """One stream's DataFrame over every device: ``sources.load`` per
    device (its epoch directories are the priority roots), tagged with
    the experiment/device/stream keys."""
    reader, stream, devices, cols, period = STREAMS[name]
    parts = []
    for dev in devices:
        roots = [os.path.join(tree.exp_root, gen.ts_name(e), dev) for e in tree.epochs]
        df = L.load(ctx.spark, [r for r in roots if os.path.isdir(r)], reader, start, end)
        if period is not None:
            # flat binary carries no clock: sample time = chunk start + idx · period
            chunk_us = F.unix_micros(F.to_timestamp(F.regexp_extract("chunk_file", _CHUNK_TS, 1),
                                                    "yyyy-MM-dd'T'HH-mm-ss"))
            df = df.withColumn("time", F.timestamp_micros(chunk_us + F.col("sample_idx") * (period * 1000)))
        parts.append(df.select(F.lit(gen.EXPERIMENT).alias("experiment_name"), F.lit(dev).alias("device_name"),
                               F.lit(stream).alias("stream_name"), "time", *cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_streams(ctx: Ctx, tree: gen.RawTree, wh: str, names, start=None, end=None) -> list[str]:
    """discover -> load -> write_stream_table per stream; returns the
    chunk files selected (the listing the facts are parsed from)."""
    listed = []
    for name in names:
        reader, stream, devices = STREAMS[name][:3]
        with ctx.span("sources.discover"):
            t0 = time.perf_counter()
            files = L.discover_chunk_files(tree.exp_root, reader, start, end, spark=ctx.spark)
            ctx.add("sources.discover_s", time.perf_counter() - t0)
        # the base of the prune ratio: the stream's chunk files on disk
        prefixes = tuple(f"{d}_{stream}_" for d in devices)
        ctx.add("sources.files_on_disk", sum(os.path.basename(p).startswith(prefixes) for p in tree.files))
        ctx.add("sources.files_listed", len(files))
        listed.extend(p for p, _ts in files)
        with ctx.span("sources.load"):
            t0 = time.perf_counter()
            df = _stream_df(ctx, tree, name, start, end)
            if ctx.tracer.enabled:  # the traced run materialises the scan to count it
                ctx.add("sources.rows_read", df.count())
            ctx.add("sources.load_s", time.perf_counter() - t0)
        with ctx.op("pipeline.write_stream_table", "pipeline.write_s"):
            ingest.write_stream_table(df, wh, f"{name}_stream")
    return listed


def _summary_table(wh: str, name: str) -> ComputedTable:
    cols = list(STREAMS[name][3])
    stream = STREAMS[name][1]
    chunks = Table("chunk", pk=PK, root=wh, tier=Tier.IMPORTED)
    path = os.path.join(wh, f"{name}_stream")
    return ComputedTable(
        table=Table(f"{name}_summary", pk=PK, root=wh, tier=Tier.COMPUTED),
        key_source=lambda s: chunks.read(s).filter(F.col("stream_name") == stream).select(*PK),
        make=lambda s, pend: ingest.stream_summary(s.read.parquet(path), cols, keys=KEYS).join(pend, PK, "left_semi"),
    )


def _rollup(wh: str) -> ContinuousAggregate:
    path = os.path.join(wh, "encoder_stream")
    return ContinuousAggregate(
        source=lambda s: s.read.parquet(path),
        ts_col="time",
        dims=["device_name"],
        agg_factory=lambda: [F.count(F.lit(1)).alias("n"),
                             F.sum(F.col("angle").cast("decimal(18,3)")).alias("angle_sum")],
        table=Table("encoder_hourly", pk=["bucket", "device_name"], root=wh, tier=Tier.COMPUTED),
    )


def _facts(ctx: Ctx, wh: str, listed: list[str]) -> None:
    listing = ctx.spark.createDataFrame([(p,) for p in sorted(listed)], "file_path string")
    with ctx.op("pipeline.insert_chunks", "pipeline.insert_s"):
        facts = ingest.ingestion_facts(listing).select(*PK, "chunk_end", "epoch_start", "file_path")
        Table("chunk", pk=PK, root=wh, tier=Tier.IMPORTED).insert(facts)
    with ctx.op("pipeline.insert_epochs", "pipeline.insert_s"):
        Table("epoch", pk=["experiment_name", "epoch_start"], root=wh, tier=Tier.IMPORTED).insert(
            ingest.epoch_table(listing))


def _populate(ctx: Ctx, wh: str, op: str, key: str) -> int:
    total = 0
    for name in SUMMARIZED:
        with ctx.op(op, key):
            total += _summary_table(wh, name).populate(ctx.spark)
    return total


def initial(ctx: Ctx, tree: gen.RawTree, wh: str) -> dict:
    """Full ingest of the tree into an empty warehouse."""
    t0 = time.perf_counter()
    listed = write_streams(ctx, tree, wh, INGESTED)
    _facts(ctx, wh, listed)
    inserted = _populate(ctx, wh, "pipeline.populate", "pipeline.populate_s")
    with ctx.op("pipeline.refresh", "pipeline.refresh_s"):
        _rollup(wh).refresh(ctx.spark)
    ingest_s = time.perf_counter() - t0
    written, nfiles = _stream_bytes(wh)
    ctx.add("pipeline.bytes_written", written)
    ctx.add("pipeline.files_written", nfiles)
    ctx.add("sources.input_bytes", tree.input_bytes)
    ctx.add("pipeline.rows_inserted", inserted)
    ctx.check("ingest.populate_keys", inserted == _n_keys(tree), f"{inserted} vs {_n_keys(tree)}")
    with ctx.op("pipeline.populate", "pipeline.noop_populate_s"):
        noop = sum(_summary_table(wh, n).populate(ctx.spark) for n in SUMMARIZED)
    ctx.check("ingest.noop_populate", noop == 0, f"{noop} rows inserted by a repeated populate")
    return {"rows": _n_rows(tree), "seconds": ingest_s, "bytes_written": written, "raw_bytes": tree.input_bytes}


def freshness(ctx: Ctx, tree: gen.RawTree, wh: str, cycle: int) -> dict:
    """Land one hour per device on a day of its own (untimed), then time
    until it is summarised, rolled up and read back. Every cycle
    re-ingests one one-hour ``chunk_date`` partition, so cycles cost the
    same however many run."""
    rows_before = _n_rows(tree)
    hour, _files = gen.land_hour(tree, ctx.seed, cycle)
    t_land = time.perf_counter()
    start, end = day_bounds(hour)
    listed = write_streams(ctx, tree, wh, INGESTED, start=start, end=end)
    _facts(ctx, wh, listed)
    if ctx.tracer.enabled:
        with ctx.span("pipeline.pending"):
            ctx.add("pipeline.pending_keys", sum(_summary_table(wh, n).pending(ctx.spark).count() for n in SUMMARIZED))
    new = _populate(ctx, wh, "pipeline.fresh_populate", "pipeline.fresh_populate_s")
    with ctx.op("pipeline.refresh", "pipeline.refresh_s"):
        _rollup(wh).refresh(ctx.spark)
    with ctx.op("pipeline.fetch_stream"):
        back = ingest.fetch_stream(ctx.spark, os.path.join(wh, "encoder_stream"), hour, hour + dt.timedelta(hours=1))
        got = [tuple(r) for r in back.groupBy("device_name").agg(
            F.count(F.lit(1)), F.sum(F.col("angle").cast("decimal(18,3)")),
            F.min(F.unix_micros("time")), F.max(F.unix_micros("time"))).collect()]
    fresh_s = time.perf_counter() - t_land
    ctx.add("pipeline.rows_inserted_fresh", new)
    ctx.check("ingest.fresh_keys", new == sum(len(STREAMS[n][2]) for n in SUMMARIZED), str(new))
    ok, why = rows_match([(r[0], r[1], float(r[2]), r[3], r[4]) for r in got], _expected_hour(tree, hour))
    ctx.check("ingest.fetch_new_hour", ok, why)
    return {"rows": _n_rows(tree) - rows_before, "seconds": fresh_s}


def decode_binary_timing(ctx: Ctx, tree: gen.RawTree) -> None:
    """Time the binary decoder on every flat-binary chunk, in-process."""
    reader = STREAMS["amplifier"][0]
    n = 0
    with ctx.span("sources.decode_binary"):
        t0 = time.perf_counter()
        for p in tree.files:
            if p.endswith(".bin"):
                with open(p, "rb") as fh:
                    n += len(decode_binary(reader, fh.read()))
        ctx.add("sources.decode_binary_s", time.perf_counter() - t0)
    ctx.check("ingest.decode_binary_rows", n == len(tree.samples[("Probe", "AmplifierData")]["time_ms"]), str(n))


def check_tables(ctx: Ctx, tree: gen.RawTree, wh: str) -> None:
    """Summaries, rollup and stream row counts against numpy."""
    spark = ctx.spark
    for name in SUMMARIZED:
        sel = ["device_name", F.unix_micros("chunk_start"), "sample_count"]
        for c in STREAMS[name][3]:
            sel += [f"{c}_count", f"{c}_min", f"{c}_max", f"{c}_mean"]
        got = [tuple(r) for r in spark.read.parquet(os.path.join(wh, f"{name}_summary")).select(*sel).collect()]
        ok, why = rows_match(got, _expected_summary(tree, name), abs_=1e-4)
        ctx.check(f"ingest.{name}_summary", ok, why)
    for name in INGESTED:
        _r, stream, devices, _c, _p = STREAMS[name]
        n = spark.read.parquet(os.path.join(wh, f"{name}_stream")).count()
        want = sum(len(tree.samples[(d, stream)]["time_ms"]) for d in devices)
        ctx.check(f"ingest.{name}_rows", n == want, f"{n} vs {want}")
    want = []
    for dev in STREAMS["encoder"][2]:
        s = tree.samples[(dev, "Encoder")]
        hours = _hour_us(s["time_ms"])
        for h in np.unique(hours):
            m = hours == h
            want.append((int(h), dev, int(m.sum()), int(s["angle"][m].sum()) / 1000.0))
    got = [(r[0], r[1], r[2], float(r[3])) for r in spark.read.parquet(os.path.join(wh, "encoder_hourly")).select(
        F.unix_micros("bucket"), "device_name", "n", "angle_sum").collect()]
    ok, why = rows_match(got, want)
    ctx.check("ingest.hourly_rollup", ok, why)


# -- reference ---------------------------------------------------------------

def _hour_us(t_ms: np.ndarray) -> np.ndarray:
    return (t_ms // 3_600_000) * 3_600_000_000


def _n_rows(tree: gen.RawTree) -> int:
    return sum(len(tree.samples[(d, STREAMS[n][1])]["time_ms"]) for n in INGESTED for d in STREAMS[n][2])


def _n_keys(tree: gen.RawTree) -> int:
    return sum(len(_expected_summary(tree, n)) for n in SUMMARIZED)


def _expected_summary(tree: gen.RawTree, name: str) -> list[tuple]:
    """(device, chunk_start µs, sample_count, per-col count/min/max/mean)."""
    _reader, stream, devices, cols, _p = STREAMS[name]
    out = []
    for dev in devices:
        s = tree.samples[(dev, stream)]
        hours = _hour_us(s["time_ms"])
        for h in np.unique(hours):
            m = hours == h
            row = [dev, int(h), int(m.sum())]
            for c in cols:
                v = s[c][m]
                mean = round(float(int(v.sum())) / 1000.0 / float(len(v)), 4)
                row += [int(len(v)), float(v.min()) / 1000.0, float(v.max()) / 1000.0, mean]
            out.append(tuple(row))
    return out


def _expected_hour(tree: gen.RawTree, hour: dt.datetime) -> list[tuple]:
    h_us = int(hour.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    out = []
    for dev in STREAMS["encoder"][2]:
        s = tree.samples[(dev, "Encoder")]
        m = _hour_us(s["time_ms"]) == h_us
        t = s["time_ms"][m]
        out.append((dev, int(m.sum()), int(s["angle"][m].sum()) / 1000.0, int(t.min()) * 1000, int(t.max()) * 1000))
    return out


def _stream_bytes(wh: str) -> tuple[int, int]:
    sizes = [dir_bytes(os.path.join(wh, f"{n}_stream")) for n in INGESTED]
    return sum(b for b, _n in sizes), sum(n for _b, n in sizes)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path
