"""Inputs, set-up and measured phase of each workload, and the metrics
they yield."""

from __future__ import annotations

import os
import statistics
import time

import gen
import stats
import wl_datapipe
import wl_ingest
import wl_interactive
from common import Ctx
from spans import SPARK_COUNTS, attribute, read_event_logs, self_times

LAYERS = ("session", "sources", "pipeline", "query", "operators", "datapipe")
# input sizes
RAW_HOURS = (2, 1)          # ingest tree: hours per epoch
RAW_STREAMS = ("Encoder", "AmplifierData")
STREAM_HOURS = (1, 1)       # stream tables the interactive templates read
STREAM_STREAMS = ("Encoder", "HarpSync")
N_ORDERS = 15_000
N_DOCS = 600
# set-ups per run: the first launches the JVM and is setup_s; the rest
# restart the SparkContext in the warm JVM and are reported in the detail
# line only
SETUPS = 3
# freshness cycles per ingest run: at least this many, more while
# --seconds last; each re-ingests a one-hour partition, so they cost alike
FRESH_CYCLES = 3


def generate(work: str, seed: int, workload: str) -> dict:
    """Write the workload's inputs (benchmark-side, not timed)."""
    inp = os.path.join(work, "inputs")
    if workload == "ingest":
        tree = gen.raw_tree(os.path.join(inp, "raw"), seed, RAW_HOURS, RAW_STREAMS)
        return {"tree": tree, "sizes": {"raw_rows": tree.rows, "raw_bytes": tree.input_bytes,
                                        "raw_files": len(tree.files), "hours": list(RAW_HOURS),
                                        "streams": list(RAW_STREAMS)}}
    tree0 = gen.raw_tree(os.path.join(inp, "raw"), seed, STREAM_HOURS, STREAM_STREAMS)
    wh = gen.warehouse(os.path.join(inp, "warehouse"), seed, N_ORDERS)
    corpus = gen.corpus(os.path.join(inp, "corpus"), seed, N_DOCS, n_heldout=60)
    return {"tree0": tree0, "wh": wh, "wh_dir": os.path.join(inp, "warehouse"), "corpus": corpus,
            "refs": wl_datapipe.references(corpus),
            "sizes": {"stream_rows": tree0.rows, **{f"{n}_rows": len(df) for n, df in wh.items()},
                      "docs": N_DOCS, "heldout": len(corpus.heldout), "corpus_rates": corpus.rates}}


def table_setup(ctx: Ctx, inputs: dict, workload: str, i: int) -> None:
    """Program-side set-up after the session is up: for interactive, the
    stream tables the templates read, built with the program's ingest by
    the first (cold) set-up, and the tables opened in every session."""
    if workload == "interactive":
        streams = os.path.join(ctx.work, "streams")
        if i == 0:
            wl_ingest.write_streams(ctx, inputs["tree0"], wl_ingest.fresh_dir(streams), ("encoder", "harp_sync"))
        inputs["env"] = wl_interactive.open_env(ctx.spark, inputs["wh_dir"], streams, inputs["corpus"],
                                                inputs["refs"])


def _guard(ctx: Ctx, what: str, fn, *a):
    try:
        return fn(*a)
    except Exception as exc:  # counted in ok_rate; the run goes on
        ctx.error(what, exc)
        return None


def run_workload(ctx: Ctx, inputs: dict, workload: str, seconds: float) -> dict:
    """The measured phase.

    ingest: the initial ingest, then FRESH_CYCLES freshness cycles, and
    more while ``seconds`` last. interactive: a warm-up pass, then the
    closed loop in whole rounds (see ``wl_interactive.run_queries``)."""
    if workload == "ingest":
        tree = inputs["tree"]
        wh = wl_ingest.fresh_dir(os.path.join(ctx.work, "wh"))
        res = {"initial": _guard(ctx, "ingest.initial", wl_ingest.initial, ctx, tree, wh), "cycles": [], "wh": wh}
        # op latencies cover the repeated freshness cycles; the cold initial
        # ingest counts in items_per_s and its per-layer figures
        ctx.ops.clear()
        t_end = time.perf_counter() + seconds
        k = 0
        while res["initial"] and (k < FRESH_CYCLES or time.perf_counter() < t_end):
            r = _guard(ctx, "ingest.freshness", wl_ingest.freshness, ctx, tree, wh, k)
            if not r:
                break
            res["cycles"].append(r)
            k += 1
        return res
    env = inputs["env"]
    client = wl_interactive.Client(ctx.seed, inputs["tree0"], env)
    q = wl_interactive.run_queries(ctx, env, client, seconds)
    q["repeats"] = client.repeats
    return q


def check_outputs(ctx: Ctx, inputs: dict, res: dict, workload: str) -> None:
    """The checks that need the finished run: the ingest tables against
    numpy, the interactive results against their DuckDB or plain-Python
    twins. Freshness read-backs are checked inside each cycle."""
    if workload == "ingest":
        if res["initial"]:
            _guard(ctx, "ingest.tables", wl_ingest.check_tables, ctx, inputs["tree"], res["wh"])
        _guard(ctx, "ingest.decode_binary", wl_ingest.decode_binary_timing, ctx, inputs["tree"])
        return
    con = wl_interactive.twin_db(inputs["wh"], inputs["tree0"])
    wl_interactive.check(ctx, inputs["env"], con, res.pop("results"))
    con.close()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _ops_ms(ctx: Ctx) -> list[float]:
    return [ms for v in ctx.ops.values() for ms in v]


def end_to_end(ctx: Ctx, res: dict, workload: str) -> dict:
    """The workload-independent end-to-end metrics: items per second and
    the median and 90th percentile of one blocking program call."""
    ops = _ops_ms(ctx)
    return {
        "items_per_s": (named(res, workload)[_ITEMS[workload]][0], "1/s"),
        "op_p50_ms": (stats.percentile(ops, 50) if ops else 0.0, "ms"),
        "op_p90_ms": (stats.percentile(ops, 90) if ops else 0.0, "ms"),
    }


_ITEMS = {"ingest": "ingest_rows_per_s", "interactive": "queries_per_s"}


def named(res: dict, workload: str) -> dict:
    """The workload's own figures (name -> (value, unit))."""
    if workload == "ingest":
        ini, cyc = res["initial"], res["cycles"]
        if not ini:
            return {"ingest_rows_per_s": (0.0, "1/s")}
        rows = ini["rows"] + sum(c["rows"] for c in cyc)
        secs = ini["seconds"] + sum(c["seconds"] for c in cyc)
        return {
            "ingest_rows_per_s": (rows / secs, "1/s"),
            "freshness_s": (_median([c["seconds"] for c in cyc]), "s"),
            "storage_ratio": (ini["bytes_written"] / ini["raw_bytes"], "ratio"),
        }
    lat = res["latencies_ms"]
    return {
        "query_p50_ms": (stats.percentile(lat, 50) if lat else 0.0, "ms"),
        "query_p90_ms": (stats.percentile(lat, 90) if lat else 0.0, "ms"),
        "queries_per_s": (len(lat) / res["wall_s"], "1/s"),
    }


def summaries(ctx: Ctx, res: dict, workload: str) -> dict:
    """Timing summaries (median + highest percentile with >= 10 samples
    beyond it, with n) and ratios with their bases, for the detail line."""
    out = {"op_ms": stats.timing_summary(_ops_ms(ctx)),
           "op_ms_by_call": {k: stats.timing_summary(v) for k, v in sorted(ctx.ops.items())}}
    if workload == "ingest" and res["initial"]:
        ini = res["initial"]
        out["initial_s"] = ini["seconds"]
        out["freshness_s"] = stats.timing_summary([c["seconds"] for c in res["cycles"]])
        out["storage_ratio"] = stats.ratio(ini["bytes_written"], ini["raw_bytes"])
    elif workload == "interactive":
        out["query_ms"] = stats.timing_summary(res["latencies_ms"])
        out["rounds"], out["warmup_s"] = res["rounds"], res["warmup_s"]
        out["repeat_share"] = stats.ratio(res["repeats"], len(res["latencies_ms"]))
    return out


def per_layer(ctx: Ctx, log_dir: str) -> dict:
    """Traced-run metrics: the named per-layer figures (0 where the
    workload does not exercise the layer), Spark's counts attributed by
    job group, each layer's self time and the tracing overhead."""
    spans = ctx.tracer.spans
    attribute(spans, read_event_logs(log_dir))
    selft = self_times(spans)
    L = ctx.layer
    m: dict[str, tuple[float, str]] = {}

    def med(key, unit):
        m[key] = (float(_median(L.get(key, []))), unit)

    def share(key, num, den):
        n, d = sum(L.get(num, [])), sum(L.get(den, []))
        m[key] = (n / d if d else 0.0, "ratio")

    med("session.start_s", "s")
    med("session.first_action_s", "s")
    med("sources.discover_s", "s")
    med("sources.files_listed", "count")
    share("sources.prune_ratio", "sources.files_listed", "sources.files_on_disk")
    med("sources.load_s", "s")
    m["sources.rows_read"] = (float(sum(L.get("sources.rows_read", []))), "count")
    med("sources.input_bytes", "bytes")
    med("sources.decode_binary_s", "s")
    for k, u in (("write_s", "s"), ("bytes_written", "bytes"), ("files_written", "count"), ("insert_s", "s"),
                 ("populate_s", "s"), ("noop_populate_s", "s"), ("fresh_populate_s", "s"),
                 ("pending_keys", "count"), ("rows_inserted", "count"), ("refresh_s", "s")):
        med(f"pipeline.{k}", u)
    # new keys over the keys the freshness populates' grouped aggregates
    # computed, as Spark counted them
    computed = sum(s["spark"]["grouped_agg_rows"] for s in spans if s["name"] == "pipeline.fresh_populate")
    new = sum(L.get("pipeline.rows_inserted_fresh", []))
    m["pipeline.populate_useful_ratio"] = (new / computed if computed else 0.0, "ratio")

    qspans = [s for s in spans if "plan_ms" in s["counts"]]
    for k in ("plan_ms", "optimize_ms", "exec_ms"):
        m[f"query.{k}"] = (float(_median([s["counts"][k] for s in qspans])), "ms")
    med("query.first_exec_ms", "ms")
    for k in ("jobs", "stages", "tasks"):
        m[f"query.{k}_per_query"] = (float(_median([s["spark"][k] for s in qspans])), "count")
    m["query.exchanges_per_query"] = (float(_median([s["counts"]["exchanges"] for s in qspans])), "count")
    for g in ("asof", "interval", "window", "stats", "quantile"):
        med(f"operators.{g}_ms", "ms")

    for k in ("quality", "exact", "minhash", "lsh", "verify", "clusters", "decontaminate", "select"):
        m[f"datapipe.{k}_s"] = (float(_median(L.get(f"datapipe.{k}_ms", []))) / 1e3, "s")
    med("datapipe.candidate_pairs", "count")
    share("datapipe.pair_precision", "datapipe.verified_pairs", "datapipe.verify_candidates")
    med("datapipe.cluster_rounds", "count")

    # Spark's own counts over every span, and per layer
    roots = [s for s in spans if s["parent"] is None]
    wall = sum(s["end"] - s["start"] for s in roots)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
    tot = {k: float(sum(s["spark"][k] for s in spans)) for k in SPARK_COUNTS}
    units = {"jobs": "count", "stages": "count", "tasks": "count", "shuffle_write_bytes": "bytes",
             "shuffle_read_bytes": "bytes", "spill_bytes": "bytes", "gc_ms": "ms", "executor_cpu_ms": "ms"}
    for k, u in units.items():
        m[f"spark.{k}"] = (tot[k], u)
    m["spark.core_utilization"] = (tot["executor_run_ms"] / (wall * 1e3 * cores) if wall else 0.0, "ratio")
    for layer in LAYERS:
        mine = [s for s in spans if s["name"].split(".")[0] == layer]
        m[f"{layer}.self_s"] = (sum(selft[s["id"]] for s in mine), "s")
        m[f"{layer}.spark_tasks"] = (float(sum(s["spark"]["tasks"] for s in mine)), "count")
        m[f"{layer}.spark_cpu_ms"] = (float(sum(s["spark"]["executor_cpu_ms"] for s in mine)), "ms")
    m["trace.spans"] = (float(len(spans)), "count")
    m["trace.overhead_ms_per_span"] = (ctx.tracer.overhead_s * 1e3 / len(spans) if spans else 0.0, "ms")
    return m
