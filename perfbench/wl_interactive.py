"""The interactive phase: one closed-loop client draws short parameterized
query templates from a seeded mix and waits for each result before the
next draw. ``REPEAT_SHARE`` of the draws replay an earlier draw of the same
template exactly, so any result or plan caching shows as what it is.

Each template is a program call (``query.relation``, ``pipeline.ingest``
or an ``operators`` function) that ends in a small collected result, and
has a DuckDB twin over the generator's own frames; results are compared
after the timed loop.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
from common import Ctx, rows_match
from aeon_mecha_spark import catalog
from aeon_mecha_spark.operators.analytics import granularity_rollup, grouped_quantiles
from aeon_mecha_spark.operators.intervals import asof_join, point_in_interval_join
from aeon_mecha_spark.operators.regression import fit_closed_form_portable
from aeon_mecha_spark.operators.stats import column_stats, timestamp_stats
from aeon_mecha_spark.operators.windows import lag_delta, rolling_time_sum
from aeon_mecha_spark.pipeline.ingest import fetch_stream
from aeon_mecha_spark.query.relation import U, Relation
from aeon_mecha_spark.sources.load import stream_view
from aeon_mecha_spark.util import release_cached
from wl_datapipe import Datapipe

REPEAT_SHARE = 0.25
# timed rounds per run: at least this many, more while --seconds last, so
# every run's latency percentiles are read off the same template mix
MIN_ROUNDS = 2
DEC2 = "decimal(18,2)"
DEC3 = "decimal(18,3)"


@dataclass
class Env:
    """DataFrames the templates read, rebuilt at every set-up."""
    spark: object
    dp: Datapipe
    orders: object
    customer: object
    nation: object
    lineitem: object
    events: object
    encoder: object
    harp_sync: object
    encoder_path: str


def open_env(spark, wh_dir: str, streams_dir: str, corpus, refs) -> Env:
    t = {n: catalog.load_table(spark, wh_dir, n) for n in ("orders", "customer", "nation", "lineitem", "events")}
    # events.ts is TIMESTAMP(NANOS): read as a long (nanosAsLong), truncated to µs
    t["events"] = t["events"].withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    s = {n: spark.read.parquet(os.path.join(streams_dir, f"{n}_stream")) for n in ("encoder", "harp_sync")}
    dp = Datapipe(refs, spark.read.parquet(corpus.path), spark.read.parquet(corpus.heldout_path))
    return Env(spark=spark, dp=dp, **t, **s, encoder_path=os.path.join(streams_dir, "encoder_stream"))


def _sql_ts(t: dt.datetime) -> str:
    return f"TIMESTAMP '{t:%Y-%m-%d %H:%M:%S}'"


# -- templates: (name, layer, metric group, draw, build, twin) ----------------

def t_restrict(e, p):
    r = Relation(e.orders, ["o_orderkey"]) & {"o_orderstatus": p["status"]} & f"o_totalprice > {p['price']}"
    return r.df.agg(F.count(F.lit(1)), F.sum(F.col("o_totalprice").cast(DEC2)))


def d_restrict(p):
    return (f"SELECT count(*), sum(o_totalprice::DECIMAL(18,2)) FROM orders "
            f"WHERE o_orderstatus = '{p['status']}' AND o_totalprice > {p['price']}")


def t_anti(e, p):
    cust = Relation(e.customer, ["c_custkey"]) & {"c_nationkey": p["nation"]}
    recent = Relation(e.orders, ["o_orderkey"]) & (
        f"o_orderdate >= '{p['d0']}' AND o_orderdate < date_add('{p['d0']}', 90)")
    out = cust - recent.proj(c_custkey="o_custkey")
    return out.df.agg(F.count(F.lit(1)), F.sum(F.col("c_acctbal").cast(DEC2)))


def d_anti(p):
    return (f"SELECT count(*), sum(c_acctbal::DECIMAL(18,2)) FROM customer WHERE c_nationkey = {p['nation']} "
            f"AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderdate >= DATE '{p['d0']}' "
            f"AND o_orderdate < DATE '{p['d0']}' + INTERVAL 90 DAY)")


def t_join_top(e, p):
    orders = Relation(e.orders.withColumnRenamed("o_custkey", "c_custkey"), ["o_orderkey"])
    cust = Relation(e.customer, ["c_custkey"]) & {"c_mktsegment": p["segment"]}
    nat = Relation(e.nation.withColumnRenamed("n_nationkey", "c_nationkey"), ["c_nationkey"]) & {"n_regionkey": p["region"]}
    top = (orders * cust * nat).top(10, ["o_totalprice DESC", "o_orderkey"])
    return top.df.select("o_orderkey", "o_totalprice", "n_name")


def d_join_top(p):
    return (f"SELECT o_orderkey, o_totalprice, n_name FROM orders JOIN customer ON o_custkey = c_custkey "
            f"JOIN nation ON c_nationkey = n_nationkey WHERE c_mktsegment = '{p['segment']}' "
            f"AND n_regionkey = {p['region']} ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")


def t_aggr(e, p):
    cust = Relation(e.customer, ["c_custkey"]) & {"c_nationkey": p["nation"]}
    orders = Relation(e.orders.withColumnRenamed("o_custkey", "c_custkey"), ["o_orderkey"]) & {
        "o_orderpriority": p["prio"]}
    out = cust.aggr(orders, n="count(*)", total="sum(cast(o_totalprice as decimal(18,2)))")
    return out.df.select("c_custkey", "n", "total")


def d_aggr(p):
    return (f"SELECT c_custkey, count(*), sum(o_totalprice::DECIMAL(18,2)) FROM customer JOIN orders "
            f"ON o_custkey = c_custkey WHERE c_nationkey = {p['nation']} AND o_orderpriority = '{p['prio']}' "
            f"GROUP BY c_custkey")


def t_union_u(e, p):
    o = Relation(e.orders, ["o_orderkey"])
    both = (o & {"o_orderstatus": p["status"]}) + (o & f"o_totalprice > {p['price']}")
    return U("o_orderpriority").aggr(both, n="count(*)").df


def d_union_u(p):
    return (f"SELECT o_orderpriority, count(*) FROM orders WHERE o_orderstatus = '{p['status']}' "
            f"OR o_totalprice > {p['price']} GROUP BY 1")


def t_fetch(e, p):
    df = fetch_stream(e.spark, e.encoder_path, p["t0"], p["t1"])
    return df.groupBy("device_name").agg(F.count(F.lit(1)), F.sum(F.col("angle").cast(DEC3)),
                                         F.min(F.unix_micros("time")), F.max(F.unix_micros("time")))


def d_fetch(p):
    return (f"SELECT device_name, count(*), sum(angle::DECIMAL(18,3)), min(epoch_us(time)), max(epoch_us(time)) "
            f"FROM encoder WHERE time >= {_sql_ts(p['t0'])} AND time < {_sql_ts(p['t1'])} GROUP BY 1")


def _other(device: str) -> str:
    return "Patch2" if device == "Patch1" else "Patch1"


def t_asof(e, p):
    left = stream_view(e.encoder, device=_other(p["device"]), start=p["t0"], end=p["t1"]).select(
        "experiment_name", "time", "intensity")
    right = stream_view(e.encoder, device=p["device"], start=p["t0"] - dt.timedelta(minutes=1),
                        end=p["t1"]).select("experiment_name", "time", "angle")
    j = asof_join(left, right, ["experiment_name"], "time", "time", ["angle"])
    return j.agg(F.count(F.lit(1)), F.count("angle"), F.sum(F.col("angle").cast(DEC3)))


def d_asof(p):
    return (f"SELECT count(*), count(e.angle), sum(e.angle::DECIMAL(18,3)) FROM "
            f"(SELECT * FROM encoder WHERE device_name = '{_other(p['device'])}' "
            f"AND time >= {_sql_ts(p['t0'])} AND time < {_sql_ts(p['t1'])}) w "
            f"ASOF LEFT JOIN (SELECT * FROM encoder WHERE device_name = '{p['device']}' "
            f"AND time >= {_sql_ts(p['t0'] - dt.timedelta(minutes=1))} AND time < {_sql_ts(p['t1'])}) e "
            f"ON w.experiment_name = e.experiment_name AND w.time >= e.time")


def _events_day(e, p, days=1):
    d0 = dt.datetime.fromisoformat(p["day"])
    return e.events.filter((F.col("ts") >= F.lit(d0)) & (F.col("ts") < F.lit(d0 + dt.timedelta(days=days))))


def t_interval(e, p):
    d0 = dt.datetime.fromisoformat(p["day"])
    base = int(d0.replace(tzinfo=dt.timezone.utc).timestamp())
    iv = e.spark.range(24).select(
        F.col("id").alias("label"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * 3600).alias("start"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * 3600 + 1799).alias("end"))
    pts = _events_day(e, p).select("event_id", "ts", "value")
    j = point_in_interval_join(pts, iv, "ts", "start", "end")
    return j.groupBy("label").agg(F.count(F.lit(1)), F.sum(F.col("value").cast(DEC2)))


def d_interval(p):
    return (f"SELECT i, count(*), sum(value::DECIMAL(18,2)) FROM range(24) r(i) JOIN events ON "
            f"ts BETWEEN {_sql_ts(dt.datetime.fromisoformat(p['day']))} + i * INTERVAL 1 HOUR AND "
            f"{_sql_ts(dt.datetime.fromisoformat(p['day']))} + i * INTERVAL 1 HOUR + INTERVAL 1799 SECOND GROUP BY i")


def t_rolling(e, p):
    df = stream_view(e.encoder, device=p["device"], start=p["t0"], end=p["t1"])
    r = rolling_time_sum(df, F.col("angle"), "time", ["device_name"], 1_000_000, "roll")
    return r.agg(F.count(F.lit(1)), F.sum("roll"), F.max("roll"))


def d_rolling(p):
    return (f"SELECT count(*), sum(roll), max(roll) FROM (SELECT sum(angle) OVER (PARTITION BY device_name "
            f"ORDER BY time RANGE BETWEEN INTERVAL 1 SECOND PRECEDING AND CURRENT ROW) AS roll FROM encoder "
            f"WHERE device_name = '{p['device']}' AND time >= {_sql_ts(p['t0'])} AND time < {_sql_ts(p['t1'])})")


def t_lag(e, p):
    ev = e.events.filter(F.col("user_id").between(p["u0"], p["u0"] + 40))
    out = lag_delta(ev, ["ts", "event_id"], ["user_id"], ["ts", "value"])
    return out.agg(F.count("ts_delta"), F.sum("ts_delta"), F.sum("value_delta"))


def d_lag(p):
    return (f"SELECT count(d), sum(d), sum(v) FROM (SELECT (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1e6 AS d, "
            f"value - lag(value) OVER w AS v FROM events WHERE user_id BETWEEN {p['u0']} AND {p['u0'] + 40} "
            f"WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))")


def t_hourly(e, p):
    ev = _events_day(e, p, days=2)
    return granularity_rollup(ev, "ts", ["event_type"], [F.count(F.lit(1)).alias("n"),
                              F.sum(F.col("value").cast(DEC2)).alias("v")], ("hour",))


def d_hourly(p):
    d0 = dt.datetime.fromisoformat(p["day"])
    return (f"SELECT coalesce(event_type, '(all)'), coalesce(b, '(all)'), count(*), sum(value::DECIMAL(18,2)), "
            f"CASE WHEN grouping(b) = 0 THEN 'hour' WHEN grouping(event_type) = 0 THEN 'event_type' ELSE 'total' END "
            f"FROM (SELECT *, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS b FROM events "
            f"WHERE ts >= {_sql_ts(d0)} AND ts < {_sql_ts(d0 + dt.timedelta(days=2))}) GROUP BY ROLLUP(event_type, b)")


def t_colstats(e, p):
    return column_stats(stream_view(e.encoder, start=p["t0"], end=p["t1"]), ["angle", "intensity"], ["device_name"])


def d_colstats(p):
    cols = ", ".join(f"count({c}), min({c}), max({c}), round(sum({c}::DECIMAL(27,6))::DOUBLE / count({c}), 4)"
                     for c in ("angle", "intensity"))
    return (f"SELECT device_name, {cols} FROM encoder WHERE time >= {_sql_ts(p['t0'])} "
            f"AND time < {_sql_ts(p['t1'])} GROUP BY 1")


def t_tsstats(e, p):
    s = timestamp_stats(stream_view(e.encoder, start=p["t0"], end=p["t1"]), "time", ["device_name"])
    return s.select("device_name", F.unix_micros("ts_min"), F.unix_micros("ts_max"), "ts_count", "sampling_rate_hz")


def d_tsstats(p):
    return (f"SELECT device_name, min(epoch_us(time)), max(epoch_us(time)), count(*), "
            f"CASE WHEN quantile_cont(d, 0.5) > 0 THEN round(1e9 / quantile_cont(d, 0.5), 2) END FROM "
            f"(SELECT device_name, time, (epoch_us(time) - epoch_us(lag(time) OVER (PARTITION BY device_name "
            f"ORDER BY time))) * 1000 AS d FROM encoder WHERE time >= {_sql_ts(p['t0'])} "
            f"AND time < {_sql_ts(p['t1'])}) GROUP BY 1")


def t_sync(e, p):
    df = stream_view(e.harp_sync, start=p["t0"], end=p["t0"] + dt.timedelta(hours=1))
    fit = fit_closed_form_portable(df, "clock", "harp_time", ["device_name"], x_scale=1.0, y_scale=1000.0)
    return fit.select("device_name", "n_samples", "slope", "intercept", "r2")


def d_sync(p):
    t1 = p["t0"] + dt.timedelta(hours=1)
    return (f"SELECT device_name, count(*), regr_slope(harp_time, clock), regr_intercept(harp_time, clock), "
            f"regr_r2(harp_time, clock) FROM harp_sync WHERE time >= {_sql_ts(p['t0'])} AND time < {_sql_ts(t1)} "
            f"GROUP BY 1")


def t_quantile(e, p):
    li = e.lineitem.filter((F.col("l_shipdate") >= F.lit(p["d0"]).cast("timestamp"))
                           & (F.col("l_shipdate") < F.date_add(F.lit(p["d0"]), 180).cast("timestamp")))
    return grouped_quantiles(li, ["l_returnflag"], "l_quantity", (0.25, 0.5, 0.9))


def d_quantile(p):
    sel = " UNION ALL ".join(
        f"SELECT l_returnflag, {pv}, l_quantity FROM r WHERE rn = ({num} * n + {den - 1}) // {den}"
        for pv, num, den in ((0.25, 1, 4), (0.5, 1, 2), (0.9, 9, 10)))
    return (f"WITH r AS (SELECT l_returnflag, l_quantity, row_number() OVER (PARTITION BY l_returnflag "
            f"ORDER BY l_quantity) AS rn, count(*) OVER (PARTITION BY l_returnflag) AS n FROM lineitem "
            f"WHERE l_shipdate >= DATE '{p['d0']}' AND l_shipdate < DATE '{p['d0']}' + INTERVAL 180 DAY) {sel}")


def _draws(windows: list[dt.datetime]):
    statuses, prios = ["F", "O", "P"], ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    months = [f"{y}-{m:02d}-01" for y in range(1995, 2001) for m in range(1, 13)]
    days = [f"2024-01-{d:02d}" for d in range(1, 29)]

    def win(r):
        t0 = r.choice(windows)
        return {"t0": t0, "t1": t0 + dt.timedelta(minutes=10)}

    return {
        "restrict": lambda r: {"status": r.choice(statuses), "price": r.randrange(50_000, 450_000, 10_000)},
        "anti": lambda r: {"nation": r.randrange(25), "d0": r.choice(months)},
        "join_top": lambda r: {"segment": r.choice(segments), "region": r.randrange(5)},
        "aggr": lambda r: {"nation": r.randrange(25), "prio": r.choice(prios)},
        "union_u": lambda r: {"status": r.choice(statuses), "price": r.randrange(300_000, 490_000, 10_000)},
        "fetch": win,
        "asof": lambda r: {**win(r), "device": r.choice(["Patch1", "Patch2"])},
        "interval": lambda r: {"day": r.choice(days)},
        "rolling": lambda r: {**win(r), "device": r.choice(["Patch1", "Patch2"])},
        "lag": lambda r: {"u0": r.randrange(1, 460)},
        "hourly": lambda r: {"day": r.choice(days)},
        "colstats": win,
        "tsstats": win,
        "sync": lambda r: {"t0": r.choice(windows[::6])},
        "quantile": lambda r: {"d0": r.choice(months)},
    }


# name -> (layer span, per-layer metric group, build, twin); a twin returns
# DuckDB SQL or, for datapipe stages, the expected rows themselves
SQL_TEMPLATES = {
    "restrict": ("query", None, t_restrict, d_restrict),
    "anti": ("query", None, t_anti, d_anti),
    "join_top": ("query", None, t_join_top, d_join_top),
    "aggr": ("query", None, t_aggr, d_aggr),
    "union_u": ("query", None, t_union_u, d_union_u),
    "fetch": ("pipeline", None, t_fetch, d_fetch),
    "asof": ("operators", "asof", t_asof, d_asof),
    "interval": ("operators", "interval", t_interval, d_interval),
    "rolling": ("operators", "window", t_rolling, d_rolling),
    "lag": ("operators", "window", t_lag, d_lag),
    "hourly": ("operators", "window", t_hourly, d_hourly),
    "colstats": ("operators", "stats", t_colstats, d_colstats),
    "tsstats": ("operators", "stats", t_tsstats, d_tsstats),
    "sync": ("operators", None, t_sync, d_sync),
    "quantile": ("operators", "quantile", t_quantile, d_quantile),
}


def all_templates(env: Env) -> dict:
    out = dict(SQL_TEMPLATES)
    for name, (build, twin) in env.dp.templates().items():
        out[name] = ("datapipe", name[3:], build, twin)
    return out


class Client:
    """Seeded closed-loop client. Templates come in rounds, each a seeded
    permutation of all templates, so every run sends the same mix; within
    a template, REPEAT_SHARE of the draws replay one of its earlier draws
    exactly."""

    def __init__(self, seed: int, tree0: gen.RawTree, env: Env):
        self.rng = random.Random(seed * 7919 + 17)
        windows = [h + dt.timedelta(minutes=m) for _e, h in tree0.hours for m in range(0, 60, 10)]
        self.draw_fns = _draws(windows)
        for name in env.dp.templates():
            self.draw_fns[name] = env.dp.draw
        self.names = sorted(self.draw_fns)
        self.round: list[str] = []
        self.history: dict[str, list[dict]] = {}
        self.repeats = 0

    def warmup(self) -> list[tuple[str, dict]]:
        """One draw of every template, from its own stream of draws."""
        rng = random.Random(self.rng.random())
        return [(n, self.draw_fns[n](rng)) for n in self.names]

    def next(self) -> tuple[str, dict]:
        if not self.round:
            self.round = list(self.names)
            self.rng.shuffle(self.round)
        name = self.round.pop()
        seen = self.history.setdefault(name, [])
        if seen and self.rng.random() < REPEAT_SHARE:
            self.repeats += 1
            p = seen[self.rng.randrange(len(seen))]
        else:
            p = self.draw_fns[name](self.rng)
            seen.append(p)
        return name, p


def _query(ctx: Ctx, env: Env, tmpl: dict, name: str, p: dict, timed: bool):
    """Build, run and collect one template. Returns (rows, latency ms), or
    (None, None) when it raised; a timed query also feeds op_p50/op_p90."""
    layer, _group, build, _twin = tmpl[name]
    trace = ctx.tracer.enabled
    try:
        with (ctx.op(f"{layer}.{name}") if timed else ctx.span(f"{layer}.{name}")) as sp:
            t0 = time.perf_counter()
            df = build(env, p)
            if trace:
                t1 = time.perf_counter()
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                t2 = time.perf_counter()
            rows = [tuple(r) for r in df.collect()]
            if trace:
                t3 = time.perf_counter()
                plan = qe.executedPlan().toString()
                sp["counts"] = {"plan_ms": (t1 - t0) * 1e3, "optimize_ms": (t2 - t1) * 1e3,
                                "exec_ms": (t3 - t2) * 1e3, "exchanges": plan.count("Exchange")}
            release_cached(df)
        return rows, (time.perf_counter() - t0) * 1e3
    except Exception as exc:  # counted, the loop goes on
        ctx.error(f"interactive.{name}", exc)
        return None, None


def run_queries(ctx: Ctx, env: Env, client: Client, seconds: float) -> dict:
    """An untimed warm-up pass (one query per template; its latencies are
    the first executions), then the closed loop in whole rounds: at least
    MIN_ROUNDS, more until ``seconds`` have passed. Returns latencies and
    the collected results for checking."""
    tmpl = all_templates(env)
    out = []
    t_warm = time.perf_counter()
    for name, p in client.warmup():
        rows, ms = _query(ctx, env, tmpl, name, p, False)
        if rows is not None:
            ctx.add("query.first_exec_ms", ms)
            out.append((name, p, rows))
    lat = []
    t_start = time.perf_counter()
    rounds = 0
    while rounds < MIN_ROUNDS or time.perf_counter() - t_start < seconds:
        for _ in client.names:  # one round: each template once
            name, p = client.next()
            rows, ms = _query(ctx, env, tmpl, name, p, True)
            if rows is None:
                continue
            lat.append(ms)
            group = tmpl[name][1]
            if group:
                ctx.add(f"{tmpl[name][0]}.{group}_ms", ms)
            out.append((name, p, rows))
        rounds += 1
    wall = time.perf_counter() - t_start
    return {"latencies_ms": lat, "wall_s": wall, "rounds": rounds, "warmup_s": t_start - t_warm,
            "results": out}


def twin_db(wh: dict, tree0: gen.RawTree):
    """DuckDB over the generator's frames (not the program's files)."""
    import duckdb

    con = duckdb.connect()
    for n in ("orders", "customer", "nation", "lineitem"):
        con.register(n, wh[n])
    ev = wh["events"].copy()
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    con.register("events", ev)
    for name, stream, devices, cols in (("encoder", "Encoder", ("Patch1", "Patch2"), ("angle", "intensity")),
                                        ("harp_sync", "HarpSync", ("ClockSynchronizer",),
                                         ("clock", "hub_clock", "harp_time"))):
        parts = []
        for dev in devices:
            s = tree0.samples[(dev, stream)]
            parts.append(pd.DataFrame({
                "experiment_name": gen.EXPERIMENT, "device_name": dev,
                "time": s["time_ms"].astype("datetime64[ms]").astype("datetime64[us]"),
                **{c: s[c] / 1000.0 for c in cols}}))
        con.register(name, pd.concat(parts, ignore_index=True))
    return con


def check(ctx: Ctx, env: Env, con, results: list) -> None:
    """Compare every collected result with its twin (cached per draw)."""
    tmpl = all_templates(env)
    cache: dict = {}
    for name, p, rows in results:
        key = (name, tuple(sorted((k, str(v)) for k, v in p.items())))
        if key not in cache:
            want = tmpl[name][3](p)
            if isinstance(want, str):
                want = con.execute(want).fetchall()
            cache[key] = [tuple(float(x) if isinstance(x, np.floating) else x for x in r) for r in want]
        ok, why = rows_match(rows, cache[key], rel=1e-9, abs_=1e-6)
        ctx.check(f"interactive.{name}", ok, f"{p}: {why}")
        if name == "dp_lsh":
            ctx.add("datapipe.candidate_pairs", len(rows))
        elif name == "dp_verify":
            ctx.add("datapipe.verified_pairs", len(rows))
            ctx.add("datapipe.verify_candidates", len(env.dp.refs[p["a"]].pairs))
        elif name == "dp_clusters":
            ref = env.dp.refs[p["a"]]
            ctx.add("datapipe.cluster_rounds", ref.clusters([v[:2] for v in ref.verified])[1])
