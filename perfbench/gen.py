"""Deterministic input generators for the benchmark.

Every generator takes a seed and writes files whose bytes depend only on
that seed and the size arguments: numpy ``default_rng(seed)`` draws, fixed
text formatting, and Parquet written by pyarrow without statistics that
carry wall-clock time. The benchmark hands these files to the program and
keeps the in-memory arrays as the reference it checks outputs against.

Three inputs:

- ``raw_tree``   one experiment's raw acquisition tree: two epochs on two
                 days, hourly HARP-CSV chunk files per device at mixed
                 rates, plus one flat-binary (uint16 x 4 channels) stream.
- ``warehouse``  a small star schema (region, nation, customer, orders,
                 lineitem) and an ``events`` table whose timestamp is
                 stored as Parquet TIMESTAMP(NANOS).
- ``corpus``     a text corpus with stated exact-duplicate, near-duplicate,
                 low-quality and contaminated shares, plus a held-out slice.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from dataclasses import dataclass, field

import numpy as np

HARP_OFFSET_MS = 2_082_844_800_000  # unix ms -> HARP ms (HARP epoch 1904-01-01)

# (device, stream, columns, period_ms) — mixed rates, one Reader each
CSV_STREAMS = (
    ("Patch1", "Encoder", ("angle", "intensity"), 100),
    ("Patch2", "Encoder", ("angle", "intensity"), 200),
    ("ClockSynchronizer", "HarpSync", ("clock", "hub_clock", "harp_time"), 1000),
)
BIN_STREAM = ("Probe", "AmplifierData", ("ch0", "ch1", "ch2", "ch3"), 100)
DROPOUT = 0.01  # share of CSV samples lost to acquisition dropouts
# corpus shares: byte copies, ~4 %-edited copies, quality-rule failures,
# documents embedding a held-out passage
CORPUS_RATES = {"exact": 0.08, "near": 0.12, "junk": 0.08, "contaminated": 0.04}
EXPERIMENT = "exp0"


def ts_name(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H-%M-%S")


def _unix_ms(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 1000


@dataclass
class RawTree:
    """The generated tree and the reference samples it holds.

    ``samples[(device, stream)]`` maps to a dict of numpy arrays:
    ``time_ms`` (unix ms, int64) plus one int64 array per column holding
    the value in thousandths (the CSV prints value/1000 with 3 decimals).
    Binary streams hold raw uint16 channel values and ``sample_idx``.
    """

    root: str
    exp_root: str
    epochs: list[dt.datetime]
    hours: list[tuple[dt.datetime, dt.datetime]]  # (epoch_start, chunk hour)
    streams: tuple[str, ...] = ()
    samples: dict = field(default_factory=dict)
    files: list[str] = field(default_factory=list)

    @property
    def input_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.files)

    @property
    def rows(self) -> int:
        return sum(len(v["time_ms"]) for v in self.samples.values())


def _csv_chunk(rng, hour: dt.datetime, lo: dt.datetime, cols, period_ms: int):
    """Samples of one hourly chunk at [max(hour, lo), hour + 1 h)."""
    t0 = _unix_ms(max(hour, lo))
    t1 = _unix_ms(hour) + 3_600_000
    t = np.arange(t0, t1, period_ms, dtype=np.int64)
    t = t[rng.random(len(t)) >= DROPOUT]
    vals = {}
    for c in cols:
        if c in ("clock", "hub_clock", "harp_time"):
            # sync pairs: harp_time tracks clock with a per-chunk drift
            base = (t - t0) // 10
            slope = 1000 + int(rng.integers(-3, 4))
            if c == "clock":
                vals[c] = base * 1000
            elif c == "hub_clock":
                vals[c] = base * 1000 + 7
            else:
                vals[c] = base * slope + int(rng.integers(0, 1000))
        else:
            vals[c] = rng.integers(0, 360_000, len(t), dtype=np.int64)
    return t, vals


def _write_csv(path: str, t_ms: np.ndarray, vals: dict, cols) -> None:
    """One header line, then ``<harp s>.<ms>,<v/1000 with 3 decimals>…``
    per sample, formatted with Arrow compute kernels (integer digits only,
    so the text is exact and byte-stable)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def fixed3(v: np.ndarray):
        whole = pc.cast(pa.array(v // 1000), pa.string())
        frac = pc.utf8_lpad(pc.cast(pa.array(v % 1000), pa.string()), 3, "0")
        return pc.binary_join_element_wise(whole, frac, ".")

    fields = [fixed3(t_ms + HARP_OFFSET_MS)] + [fixed3(vals[c]) for c in cols]
    body = pc.binary_join_element_wise(*fields, ",")
    with open(path, "w", newline="\n") as fh:
        fh.write("aeon_time," + ",".join(cols) + "\n")
        if len(body):
            fh.write("\n".join(body.to_pylist()) + "\n")


def _add(samples: dict, key, t, vals) -> None:
    cur = samples.setdefault(key, {"time_ms": [], **{c: [] for c in vals}})
    cur["time_ms"].append(t)
    for c, v in vals.items():
        cur[c].append(v)


def _finish(samples: dict) -> dict:
    return {k: {c: np.concatenate(v) for c, v in d.items()} for k, d in samples.items()}


def raw_tree(root: str, seed: int, hours_per_epoch: tuple[int, int] = (4, 3),
             streams: tuple[str, ...] = ("Encoder", "HarpSync", "AmplifierData")) -> RawTree:
    """Write the raw tree under ``root`` and return it with its reference
    samples. Epoch 1 starts on day 1 at 10:00; epoch 2 starts on day 2 at
    20:00 (both hour-aligned so no chunk file name repeats across roots).
    Only the named ``streams`` are written.
    """
    rng = np.random.default_rng([seed, 1])
    day1 = dt.datetime(2024, 3, 4, 10, 0, 0)
    day2 = dt.datetime(2024, 3, 5, 20, 0, 0)
    epochs = [day1, day2]
    exp_root = os.path.join(root, EXPERIMENT)
    tree = RawTree(root=root, exp_root=exp_root, epochs=epochs, hours=[], streams=streams)
    samples: dict = {}
    for ep, n in zip(epochs, hours_per_epoch):
        for h in range(n):
            hour = ep + dt.timedelta(hours=h)
            tree.hours.append((ep, hour))
            _write_hour(tree, samples, rng, ep, hour)
    tree.samples = _finish(samples)
    return tree


def _write_hour(tree: RawTree, samples: dict, rng, ep: dt.datetime, hour: dt.datetime) -> list[str]:
    written = []
    for device, stream, cols, period in CSV_STREAMS:
        if stream not in tree.streams:
            continue
        d = os.path.join(tree.exp_root, ts_name(ep), device)
        os.makedirs(d, exist_ok=True)
        t, vals = _csv_chunk(rng, hour, ep, cols, period)
        p = os.path.join(d, f"{device}_{stream}_{ts_name(hour)}.csv")
        _write_csv(p, t, vals, cols)
        _add(samples, (device, stream), t, vals)
        written.append(p)
    device, stream, cols, period = BIN_STREAM
    if stream not in tree.streams:
        tree.files.extend(written)
        return written
    d = os.path.join(tree.exp_root, ts_name(ep), device)
    os.makedirs(d, exist_ok=True)
    n = 3_600_000 // period
    arr = rng.integers(0, 65_536, (n, len(cols)), dtype=np.uint16)
    p = os.path.join(d, f"{device}_{stream}_{ts_name(hour)}.bin")
    with open(p, "wb") as fh:
        fh.write(arr.astype("<u2").tobytes())
    t = _unix_ms(hour) + np.arange(n, dtype=np.int64) * period
    _add(samples, (device, stream), t, {c: arr[:, i].astype(np.int64) for i, c in enumerate(cols)})
    written.append(p)
    tree.files.extend(written)
    return written


def land_hour(tree: RawTree, seed: int, cycle: int) -> tuple[dt.datetime, list[str]]:
    """Append one hour per device to the live (last) epoch, at 00:00 of
    the day after the last landed hour, and fold its samples into
    ``tree.samples``. Each landed hour is alone on its day, so every
    ``chunk_date`` partition it lands in holds the same one hour.
    Returns (hour, new files)."""
    rng = np.random.default_rng([seed, 2, cycle])
    ep = tree.epochs[-1]
    last = max(h for _e, h in tree.hours)
    hour = dt.datetime(last.year, last.month, last.day) + dt.timedelta(days=1)
    samples: dict = {}
    files = _write_hour(tree, samples, rng, ep, hour)
    tree.hours.append((ep, hour))
    new = _finish(samples)
    for k, d in new.items():
        tree.samples[k] = {c: np.concatenate([tree.samples[k][c], d[c]]) for c in d}
    return hour, files


# -- warehouse ---------------------------------------------------------------

def _write_parquet(path: str, table) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, path, compression="zstd", write_statistics=True)


def warehouse(root: str, seed: int, n_orders: int = 15_000) -> dict:
    """Write the star schema + events as Parquet; returns the pandas
    frames (the DuckDB twins read these, not the program's files)."""
    import pandas as pd
    import pyarrow as pa

    rng = np.random.default_rng([seed, 3])
    os.makedirs(root, exist_ok=True)
    n_cust = max(n_orders // 10, 10)
    n_line = n_orders * 4
    n_events = n_orders
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    statuses = np.array(["F", "O", "P"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    etypes = np.array(["click", "view", "purchase", "scroll"])
    base = np.datetime64("1995-01-01T00:00:00", "us")
    frames = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                                "n_name": [f"NATION{i:02d}" for i in range(25)],
                                "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:06d}" for i in range(1, n_cust + 1)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": rng.integers(-99_999, 999_999, n_cust) / 100.0,
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_cust + 1, n_orders).astype(np.int64),
            "o_orderstatus": statuses[rng.integers(0, 3, n_orders)],
            "o_totalprice": rng.integers(100_000, 50_000_000, n_orders) / 100.0,
            "o_orderdate": base + rng.integers(0, 2_400, n_orders).astype("timedelta64[D]"),
            "o_orderpriority": prios[rng.integers(0, 5, n_orders)],
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(1, n_orders + 1, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": rng.integers(90_000, 10_000_000, n_line) / 100.0,
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_shipdate": base + rng.integers(0, 2_500, n_line).astype("timedelta64[D]"),
        }),
        "events": pd.DataFrame({
            "event_id": np.arange(1, n_events + 1, dtype=np.int64),
            # whole-second event times stored as TIMESTAMP(NANOS)
            "ts": (np.datetime64("2024-01-01T00:00:00", "ns")
                   + rng.integers(0, 30 * 86_400, n_events).astype("timedelta64[s]")),
            "user_id": rng.integers(1, 500, n_events).astype(np.int64),
            "event_type": etypes[rng.integers(0, 4, n_events)],
            "value": rng.integers(0, 100_000, n_events) / 100.0,
        }),
    }
    for name, pdf in frames.items():
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        if name == "events":
            tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts",
                                 tbl.column("ts").cast(pa.timestamp("ns")))
        _write_parquet(os.path.join(root, f"{name}.parquet"), tbl)
    return frames


# -- corpus ------------------------------------------------------------------

@dataclass
class Corpus:
    path: str
    heldout_path: str
    docs: list[tuple[int, str, float]]  # (doc_id, text, quality_score)
    heldout: list[tuple[int, str]]
    rates: dict


def _vocab(rng, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    words = {"".join(letters[rng.integers(0, 26, int(k))]) for k in lens}
    return sorted(words)


def corpus(root: str, seed: int, n_docs: int = 3_000, n_heldout: int = 150) -> Corpus:
    """Corpus of ``n_docs`` documents in the CORPUS_RATES shares: byte
    copies of an earlier document, copies with ~4 % of tokens replaced,
    documents failing the quality rules (too short, repetitive or
    symbol-heavy) and documents embedding a held-out passage."""
    import pandas as pd
    import pyarrow as pa

    rng = np.random.default_rng([seed, 4])
    vocab = np.array(_vocab(rng, 4_000))
    os.makedirs(root, exist_ok=True)

    def words(n):
        return vocab[rng.integers(0, len(vocab), n)].tolist()

    heldout = [(i, " ".join(words(int(rng.integers(40, 80))))) for i in range(n_heldout)]
    docs: list[str] = []
    kinds = rng.random(n_docs)
    c1, c2, c3, c4 = np.cumsum([CORPUS_RATES[k] for k in ("exact", "near", "junk", "contaminated")])
    for i in range(n_docs):
        k = kinds[i]
        if i > 10 and k < c1:
            docs.append(docs[int(rng.integers(0, i))])
        elif i > 10 and k < c2:
            toks = docs[int(rng.integers(0, i))].split(" ")
            for j in np.flatnonzero(rng.random(len(toks)) < 0.04):
                toks[j] = vocab[int(rng.integers(0, len(vocab)))]
            docs.append(" ".join(toks))
        elif k < c3:
            mode = int(rng.integers(0, 3))
            if mode == 0:
                docs.append(" ".join(words(3)))
            elif mode == 1:
                docs.append(" ".join(words(4) * 12))
            else:
                docs.append(" ".join(w + "!?#" for w in words(30)))
        elif k < c4:
            passage = heldout[int(rng.integers(0, n_heldout))][1].split(" ")
            docs.append(" ".join(words(20) + passage[:30] + words(20)))
        else:
            docs.append(" ".join(words(int(rng.integers(30, 120)))))
    scores = rng.integers(0, 10_000, n_docs) / 10_000.0
    rows = [(i + 1, docs[i], float(scores[i])) for i in range(n_docs)]
    path = os.path.join(root, "docs.parquet")
    hpath = os.path.join(root, "heldout.parquet")
    _write_parquet(path, pa.Table.from_pandas(pd.DataFrame(
        {"doc_id": np.arange(1, n_docs + 1, dtype=np.int64), "text": docs, "quality_score": scores}),
        preserve_index=False))
    _write_parquet(hpath, pa.Table.from_pandas(pd.DataFrame(
        {"doc_id": np.array([h[0] for h in heldout], dtype=np.int64), "text": [h[1] for h in heldout]}),
        preserve_index=False))
    return Corpus(path, hpath, rows, heldout, dict(CORPUS_RATES))


def tree_digest(root: str) -> str:
    """sha256 over (relative path, bytes) of every file under ``root`` —
    the determinism check: same seed, same digest."""
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(root)):
        _dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
