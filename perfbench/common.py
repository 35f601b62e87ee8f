"""State shared by the workload phases of one benchmark run."""

from __future__ import annotations

import datetime as dt
import math
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from spans import Tracer


@dataclass
class Ctx:
    """The session, tracer, scratch directory and seed of a run, and what
    the run records: checked operations, per-layer samples and the
    latency of each blocking program call."""

    spark: object
    tracer: Tracer
    work: str
    seed: int
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # per-layer samples/counts
    ops: dict = field(default_factory=dict)  # blocking program calls: name -> [ms]

    def span(self, name: str):
        return self.tracer.span(name)

    @contextmanager
    def op(self, name: str, key: str | None = None):
        """A blocking call into the program: timed always (its latency
        feeds op_p50_ms/op_p90_ms and, under ``key``, a per-layer
        figure), recorded as a span only when tracing."""
        t0 = time.perf_counter()
        with self.tracer.span(name) as sp:
            yield sp
        s = time.perf_counter() - t0
        self.ops.setdefault(name, []).append(s * 1e3)
        if key:
            self.add(key, s)

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        """Count one checked operation; a mismatch is a failure, not an
        abort."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"{what}: {detail}"[:500])
            print(f"[perfbench] MISMATCH {what}: {detail}"[:2000], file=sys.stderr)
        return ok

    def error(self, what: str, exc: BaseException) -> None:
        """Count one operation that raised."""
        self.attempted += 1
        self.failed += 1
        self.problems.append(f"{what}: {type(exc).__name__}: {exc}"[:500])
        print(f"[perfbench] ERROR {what}: {type(exc).__name__}: {exc}"[:2000], file=sys.stderr)

    def add(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)


def close(a, b, rel: float = 1e-9, abs_: float = 1e-9) -> bool:
    """Value equality for checked outputs: exact for ints/strings, a
    tolerance for floats (summation order differs between engines)."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=rel, abs_tol=abs_)
    if hasattr(a, "is_finite") or hasattr(b, "is_finite"):  # Decimal
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)
    return a == b


def rows_match(got: list[tuple], want: list[tuple], rel: float = 1e-9, abs_: float = 1e-9) -> tuple[bool, str]:
    """Order-insensitive comparison of two row lists."""
    if len(got) != len(want):
        return False, f"{len(got)} rows vs {len(want)} expected"
    key = lambda r: tuple((x is None, str(type(x).__name__), x if not isinstance(x, float) else round(x, 6)) for x in r)  # noqa: E731
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w) or not all(close(x, y, rel, abs_) for x, y in zip(g, w)):
            return False, f"row {g!r} vs expected {w!r}"
    return True, ""


def day_bounds(t: dt.datetime) -> tuple[dt.datetime, dt.datetime]:
    start = dt.datetime(t.year, t.month, t.day)
    return start, start + dt.timedelta(days=1)


def dir_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes, files) of data files under ``path``."""
    total = n = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(d, f))
                n += 1
    return total, n
