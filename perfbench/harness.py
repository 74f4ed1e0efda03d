"""Shared plumbing for the benchmark workloads: the closed-loop op timer,
percentiles, the DuckDB oracle connection and result checksums."""

from __future__ import annotations

import hashlib
import statistics
import sys
import time

class Op:
    __slots__ = ("kind", "t0", "t1", "ok", "manifest_reads")

    def __init__(self, kind, t0, t1, ok, manifest_reads):
        self.kind, self.t0, self.t1, self.ok = kind, t0, t1, ok
        self.manifest_reads = manifest_reads

    @property
    def dt(self) -> float:
        return self.t1 - self.t0


class Bench:
    """One client thread issuing ops back to back (closed loop). Each op
    is timed through its result at the driver; its check runs after the
    op's clock stops, inside the loop's window. A raised exception or a
    failed check counts the op as failed — it is never dropped."""

    def __init__(self, spark, seed: int, seconds: float, recorder=None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.rec = recorder
        self.ops: list = []
        self.errors: list = []
        self.t_start = None
        self.t_first = None  # wall time of the first timed op or clock start

    def start(self) -> None:
        """Start the loop clock (``seconds`` counts from here)."""
        self.t_first = self.t_first or time.time()
        self.t_start = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_start

    def op(self, kind: str, fn, check=None, layer: str = "op") -> bool:
        """Run ``fn()`` as one timed op; ``check(result)`` must return
        True. Returns whether the op succeeded. ``layer`` names the op's
        span in the traced run."""
        self.t_first = self.t_first or time.time()
        span, m0 = None, 0
        if self.rec is not None:
            span = self.rec.enter_op(len(self.ops), layer, kind)
            m0 = self.rec.manifest_reads
        t0 = time.perf_counter()
        out, ok = None, False
        try:
            out = fn()
            t1 = time.perf_counter()
            if span is not None:
                self.rec.exit(span)
                span = None
            ok = True if check is None else self._check(check, out)
            if not ok:
                self._note(kind, "wrong result")
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            t1 = time.perf_counter()
            self._note(kind, f"{type(exc).__name__}: {exc}")
        finally:
            if span is not None:
                self.rec.exit(span)
        m1 = self.rec.manifest_reads if self.rec is not None else 0
        self.ops.append(Op(kind, t0, t1, ok, m1 - m0))
        return ok

    def _check(self, check, out) -> bool:
        """Run a check untraced: a check may call the engine itself (a
        search that verifies an update), and its calls belong to no op."""
        if self.rec is None:
            return bool(check(out))
        self.rec.suspended = True
        try:
            return bool(check(out))
        finally:
            self.rec.suspended = False

    def _note(self, kind: str, msg: str) -> None:
        self.errors.append((kind, msg))
        if len(self.errors) <= 5:
            print(f"perfbench: op {kind} failed: {msg[:500]}", file=sys.stderr)

    def in_window(self) -> list:
        """Ops started after the loop clock started."""
        return [o for o in self.ops if o.t0 >= self.t_start]

    def times(self, *kinds) -> list:
        return [o.dt for o in self.ops if o.kind in kinds]


def tail(samples: list) -> tuple:
    """(value, percentile): the highest percentile of ``samples`` that
    has at least ten samples beyond it — the eleventh largest, at
    percentile 100 * (n - 10) / n — or the median when that percentile
    would be lower (fewer than 20 samples)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return statistics.median(xs), 50.0
    return xs[n - 11], 100.0 * (n - 10) / n


def lineitem_checksum(pdf) -> tuple:
    """(rows, sum l_orderkey, sum price in cents) of a fetched frame."""
    rows = len(pdf)
    if rows == 0:
        return (0, 0, 0)
    keys = int(pdf["l_orderkey"].astype("int64").sum())
    cents = int((pdf["l_extendedprice"].astype("float64") * 100).round().astype("int64").sum())
    return (rows, keys, cents)


#: the same checksum in DuckDB SQL, over any lineitem-shaped relation
CHECKSUM_SQL = (
    "SELECT count(*), coalesce(sum(l_orderkey), 0)::BIGINT, "
    "coalesce(sum(round(l_extendedprice * 100)::BIGINT), 0)::BIGINT"
)


def frame_fingerprint(pdf) -> str:
    """Order-insensitive fingerprint of a result frame (columns by name,
    rows sorted), used to confirm a query returns exactly the result that
    was already checked against the oracle."""
    import pandas as pd

    df = pdf[sorted(pdf.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns))
    df = df.reset_index(drop=True).astype(str)
    h = pd.util.hash_pandas_object(df, index=False).values
    return hashlib.sha256(h.tobytes()).hexdigest()
