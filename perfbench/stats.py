"""Spark-free arithmetic of the benchmark: percentiles, result digests,
failure counting. Kept apart from the runner so its tests need no JVM.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import statistics
from typing import Any, Iterable, Sequence

#: the tail percentile keeps at least this many samples beyond it
TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def tail(values: Sequence[float]) -> dict[str, Any]:
    """Highest-percentile sample that still has ``TAIL_BEYOND`` samples
    strictly beyond it (by rank) in the sorted list.

    For n samples that is the sample of 0-based rank n - TAIL_BEYOND - 1,
    i.e. percentile (n - TAIL_BEYOND) / n: with 20 samples it is the
    median, with 100 the 90th percentile, with 1000 the 99th. Fewer than
    TAIL_BEYOND + 1 samples have no such tail; the maximum is reported
    then and ``rank`` says so.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = max(0, n - TAIL_BEYOND - 1)
    return {
        "value": float(xs[rank]) if n > TAIL_BEYOND else float(xs[-1]),
        "rank": rank if n > TAIL_BEYOND else n - 1,
        "samples": n,
        "percentile": round(100.0 * (rank + 1) / n, 2) if n > TAIL_BEYOND else 100.0,
    }


def norm_value(v: Any) -> str:
    """Canonical text of one result value. Floats follow the engine's
    oracle comparison (tools/compare_oracle.py): NaN is one token,
    integral floats print as floats, others by exact repr; -0.0 keeps
    its sign. Nested values normalise element-wise."""
    if v is None:
        return "None"
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return repr(v)
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, int):
        return repr(int(v))
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f") if v == v else "NaN"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:  # Arrow hands Spark timestamps back tz-aware
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return repr(v)


def digest(columns: Sequence[str], rows: Iterable[Sequence[Any]]) -> dict[str, Any]:
    """Order-independent digest of a result: sorted column names, row
    count and the sum (mod 2^128) of a per-row sha256 over the row's
    values in sorted-column order. Row order and column order do not
    change it; any value change does."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    n = 0
    for row in rows:
        text = "\x1f".join(norm_value(row[i]) for i in order)
        acc = (acc + int.from_bytes(hashlib.sha256(text.encode()).digest()[:16], "big")) % (1 << 128)
        n += 1
    return {"columns": [columns[i] for i in order], "rows": n, "hash": f"{acc:032x}"}


class Failures:
    """Counts attempted and failed operations. An operation fails when
    it raises or when its output check does not match; the run goes on
    either way."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, name: str, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(f"{name}: {reason}"[:300])

    @property
    def share(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
