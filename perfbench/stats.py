"""Pure-Python statistics used by the benchmark (no Spark import).

- ``percentile``: linear interpolation between closest ranks (the
  numpy default), so one definition serves medians and tails.
- ``tail_percentile``: the highest standard percentile that still has
  at least ten samples beyond it. With fewer than 20 samples no
  percentile above the median qualifies and the median is reported,
  named as such.
- ``open_loop_freshness``: per-event freshness for a fixed-rate
  schedule where the event at offset ``o`` is due at ``t0 + (o - o0) / rate``.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def tail_percentile(n: int, beyond: int = MIN_BEYOND) -> float:
    """Highest candidate percentile p with n * (1 - p/100) >= beyond."""
    for p in TAIL_CANDIDATES:
        if n * (1.0 - p / 100.0) >= beyond - 1e-9:
            return p
    return 50.0


def pct_name(p: float) -> str:
    return "p" + (f"{p:g}".replace(".", "_"))


def summarize(values: Sequence[float]) -> dict:
    """Median and tail of a sample, with the sample count and the name
    of the percentile used as the tail."""
    p = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": percentile(values, 50.0),
        "tail": percentile(values, p),
        "tail_pct": pct_name(p),
    }


def open_loop_freshness(
    batches: Iterable[tuple[int, int, float]], t0: float, rate: float, o0: int
) -> list[float]:
    """Freshness of every event applied on an open-loop schedule.

    `batches`: ``(first_offset, end_offset_exclusive, done_time)`` per
    trigger. An event is due at ``t0 + (offset - o0) / rate``; its
    freshness is ``done_time - due``."""
    out: list[float] = []
    for first, end, done in batches:
        out.extend(done - (t0 + (o - o0) / rate) for o in range(first, end))
    return out
