"""Summary statistics and the steadiness rules the benchmark reports by.

Pure functions, no Spark: ``test_stats.py`` pins them.
"""

from __future__ import annotations

import math
import re
import statistics

#: a percentile is reported only with at least this many samples beyond it
MIN_TAIL_SAMPLES = 10

_PCT_NAME = re.compile(r"_p(\d{1,2})_")


def min_samples(q: float) -> int:
    """Fewest samples that leave ``MIN_TAIL_SAMPLES`` beyond the q-th
    percentile (q in (0, 100)); the median needs none beyond it."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    if q <= 50:
        return 1
    return math.ceil(MIN_TAIL_SAMPLES * 100 / (100 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank q-th percentile, or None when ``len(values)`` cannot
    support it (see ``min_samples``). The median interpolates."""
    n = len(values)
    if n == 0 or n < min_samples(q):
        return None
    if q == 50:
        return statistics.median(values)
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * n) - 1)]


def percentile_of(metric: str) -> float | None:
    """The percentile a metric name claims (``latency_p90_ms`` → 90)."""
    m = _PCT_NAME.search(metric + "_")
    return float(m.group(1)) if m else None


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, with quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(med) if med else math.inf


def verdict(metric: dict, values: list[float], samples: list[int]) -> dict:
    """Steadiness of one end-to-end metric over repeated runs.

    ``metric`` is its ``BENCHMARK.json`` entry; ``samples`` are the runs'
    op counts. A percentile metric is refused when any run had too few
    ops to support it; ``setup_s`` is exempt from the spread rule (its
    bound guards the median only)."""
    name, bound = metric["name"], metric["bound"]
    q = percentile_of(name)
    if q is not None and samples and min(samples) < min_samples(q):
        return {
            "name": name,
            "status": "refused",
            "why": f"p{q:g} needs >= {min_samples(q)} ops, a run had {min(samples)}",
        }
    s = spread(values)
    med = statistics.median(values)
    if name == "setup_s":
        status = "exempt"
    elif s <= bound / 3:
        status = "steady"
    elif s <= bound:
        status = "within-bound"
    else:
        status = "noisy"
    return {"name": name, "median": med, "spread": s, "bound": bound, "status": status}
