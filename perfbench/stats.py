"""Pure helpers of the benchmark: seeded schedules, percentiles and the
tail rule, metric naming, and the result line's schema. No Spark here, so
``perfbench/tests`` can pin all of it without a JVM.
"""

from __future__ import annotations

import math
import random
import re
import statistics

#: Metric names: a letter or digit, then letters, digits, ``_ . -``.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

#: Percentiles the tail rule may report, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: Samples that must lie beyond a percentile before it may be reported.
TAIL_MIN_BEYOND = 10


def rng(seed: int, *stream: object) -> random.Random:
    """An independent generator per (seed, stream): ``rng(7, "reader", 2)``
    never shares draws with ``rng(7, "writer")``. String seeding is stable
    across processes and Python versions (it hashes with SHA-512)."""
    return random.Random(":".join(map(str, (seed, *stream))))


def pass_order(names: list[str], seed: int, stream: str, n: int) -> list[str]:
    """The ``n``-th pass over ``names`` in the order fixed by ``seed``."""
    out = list(names)
    rng(seed, stream, "pass", n).shuffle(out)
    return out


def another_pass(elapsed: float, passes: int, seconds: float) -> bool:
    """Whether one more pass brings the measured time closer to
    ``seconds``: passes last ``elapsed / passes`` on average."""
    return elapsed + elapsed / passes / 2 < seconds


def slice_keys(n_slices: int, seed: int) -> list[int]:
    """The writer's slice keys: a seeded permutation of ``range(n_slices)``."""
    keys = list(range(n_slices))
    rng(seed, "writer").shuffle(keys)
    return keys


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie beyond the ``p``-th percentile."""
    return math.floor(n * (100.0 - p) / 100.0 + 1e-9)


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ``TAIL_MIN_BEYOND``
    samples beyond it. Below ``2 * TAIL_MIN_BEYOND`` samples no tail can be
    told from the body, and the rule falls back to the median."""
    best = TAIL_LADDER[0]
    for p in TAIL_LADDER:
        if beyond(n, p) >= TAIL_MIN_BEYOND:
            best = p
    return best


def latency_tail(values: list[float]) -> tuple[float, float, int]:
    """``(percentile, value, samples beyond it)`` under the tail rule."""
    p = tail_percentile(len(values))
    return p, percentile(values, p), beyond(len(values), p)


def per_key_medians(samples: list[tuple[str, float]]) -> dict[str, float]:
    """Median latency of each operation name. Aggregating per name first
    makes a run's figure independent of how many times each name ran."""
    by: dict[str, list[float]] = {}
    for key, value in samples:
        by.setdefault(key, []).append(value)
    return {k: statistics.median(v) for k, v in by.items()}


def check_name(name: str) -> str:
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def result_line(
    correct: bool,
    attempted: int,
    failed: int,
    metrics: dict[str, tuple[float, str]],
) -> dict:
    """The run's final stdout object, validated."""
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            check_name(k): {"value": float(v), "unit": u}
            for k, (v, u) in metrics.items()
        },
    }
    validate(out, list(metrics))
    return out


def validate(obj: dict, names: list[str]) -> None:
    """Raise ``ValueError`` unless ``obj`` is a well-formed result line
    carrying exactly the metrics ``names``."""
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(obj)}")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct must be a bool")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool):
            raise ValueError(f"{k} must be an int")
    if obj["attempted"] < 1 or not 0 <= obj["failed"] <= obj["attempted"]:
        raise ValueError("need attempted >= 1 and 0 <= failed <= attempted")
    if sorted(obj["metrics"]) != sorted(names):
        raise ValueError(f"metrics {sorted(obj['metrics'])} != {sorted(names)}")
    for name, m in obj["metrics"].items():
        check_name(name)
        if set(m) != {"value", "unit"}:
            raise ValueError(f"metric {name} keys {sorted(m)}")
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise ValueError(f"metric {name} value {v!r}")
        if not math.isfinite(v):
            raise ValueError(f"metric {name} is not finite")
        if not UNIT_RE.match(m["unit"]):
            raise ValueError(f"metric {name} unit {m['unit']!r}")
