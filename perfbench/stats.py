"""Pure helpers of the benchmark: percentiles, tail selection, answer
digests, span self time and the run-to-run spread / bounds comparison.

Nothing here imports Spark, so the unit tests in ``perfbench/tests`` run
without a JVM.  Cells are normalized by the oracle gate's own
``norm_cell`` (``scripts/check_oracle.py``), so an answer that gate
accepts digests the same as its DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import math
import statistics
from collections.abc import Iterable, Sequence
from decimal import Decimal

from scripts.check_oracle import norm_cell

# A tail percentile is reported only with at least this many samples
# strictly beyond it (choosing-metrics rule: "the highest percentile that
# has at least ten samples beyond it").
TAIL_BEYOND = 10


def quantile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (numpy's default method)."""
    if not values:
        raise ValueError("quantile of no values")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q out of range: {q}")
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_level(n: int, target: float = 0.90, beyond: int = TAIL_BEYOND) -> float | None:
    """Highest percentile level <= ``target`` that leaves at least
    ``beyond`` of ``n`` samples above it, rounded down to a whole
    percent; None when ``n`` is too small for any such level above the
    median."""
    if n <= 0:
        return None
    level = min(target, math.floor(100 * (1 - beyond / n)) / 100)
    return level if level > 0.5 else None


# -- answer digests ---------------------------------------------------------


def canon_cell(v) -> str:
    """Stable text for a normalized cell.  Values the oracle gate counts
    as equal (``3 == 3.0 == True``, ``Decimal`` vs float) get the same
    text, so a DuckDB row and a Spark row that compare equal digest
    equal."""
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, dict):
        items = sorted((canon_cell(k), canon_cell(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    if isinstance(v, (list, tuple)):
        return "(" + ",".join(canon_cell(x) for x in v) + ")"
    v = norm_cell(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    if isinstance(v, tuple):
        return canon_cell(v)
    return repr(v)


def result_digest(rows: Iterable[Sequence], cols: Sequence[str]) -> str:
    """Order-insensitive digest of a result: columns taken in name order,
    each row as its canonical cells, rows sorted, then sha1."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha1()
    h.update("\x1e".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\x1d")
        h.update(line.encode())
    return h.hexdigest()


# -- spans ------------------------------------------------------------------


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """span id -> duration minus the part of its interval covered by its
    direct children (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(s["id"], ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# -- spread and bounds ------------------------------------------------------

# Set-up time's spread is not bounded, only its median shift.
SPREAD_EXEMPT = ("setup_s",)


def spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def worse_by(base: float, new: float, better: str) -> float:
    """How much worse ``new`` is than ``base``, as a share of ``base``;
    negative when it is better."""
    if better == "lower":
        return (new - base) / base
    if better == "higher":
        return (base - new) / base
    raise ValueError(f"better must be lower or higher, not {better!r}")


def bound_violations(
    first: dict[str, Sequence[float]],
    second: dict[str, Sequence[float]],
    metrics: Sequence[dict],
) -> list[str]:
    """Check two sets of runs of one workload against the benchmark's
    end-to-end bounds: every spread (except ``SPREAD_EXEMPT``) within its
    bound, and the second median no worse than the first by more than
    the bound.  Returns one message per violation."""
    bad = []
    for m in metrics:
        name, bound = m["name"], m["bound"]
        for label, vals in (("first", first[name]), ("second", second[name])):
            s = spread(vals)
            if name not in SPREAD_EXEMPT and s > bound:
                bad.append(f"{name}: {label} spread {s:.4f} > bound {bound}")
        w = worse_by(
            statistics.median(first[name]),
            statistics.median(second[name]),
            m["better"],
        )
        if w > bound:
            bad.append(f"{name}: second median worse by {w:.4f} > bound {bound}")
    return bad
