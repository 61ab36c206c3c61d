"""The benchmark's own arithmetic: percentiles, the freshness join and the
spread rule. Pure functions, so the self-tests can pin them down."""

from __future__ import annotations

import math
import statistics

# a percentile is reported only when at least this many samples lie beyond it
MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, p: float) -> float | None:
    """Nearest-rank percentile ``p`` (0 < p < 1), or None when fewer than
    ``MIN_BEYOND`` samples lie above the returned rank."""
    xs = sorted(values)
    rank = math.ceil(p * len(xs))  # 1-based rank of the percentile sample
    if rank < 1 or len(xs) - rank < MIN_BEYOND:
        return None
    return float(xs[rank - 1])


def min_samples(p: float) -> int:
    """Smallest sample count for which ``percentile(·, p)`` is reported."""
    n = 1
    while n - math.ceil(p * n) < MIN_BEYOND:
        n += 1
    return n


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median — the benchmark's steadiness measure."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(median(values))


def merge_timeline(versions: list[tuple[int, float, dict]]) -> list[tuple[float, int]]:
    """(commit instant, seq_max) for every table version that made a merge
    snapshot current. ``versions`` holds (version, commit instant, metadata
    document). A version whose current snapshot is unchanged (a DDL-only
    commit) or whose new snapshot carries no seq range (a compaction, the
    snapshot phase) makes no new events visible and is left out."""
    out = []
    prev_snap = None
    for _, t, meta in sorted(versions, key=lambda v: v[0]):
        sid = meta.get("current_snapshot_id")
        if sid is not None and sid != prev_snap:
            snap = next(s for s in meta["snapshots"] if s["snapshot_id"] == sid)
            summary = snap.get("summary", {})
            if summary.get("phase") != "snapshot" and summary.get("seq_max") is not None:
                out.append((t, int(summary["seq_max"])))
        prev_snap = sid
    return out


def visible_at(seq_max: int, timeline: list[tuple[float, int]]) -> float | None:
    """Commit instant of the first merge whose seq_max covers ``seq_max``."""
    for t, hi in timeline:
        if hi >= seq_max:
            return t
    return None


def freshness(files: list[dict], timeline: list[tuple[float, int]]) -> list[float | None]:
    """Per landed file: visible instant minus due instant (None when the
    file never became visible)."""
    out = []
    for f in files:
        t = visible_at(f["seq_max"], timeline)
        out.append(None if t is None else t - f["due"])
    return out


def backlog_max(files: list[dict], timeline: list[tuple[float, int]]) -> int:
    """Largest number of files landed but not yet visible, over every
    landing and commit instant."""
    vis = [visible_at(f["seq_max"], timeline) for f in files]
    instants = sorted({f["landed"] for f in files} | {t for t, _ in timeline})
    best = 0
    for now in instants:
        pending = sum(
            1 for f, v in zip(files, vis) if f["landed"] <= now and (v is None or v > now)
        )
        best = max(best, pending)
    return best
