"""The benchmark's own arithmetic, kept free of Spark so it is unit-tested
on its own (``perfbench/tests``)."""

from __future__ import annotations

import statistics

# Candidate percentiles, highest first; a percentile is reported only when
# at least TAIL_MIN_BEYOND samples lie beyond it.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def _rank(pct: float, n: int) -> int:
    """ceil(pct/100 * n) in integer arithmetic (pct to a tenth), so that
    p95 of 200 samples is rank 190, not 191 by float rounding."""
    return -(-round(pct * 10) * n // 1000)


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    return ordered[max(1, _rank(pct, len(ordered))) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest of ``PERCENTILES`` that leaves at least
    ``TAIL_MIN_BEYOND`` of ``n`` samples beyond it, or None when even the
    median does not."""
    for pct in PERCENTILES:
        if n - _rank(pct, n) >= TAIL_MIN_BEYOND:
            return pct
    return None


def class_median_ms(samples_s: dict[str, list[float]]) -> float:
    """Median latency in ms per operation class, averaged over the classes
    with equal weight. A plain median over a two-class mix whose classes
    differ several-fold lands on the boundary between them and jumps with
    the realized mix; the per-class form does not."""
    meds = [statistics.median(v) for v in samples_s.values() if v]
    if not meds:
        raise ValueError("no latency samples")
    return 1000.0 * sum(meds) / len(meds)


def fail_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("fail_frac needs at least one attempted operation")
    return failed / attempted


def recs_answer_ok(status: int | None, items: list[dict] | None, oracle: list[tuple]) -> bool:
    """One ``GET /recs`` answer against its oracle rows
    ``[(product_id, score, reason), ...]`` in rank order. A non-200, a
    transport failure (``status`` None) or any difference counts as a
    failure; so does an empty ``items`` where the oracle has rows, which
    is how a swallowed exception inside ``recommend`` shows."""
    if status != 200 or items is None:
        return False
    got = [(int(i["product_id"]), float(i["score"]), i["reason"]) for i in items]
    return got == [(int(p), float(s), r) for p, s, r in oracle]


def stage_summary(stages: list[dict], wall_s: float, cores: int, per: int = 1) -> dict:
    """Roll status-store stage records up into one layer's counts.

    ``stages`` are the JSON form of Spark's ``StageData`` (``status``,
    ``numTasks``, ``executorRunTime`` in ms, shuffle and spill bytes), one
    per stage attempt that ran in the layer's window; skipped stages carry
    no work and are dropped. ``core_util`` is summed executor run time over
    the wall time times the core count. Counts and megabytes are divided by
    ``per`` (requests or rounds) for per-operation figures;
    ``max_stage_tasks`` and ``core_util`` are not."""
    ran = [s for s in stages if s.get("status") != "SKIPPED"]
    run_ms = sum(s.get("executorRunTime", 0) for s in ran)
    mb = 1024.0 * 1024.0
    return {
        "jobs": len({j for s in ran for j in s.get("jobIds", [])}) / per,
        "tasks": sum(s.get("numTasks", 0) for s in ran) / per,
        "max_stage_tasks": max((s.get("numTasks", 0) for s in ran), default=0),
        "core_util": run_ms / 1000.0 / (wall_s * cores) if wall_s > 0 else 0.0,
        "shuffle_mb": sum(
            s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0) for s in ran
        ) / mb / per,
        "spill_mb": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in ran
        ) / mb / per,
    }

