"""The benchmark's own arithmetic, without Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import metrics, stats  # noqa: E402
from perfbench.oracle import with_seed  # noqa: E402
from perfbench.spans import Span, in_window  # noqa: E402


@pytest.mark.parametrize(
    "n, pct",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct is not None:
        ordered = list(range(n))
        beyond = [v for v in ordered if v > stats.percentile(ordered, pct)]
        assert len(beyond) >= stats.TAIL_MIN_BEYOND


def test_percentile_is_nearest_rank():
    samples = [float(i) for i in range(1, 201)]  # 1..200
    assert stats.percentile(samples, 95.0) == 190.0
    assert stats.percentile(samples, 50.0) == 100.0
    assert stats.percentile([3.0], 99.0) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50.0)


ORACLE = [(7, 3.0, "co-occurrence"), (2, 1.0, "co-occurrence")]


def test_wrong_but_empty_recs_answer_is_a_failure():
    assert stats.recs_answer_ok(200, [], ORACLE) is False
    # empty is right only where the oracle is empty too
    assert stats.recs_answer_ok(200, [], []) is True


def test_recs_answer_checks_status_order_and_values():
    items = [{"product_id": p, "score": s, "reason": r} for p, s, r in ORACLE]
    assert stats.recs_answer_ok(200, items, ORACLE)
    assert not stats.recs_answer_ok(500, items, ORACLE)
    assert not stats.recs_answer_ok(None, None, ORACLE)  # transport failure
    assert not stats.recs_answer_ok(200, items[::-1], ORACLE)
    assert not stats.recs_answer_ok(200, [{**items[0], "score": 2.0}, items[1]], ORACLE)


def test_fail_frac_counts_a_swallowed_exception():
    good = [{"product_id": p, "score": s, "reason": r} for p, s, r in ORACLE]
    answers = [(200, good)] * 9 + [(200, [])]  # recommend() swallowed one error
    failed = sum(not stats.recs_answer_ok(st, it, ORACLE) for st, it in answers)
    assert stats.fail_frac(len(answers), failed) == pytest.approx(0.1)
    with pytest.raises(ValueError):
        stats.fail_frac(0, 0)


def _stage(sid, tasks, run_ms, jobs, status="COMPLETE", shuffle=0, spill=0):
    return {"stageId": sid, "status": status, "numTasks": tasks, "executorRunTime": run_ms,
            "jobIds": jobs, "shuffleReadBytes": shuffle, "shuffleWriteBytes": shuffle,
            "memoryBytesSpilled": spill, "diskBytesSpilled": 0}


def test_stage_summary_from_synthetic_records():
    stages = [
        _stage(0, 1, 2000, [0]),                      # one busy scan task
        _stage(1, 8, 2000, [0], shuffle=2**20),       # shuffle stage
        _stage(2, 32, 0, [1], status="SKIPPED"),      # skipped: no work
        _stage(3, 4, 4000, [2], spill=2**21),
    ]
    s = stats.stage_summary(stages, wall_s=2.0, cores=4)
    assert s["max_stage_tasks"] == 8
    assert s["tasks"] == 13
    assert s["jobs"] == 2
    assert s["core_util"] == pytest.approx(8.0 / (2.0 * 4))
    assert s["shuffle_mb"] == pytest.approx(2.0)
    assert s["spill_mb"] == pytest.approx(2.0)
    per = stats.stage_summary(stages, wall_s=2.0, cores=4, per=2)
    assert per["tasks"] == 6.5 and per["max_stage_tasks"] == 8
    assert per["core_util"] == s["core_util"]


def test_one_busy_task_on_four_cores_reads_as_quarter_utilization():
    s = stats.stage_summary([_stage(0, 1, 1000, [0])], wall_s=1.0, cores=4)
    assert s["max_stage_tasks"] == 1 and s["core_util"] == pytest.approx(0.25)


def test_stages_are_attributed_by_submission_time():
    spans = [Span(1, "a", 10.0, 11.0), Span(2, "a", 20.0, 21.0)]
    stages = [{"stageId": i, "submissionTime": t} for i, t in
              enumerate([10_500, 15_000, 20_000, 21_000, None])]
    assert [s["stageId"] for s in in_window(stages, spans)] == [0, 2, 3]


def test_class_median_weights_classes_equally():
    lat = {"product": [0.1, 0.2, 0.3], "customer": [1.0, 1.1, 1.2, 5.0]}
    assert stats.class_median_ms(lat) == pytest.approx(1000 * (0.2 + 1.15) / 2)


def test_seed_substitution_in_recs_oracle_sql():
    sql = "WHERE c1.product_id = 1 AND c2.product_id <> 1 AND o_custkey = 1 LIMIT 10"
    assert with_seed(sql, 42) == (
        "WHERE c1.product_id = 42 AND c2.product_id <> 42 AND o_custkey = 42 LIMIT 10")
    with pytest.raises(ValueError):
        with_seed("SELECT 1", 3)


def test_benchmark_json_matches_declared_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in metrics.PER_LAYER]
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_client_rate_counts_whole_cycles_only():
    from perfbench.recs_serve import _client_rate

    # product answers take 1 s, customer answers 3 s, from t=0
    done = [(1.0, True), (4.0, True), (5.0, True), (8.0, True), (9.0, True)]
    assert _client_rate(done, 0.0) == pytest.approx(4 / 8.0)
    assert _client_rate(done[:4], 0.0) == pytest.approx(4 / 8.0)
    assert _client_rate([(8.0, False), (4.0, True)], 0.0) == pytest.approx(1 / 8.0)
    assert _client_rate([(2.0, True)], 0.0) == pytest.approx(0.5)


def test_steal_frac():
    from perfbench.rss import steal_frac

    assert steal_frac((10, 1000), (60, 2000)) == pytest.approx(0.05)
    assert steal_frac((10, 1000), (10, 1000)) == 0.0
