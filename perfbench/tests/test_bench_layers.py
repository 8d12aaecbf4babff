"""The event-log parser and span attribution."""

import os

import pytest

import layers

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


def test_parse_recorded_log():
    # recorded from local[2]: job 0 = range(100).count() (2 stages, the
    # second reads a shuffle), job 1 = a 4-partition noop write
    with open(LOG, encoding="utf-8") as f:
        jobs, tasks = layers.parse_event_log(f)
    assert [j["id"] for j in jobs] == [0, 1]
    assert [len(j["stages"]) for j in jobs] == [2, 1]
    assert all(j["end_ms"] >= j["submit_ms"] for j in jobs)
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t)
        assert t["finish_ms"] >= t["launch_ms"]
        assert t["dur_s"] == pytest.approx((t["finish_ms"] - t["launch_ms"]) / 1000)
    first, second = jobs[0]["stages"]
    assert sum(t["shuffle_write_bytes"] for t in by_stage[min(first, second)]) > 0
    assert len(by_stage[jobs[1]["stages"][0]]) == 4


def _job(i, submit, stages):
    return {"id": i, "submit_ms": submit, "end_ms": submit + 50, "stages": stages}


def _task(stage, launch, dur_ms, shuffle=0):
    return {"stage": stage, "launch_ms": launch, "finish_ms": launch + dur_ms,
            "dur_s": dur_ms / 1000, "gc_s": 0.0, "shuffle_write_bytes": shuffle, "spill_bytes": 0}


def test_overlapping_ranged_jobs_attribute_to_their_span():
    # run_ranged: jobs 1 and 2 come from two pool threads and overlap in
    # time; their tasks interleave.  Job 3 re-lists stage 11 (skipped,
    # reused shuffle output) and runs stage 13 in the next span.
    spans = [
        {"name": "exact", "start_ms": 0, "end_ms": 100, "rows": 10},
        {"name": "sign", "start_ms": 100, "end_ms": 400, "rows": 10},
        {"name": "candidates", "start_ms": 400, "end_ms": 500, "rows": 4},
    ]
    jobs = [_job(0, 10, [10]), _job(1, 120, [11]), _job(2, 125, [12]), _job(3, 410, [11, 13])]
    tasks = [
        _task(10, 20, 30),
        _task(11, 130, 200, shuffle=7), _task(12, 131, 100), _task(11, 140, 50), _task(12, 240, 90),
        _task(13, 420, 40),
        _task(99, 600, 10),  # a stage no job lists
    ]
    groups = layers.attribute(spans, jobs, tasks)
    assert [j["id"] for j in groups["sign"]["jobs"]] == [1, 2]
    assert sorted(t["stage"] for t in groups["sign"]["tasks"]) == [11, 11, 12, 12]
    assert [t["stage"] for t in groups["candidates"]["tasks"]] == [13]
    assert [t["stage"] for t in groups[None]["tasks"]] == [99]

    m = layers.layer_metrics(spans, jobs, tasks, cores=4)
    assert m["sign.jobs"] == 2
    assert m["sign.task_s"] == pytest.approx(0.44)
    assert m["sign.max_task_s"] == pytest.approx(0.2)
    assert m["sign.shuffle_write_bytes"] == 7
    assert m["sign.wall_s"] == pytest.approx(0.3)
    assert m["sign.driver_s"] == pytest.approx(0.3 - 0.44 / 4)
    assert m["verify.wall_s"] == m["verify.jobs"] == m["verify.driver_s"] == 0
    assert len(m) == len(layers.STAGES) * len(layers.STAGE_FIELDS)

    totals = layers.window_totals(jobs, tasks, 100, 500)
    assert totals["op.jobs"] == 3 and totals["op.shuffle_bytes"] == 7


def test_prefix_commits_fold_into_one_stage():
    spans = layers.Spans()

    class FakeLedger:
        def entry(self, stage):
            return {"rows": 3}

        def run(self, spark, stage, fn):
            return fn()

        def run_ranged(self, spark, stage, fn):
            return fn()

    from wdedup_spark.sources import ledger as ledger_mod

    real = ledger_mod.StageLedger
    ledger_mod.StageLedger = FakeLedger
    try:
        with spans.around_ledger():
            fl = FakeLedger()
            for st in ("prefix_corpus", "prefix_bounds", "prefix"):
                fl.run(None, st, lambda: None)
            fl.run_ranged(None, "sign", lambda: None)
        assert FakeLedger.run.__name__ == "run"  # restored
    finally:
        ledger_mod.StageLedger = real
    assert [s["name"] for s in spans.spans] == ["prefix", "prefix", "prefix", "sign"]
    assert [s["rows"] for s in spans.spans] == [None, None, 3, 3]
