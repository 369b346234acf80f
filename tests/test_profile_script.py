"""scripts/profile.py, the registry-query profiler: its per-run records, the
plans it writes only when asked, and its --compare arithmetic."""

from __future__ import annotations

import importlib.util
import json
import math
import os
from pathlib import Path

from tests.conftest import SF_DIR

ROOT = Path(__file__).resolve().parents[1]
_spec = importlib.util.spec_from_file_location(
    "registry_profile", ROOT / "scripts" / "profile.py"
)
prof = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(prof)

FIELDS = {
    "query", "run", "wall_s", "jobs", "stages", "tasks",
    "max_tasks_per_stage", "min_tasks_per_stage", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "job_s", "driver_gap_s",
    "single_task_stages",
}


def test_profile_queries_records_and_plans(spark, tmp_path):
    before = sorted(os.listdir(ROOT))
    recs = prof.profile_queries(
        spark, ["pricing_summary"], SF_DIR, runs=1, plans_dir=tmp_path / "plans"
    )
    assert [(r["query"], r["run"]) for r in recs] == [
        ("pricing_summary", 0), ("pricing_summary", 1)
    ]
    for r in recs:
        assert set(r) == FIELDS
        assert r["wall_s"] > 0
        assert r["jobs"] >= 1
        assert r["tasks"] >= r["stages"] >= 1
        assert r["max_tasks_per_stage"] >= r["min_tasks_per_stage"] >= 1
        assert len(r["job_s"]) == r["jobs"]
    assert os.listdir(tmp_path) == ["plans"]
    assert os.listdir(tmp_path / "plans") == ["pricing_summary.txt"]
    assert "Physical Plan" in (tmp_path / "plans" / "pricing_summary.txt").read_text()
    assert sorted(os.listdir(ROOT)) == before


class _FakeStore:
    """Status-store records in the REST API's shape."""

    def __init__(self, jobs, stages):
        self._jobs, self._stages = jobs, stages

    def jobs(self):
        return self._jobs

    def stage_attempts(self, stage_id):
        return self._stages[stage_id]


def _stage(sid, status, tasks, run_ms, spill=0):
    return {"stageId": sid, "status": status, "numTasks": tasks,
            "executorRunTime": run_ms, "shuffleReadBytes": 10 * tasks,
            "shuffleWriteBytes": 20 * tasks, "memoryBytesSpilled": spill,
            "diskBytesSpilled": spill}


def test_record_counts_the_groups_complete_stage_attempts():
    g = "profile-x:q#1"
    store = _FakeStore(
        jobs=[  # newest first, as the status store lists them
            {"jobId": 7, "jobGroup": g, "stageIds": [], "submissionTime": 1700,
             "completionTime": 2000},
            # a materialize_async job nests under the caller's group; its
            # span overlaps job 5's, and the gap counts the overlap once
            {"jobId": 6, "jobGroup": g + "/materialize_async-1", "stageIds": [2],
             "submissionTime": 1000, "completionTime": 1600},
            {"jobId": 5, "jobGroup": g, "stageIds": [0, 1], "submissionTime": 0,
             "completionTime": 1500},
            {"jobId": 4, "jobGroup": g + "0", "stageIds": [3], "submissionTime": 0,
             "completionTime": 9000},
            {"jobId": 3, "jobGroup": None, "stageIds": [3], "submissionTime": 0,
             "completionTime": 9000},
            {"jobId": 2, "stageIds": [3], "submissionTime": 0, "completionTime": 9000},
        ],
        stages={
            0: [_stage(0, "FAILED", 4, 0), _stage(0, "COMPLETE", 4, 3000, spill=5)],
            1: [_stage(1, "SKIPPED", 4, 0)],
            2: [_stage(2, "COMPLETE", 1, 1200)],
        },
    )
    r = prof._record(store, g, "q", 1, wall=3.0)
    assert r == {
        "query": "q", "run": 1, "wall_s": 3.0, "jobs": 3, "stages": 2,
        "tasks": 5, "max_tasks_per_stage": 4, "min_tasks_per_stage": 1,
        "shuffle_read_bytes": 50, "shuffle_write_bytes": 100, "spill_bytes": 10,
        "job_s": [1.5, 0.6, 0.3], "driver_gap_s": 1.1, "single_task_stages": [2],
    }


def test_compare_ratios_of_warmed_medians(tmp_path, capsys):
    def write(path, walls):
        lines = [{"cores": 4, "sf_dir": "x", "scale": 1, "commit": None}]
        lines += [{"query": q, "run": i, "wall_s": w}
                  for q, ws in walls.items() for i, w in enumerate(ws)]
        path.write_text("".join(json.dumps(x) + "\n" for x in lines))

    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    # run 0 is the cold pass and never enters the median
    write(a, {"q1": [99, 1.0, 3.0], "q2": [99, 2.0], "q3": [99, 1.0], "only_a": [9, 1]})
    write(b, {"q1": [1, 3.0], "q2": [1, 1.0, 1.0, 5.0], "q3": [1, 1.05]})
    prof.main(["--compare", str(a), str(b)])
    out = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert out[:3] == [
        {"query": "q1", "a_s": 2.0, "b_s": 3.0, "ratio": 1.5},
        {"query": "q2", "a_s": 2.0, "b_s": 1.0, "ratio": 0.5},
        {"query": "q3", "a_s": 1.0, "b_s": 1.05, "ratio": 1.05},
    ]
    assert out[3] == {
        "queries": 3, "geomean": round((1.5 * 0.5 * 1.05) ** (1 / 3), 3),
        "slower_10pct": 1, "faster_10pct": 1,
    }
    assert len(out) == 4 and math.isclose(out[3]["geomean"], 0.923)
