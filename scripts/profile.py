#!/usr/bin/env python
"""Registry-query profiler: each run's wall time and the jobs, stages, tasks
per stage, shuffle and spill behind it, one JSON line per run.

Per named ``REGISTRY`` query: one cold pass (``run`` 0), then ``--runs``
warmed noop-sink passes, each under its own job group. After a pass it reads
that group's jobs, then the COMPLETE attempts of their stages, from the
status store the UI REST API serves (``jobs``, ``stages/<id>``), in-process,
so a session with ``spark.ui.enabled=false`` profiles too. A header line
gives ``cores`` (``SPARK_GRAFT_CPUS``, as the session factory reads it),
``sf_dir``, ``scale`` and the ``commit`` of the imported engine's checkout.
``job_s`` gives the job durations by job id, ``driver_gap_s`` the wall time in
which no job ran, ``single_task_stages`` the one-task stages over 1 s.

    python scripts/profile.py kmeans_distortion_report --runs 2
    SPARK_GRAFT_CPUS=2 python scripts/profile.py q1 q2 >> prof.jsonl
    python scripts/profile.py q1 --scale 10      # on a 10x copy of the data
    python scripts/profile.py --compare a.jsonl b.jsonl

``--compare`` gives per query the ratio B/A of the median warmed walls, then
the geomean and the counts of queries more than 10% slower or faster. Records
go to stdout, Spark's logs to stderr, so ``>>`` pools runs in one file.

A/B of two commits, never rewriting the working tree: the checkout first on
``PYTHONPATH`` supplies the engine; alternate the sides, each run with the
untouched control ``pricing_summary``::

    git worktree add ../base <commit>
    for i in 1 2 3; do
      PYTHONPATH=../base python scripts/profile.py pricing_summary Q >> a.jsonl
      python scripts/profile.py pricing_summary Q >> b.jsonl
    done
    python scripts/profile.py --compare a.jsonl b.jsonl
    git worktree remove ../base
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile
import time
import uuid
from pathlib import Path

# this file shadows the stdlib `profile` that cProfile imports: drop its dir;
# the checkout goes last, so one put first on PYTHONPATH (the A/B recipe) wins
_HERE = Path(__file__).resolve().parent
sys.path[:] = [p for p in sys.path if Path(p or ".").resolve() != _HERE] + [str(_HERE.parent)]

from pyspark_cdc_engine.operators import REGISTRY  # noqa: E402
from pyspark_cdc_engine.session import get_spark  # noqa: E402


class _StatusStore:
    """Job and stage records of the session's status store, as JSON dicts
    with the REST API's field names (times in epoch milliseconds)."""

    def __init__(self, spark) -> None:
        sc, jvm = spark.sparkContext, spark.sparkContext._jvm
        self._jsc, self._list = sc._jsc.sc(), jvm.java.util.ArrayList
        self._empty = sc._gateway.new_array(jvm.double, 0)
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        self._jsc.listenerBus().waitUntilEmpty()  # the last job's end event
        return self._json(self._jsc.statusStore().jobsList(None))

    def stage_attempts(self, stage_id: int) -> list[dict]:
        return self._json(self._jsc.statusStore().stageData(
            stage_id, False, self._list(), False, self._empty))


def _record(store: _StatusStore, group: str, query: str, run: int, wall: float) -> dict:
    # a materialize_async thread runs under "<group>/..." (checkpointing.py)
    jobs = [j for j in store.jobs() if (j.get("jobGroup") or "").split("/")[0] == group]
    stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
    stages = [a for s in stage_ids for a in store.stage_attempts(s) if a["status"] == "COMPLETE"]
    tasks = [s["numTasks"] for s in stages]
    done = sorted((j for j in jobs if j.get("completionTime")), key=lambda j: j["jobId"])
    busy_ms, end = 0, 0  # length of the union of the job spans
    for t0, t1 in sorted((j["submissionTime"], j["completionTime"]) for j in done):
        busy_ms, end = busy_ms + max(0, t1 - max(t0, end)), max(end, t1)
    return {
        "query": query, "run": run, "wall_s": round(wall, 3),
        "jobs": len(jobs), "stages": len(stages), "tasks": sum(tasks),
        "max_tasks_per_stage": max(tasks, default=0),
        "min_tasks_per_stage": min(tasks, default=0),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
        "job_s": [round((j["completionTime"] - j["submissionTime"]) / 1000, 3) for j in done],
        "driver_gap_s": round(wall - busy_ms / 1000, 3),
        "single_task_stages": [s["stageId"] for s in stages
                               if s["numTasks"] == 1 and s["executorRunTime"] > 1000],
    }


def profile_queries(spark, names: list[str], sf_dir: str, runs: int,
                    plans_dir: Path | None = None) -> list[dict]:
    """One cold and ``runs`` warmed noop-sink passes per query, one record
    each; with ``plans_dir``, also ``<plans_dir>/<query>.txt`` holding the
    query's ``explain("formatted")``."""
    sc = spark.sparkContext
    store = _StatusStore(spark)
    tag = uuid.uuid4().hex[:8]  # group names stay unique across calls
    out = []
    for name in names:
        for run in range(runs + 1):
            group = f"profile-{tag}:{name}#{run}"
            sc.setJobGroup(group, f"profile {name} run {run}")
            try:
                t0 = time.perf_counter()
                df = REGISTRY[name].spark(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                wall = time.perf_counter() - t0
            finally:
                sc._jsc.clearJobGroup()
            out.append(_record(store, group, name, run, wall))
            if plans_dir is not None and run == 0:
                plans_dir.mkdir(parents=True, exist_ok=True)
                plan = sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
                (plans_dir / f"{name}.txt").write_text(plan)
    return out


def _scaled_dir(spark, sf_dir: str, k: int) -> str:
    """A ``k``x copy of ``sf_dir`` under the first Spark local dir, built by
    the bench's generator on first use and reused after."""
    local = (os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
             or spark.sparkContext.getConf().get("spark.local.dir", tempfile.gettempdir()))
    dest = Path(local) / f"profile_{Path(sf_dir).name}_x{k}"
    if not (dest / "_BUILT").exists():
        from bench import build_scaled_dir
        build_scaled_dir(spark, sf_dir, k, str(dest))
        (dest / "_BUILT").touch()
    return str(dest)


def compare(a_path: str, b_path: str) -> list[dict]:
    def medians(path: str) -> dict[str, float]:
        walls: dict[str, list[float]] = {}
        for line in Path(path).read_text().splitlines():
            r = json.loads(line)
            if r.get("run", 0) >= 1:
                walls.setdefault(r["query"], []).append(r["wall_s"])
        return {q: statistics.median(w) for q, w in walls.items()}

    a, b = medians(a_path), medians(b_path)
    rows = [{"query": q, "a_s": a[q], "b_s": b[q], "ratio": round(b[q] / a[q], 3)}
            for q in sorted(a.keys() & b.keys())]
    ratios = [r["b_s"] / r["a_s"] for r in rows]
    geomean = round(math.exp(statistics.fmean(map(math.log, ratios))), 3) if rows else None
    return rows + [{"queries": len(rows), "geomean": geomean,
                    "slower_10pct": sum(r > 1.1 for r in ratios),
                    "faster_10pct": sum(r < 1 / 1.1 for r in ratios)}]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="REGISTRY query names")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3, help="warmed passes after the cold one")
    ap.add_argument("--scale", type=int, default=1, metavar="K", help="profile on a Kx copy")
    ap.add_argument("--plans", type=Path, metavar="DIR", help="write explain plans here")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"), help="compare two outputs")
    args = ap.parse_args(argv)
    unknown = sorted(set(args.names) - REGISTRY.keys())
    if not args.compare and (unknown or not args.names):
        ap.error(f"not REGISTRY queries: {unknown}" if unknown else "name a query")

    def emit(records: list[dict]) -> None:
        for r in records:
            print(json.dumps(r), flush=True)

    if args.compare:
        return emit(compare(*args.compare))
    spark = get_spark(app_name="profile")
    data = _scaled_dir(spark, args.sf_dir, args.scale) if args.scale > 1 else args.sf_dir
    engine = Path(sys.modules["pyspark_cdc_engine"].__file__).parent
    commit = subprocess.run(["git", "-C", engine, "rev-parse", "HEAD"],
                            capture_output=True, text=True).stdout.strip() or None
    emit([{"cores": spark.sparkContext.defaultParallelism, "sf_dir": args.sf_dir,
           "scale": args.scale, "commit": commit}])
    for name in args.names:  # each query's lines as soon as it is done
        emit(profile_queries(spark, [name], data, args.runs, args.plans))


if __name__ == "__main__":
    main()
