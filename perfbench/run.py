#!/usr/bin/env python3
"""CDC engine benchmark: closed-loop ingest through the public entry points.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_bulk_inserts --seed 1 --seconds 10 --trace 0

Each CDC workload is a closed loop with one client.  A step lands one batch of
GoldenGate files; the SCD2 query (``cdc_to_scd2_stream``, availableNow) runs to
completion on its checkpoint; then the SCD1 query (``scd2_to_scd1_stream``)
does the same; only then does the next batch land.  So load never queues
ahead of the engine and latency cannot grow with run length.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics, gathered from outside the engine
(StreamingQueryProgress, the UI REST job list, and timing wrappers
around ``DeltaliteTable.append``/``DeltaliteTable.merge``/``scd1.merge_scd1``
installed in this process).  Earlier lines carry a human-readable metric table
and a ``context`` record (box, versions, session overrides, sample counts).
See ``perfbench/README.md`` for why each workload exists and which end-to-end
metric each layer metric should move.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import workload as wl  # noqa: E402

# Per-workload sizing.  ``step_tx``/``step_docs`` land per step.
BULK = {
    "boot_tx": 250,          # the cold set-up step bootstraps orders_current
    "step_tx": 1000,
}
TRICKLE = {
    "seed_tx": 10,           # population seeded as 10 bulk transactions ...
    "orders_per_seed_tx": 1000,  # ... of 1,000 orders each
    "step_docs": 850,        # about 200 update transactions
    "late_share": 0.1,       # metadata lands 1..max_delay steps after events
    "max_delay": 2,
}
# The measured phase is round(--seconds / STEP_NOMINAL_S) steps.  The step
# count comes from this constant, never from measured step time, so a faster
# or slower engine runs the same work.
STEP_NOMINAL_S = 10.0
# Spark's own default heap; the engine's 16g default is more than a 15 GB
# box has.
DRIVER_MEMORY = "1g"


# ------------------------------------------------------------------ utilities
def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


class RssSampler:
    """Peak summed memory of this process's descendants (the driver JVM and
    the Python workers it forks), sampled every ``period`` seconds.  Each
    process counts its proportional set size, so pages a forked worker
    shares with the worker daemon are not counted once per worker."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self.at_peak: dict[str, float] = {}
        self._t0 = time.perf_counter()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _descendants(root: int) -> list[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        out = []
        for pid in parent:
            p = parent.get(pid)
            while p and p != root:
                p = parent.get(p)
            if p == root:
                out.append(pid)
        return out

    def _sample(self) -> dict[str, int]:
        kb: dict[str, int] = {"java": 0, "python": 0, "procs": 0}
        for pid in self._descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    kind = "java" if f.read().strip() == "java" else "python"
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            kb[kind] += int(line.split()[1])
                            kb["procs"] += 1
                            break
            except OSError:
                continue
        return kb

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = self._sample()
            if kb["java"] + kb["python"] > self.peak_kb:
                self.peak_kb = kb["java"] + kb["python"]
                self.at_peak = {"java_mb": kb["java"] // 1024,
                                "python_mb": kb["python"] // 1024, "procs": kb["procs"],
                                "t_s": round(time.perf_counter() - self._t0, 1)}
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def progress_dicts(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def spin_ms() -> float:
    """Median time of a fixed pure-Python loop: a probe of the box's speed
    at that moment, so a slow run can be told apart from a slow engine."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i
        times.append((time.perf_counter() - t0) * 1000)
    return median(times)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (``steal``)."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def source_digest() -> str:
    h = hashlib.sha1()
    pkg = ROOT / "pyspark_cdc_engine"
    for f in sorted(pkg.rglob("*.py")):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


# ------------------------------------------------------------------- tracing
class Tracer:
    """Per-layer numbers gathered from outside the engine.

    Wrappers around the public ``DeltaliteTable.append``/``merge`` and
    ``scd1.merge_scd1`` run on the driver inside ``foreachBatch``; they time
    the wrapped call and, outside the timed part, read the table's live data
    dirs to count what the call wrote and rewrote.  Job/stage/task counts
    come from the UI REST API: every job with an id above the last one seen
    belongs to the step (the loop runs one thing at a time).  GC time and
    peak used heap come from the driver JVM's management beans."""

    def __init__(self, spark):
        import pyspark_cdc_engine.scd1 as scd1
        from pyspark_cdc_engine.tables import DeltaliteTable

        self.calls: list[dict] = []
        self._undo = []
        self._last_job = -1
        self._ui = spark.sparkContext.uiWebUrl
        self._app = spark.sparkContext.applicationId
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap = [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]
        self._gc_ms = 0

        def live(table) -> set[str]:
            return set(table.live_data_dirs()) if table.exists() else set()

        def wrap_table(name):
            orig = getattr(DeltaliteTable, name)

            def wrapper(table, *a, **kw):
                before = live(table)
                t0 = time.perf_counter()
                try:
                    return orig(table, *a, **kw)
                finally:
                    dt = time.perf_counter() - t0
                    after = live(table)
                    df = a[0] if a else kw.get("df", kw.get("source"))
                    rows = df.count() if name == "append" else 0
                    self.calls.append({
                        "op": name, "s": dt, "rows": rows,
                        "added_bytes": _dir_bytes(after - before),
                        "rewritten_rows": _parquet_rows(before - after),
                        "dirs_kept": len(before & after),
                    })

            setattr(DeltaliteTable, name, wrapper)
            self._undo.append(lambda: setattr(DeltaliteTable, name, orig))

        wrap_table("append")
        wrap_table("merge")
        orig_merge_scd1 = scd1.merge_scd1

        def merge_scd1(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig_merge_scd1(*a, **kw)
            finally:
                self.calls.append({"op": "merge_scd1", "s": time.perf_counter() - t0})

        scd1.merge_scd1 = merge_scd1
        self._undo.append(lambda: setattr(scd1, "merge_scd1", orig_merge_scd1))
        self.take_step()  # start the cursors after session warm-up

    def close(self) -> None:
        for undo in reversed(self._undo):
            undo()

    def take_step(self) -> dict:
        """Everything traced since the previous call: wrapper calls, jobs,
        GC time and peak used heap (whose peaks are then reset)."""
        calls, self.calls = self.calls, []
        gc_ms = sum(b.getCollectionTime() for b in self._gcs)
        heap = sum(p.getPeakUsage().getUsed() for p in self._heap)
        for p in self._heap:
            p.resetPeakUsage()
        jvm = {"gc_ms": float(gc_ms - self._gc_ms), "heap_peak_mb": heap / 2**20}
        self._gc_ms = gc_ms
        return {"calls": calls, "jobs": self.jobs_since(), "jvm": jvm}

    def _get(self, path: str):
        import urllib.request

        url = f"{self._ui}/api/v1/applications/{self._app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def jobs_since(self) -> dict:
        """Jobs, completed stages and completed tasks of every job that
        started since the previous call."""
        for _ in range(100):  # the status store trails job completion briefly
            jobs = [j for j in self._get("jobs") if j["jobId"] > self._last_job]
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.05)
        if jobs:
            self._last_job = max(j["jobId"] for j in jobs)
        return {
            "jobs": len(jobs),
            "stages": sum(j["numCompletedStages"] for j in jobs),
            "tasks": sum(j["numCompletedTasks"] for j in jobs),
        }


def _dir_bytes(dirs) -> int:
    return sum(f.stat().st_size for d in dirs for f in Path(d).rglob("*.parquet"))


def _parquet_rows(dirs) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for d in dirs for f in Path(d).rglob("*.parquet"))


# ------------------------------------------------------------- CDC pipeline
class Pipeline:
    """One source-dir pair, one ``order_stream``, one ``orders_current``, and
    the two query checkpoints; ``step`` is one closed-loop operation."""

    def __init__(self, spark, root: Path):
        from pyspark_cdc_engine.tables import DeltaliteTable

        self.spark, self.root = spark, root
        for d in ("cdc", "meta", "staging"):
            (root / d).mkdir(parents=True)
        self.scd2 = DeltaliteTable(spark, str(root / "order_stream"))
        self.scd1 = DeltaliteTable(spark, str(root / "orders_current"))
        self.landings = 0

    def step(self, batch: wl.Batch) -> dict:
        from pyspark_cdc_engine.scd1 import scd2_to_scd1_stream
        from pyspark_cdc_engine.streaming.pipeline import cdc_to_scd2_stream

        r = self.root
        wl.land(batch, r / "cdc", r / "meta", r / "staging", f"step{self.landings:05d}")
        self.landings += 1
        t_land = time.perf_counter()
        q2 = cdc_to_scd2_stream(self.spark, str(r / "cdc"), str(r / "meta"), self.scd2,
                                str(r / "ckpt_scd2"))
        q2.awaitTermination()
        t_scd2 = time.perf_counter()
        q1 = scd2_to_scd1_stream(self.spark, self.scd2, self.scd1, str(r / "ckpt_scd1"))
        q1.awaitTermination()
        t_scd1 = time.perf_counter()
        return {
            "docs": batch.docs,
            "keys": batch.keys,
            "t_land": t_land,
            "t_scd1": t_scd1,
            "scd2_s": t_scd2 - t_land,
            "scd1_s": t_scd1 - t_land,
            "p2": progress_dicts(q2),
            "p1": progress_dicts(q1),
        }


def check_cdc(pipe: Pipeline, model: wl.CdcModel) -> list[str]:
    """Compare ``order_stream`` and ``orders_current`` with the model."""
    errors = []
    got = pipe.scd2.read().select("xid", "orderId").toPandas()
    got_pairs = sorted(zip(got["xid"], got["orderId"].astype("int64")))
    want_pairs = sorted(model.pairs)
    if got_pairs != want_pairs:
        errors.append(
            f"order_stream: {len(got_pairs)} (xid, orderId) rows, expected "
            f"{len(want_pairs)}; {len(set(got_pairs) ^ set(want_pairs))} differ")

    cur = pipe.scd1.read()
    orders = cur.selectExpr(
        "CAST(orderId AS BIGINT) AS oid", "version", "orderStatus", "totalAmount",
        "customerId", "orderDetails.version AS dver",
        "orderDetails.deliveryStatus AS dstatus",
    ).toPandas()
    items = cur.selectExpr("CAST(orderId AS BIGINT) AS oid", "explode(lineItems) AS li") \
        .selectExpr("oid", "CAST(li.lineItemId AS BIGINT) AS liid", "li.version AS v",
                    "li.itemQty AS qty", "li.itemPrice AS price", "li.productId AS pid") \
        .toPandas()
    want_orders = sorted(
        (oid, float(o["VERSION"]), o["ORDER_STATUS"], float(o["TOTAL_AMOUNT"]),
         o["CUSTOMER_ID"], float(model.details[oid]["VERSION"]),
         model.details[oid]["DELIVERY_STATUS"])
        for oid, o in model.orders.items())
    got_orders = sorted(orders.itertuples(index=False, name=None))
    if got_orders != want_orders:
        n = len(set(got_orders) ^ set(want_orders))
        errors.append(f"orders_current: {len(got_orders)} orders, expected "
                      f"{len(want_orders)}; {n} order/detail images differ")
    want_items = sorted(
        (oid, liid, float(it["VERSION"]), float(it["ITEM_QTY"]), float(it["ITEM_PRICE"]),
         it["PRODUCT_ID"])
        for oid, its in model.items.items() for liid, it in its.items())
    got_items = sorted(items.itertuples(index=False, name=None))
    if got_items != want_items:
        n = len(set(got_items) ^ set(want_items))
        errors.append(f"orders_current: {len(got_items)} line items, expected "
                      f"{len(want_items)}; {n} differ")
    return errors


def _dur(progress: list[dict], key: str) -> float:
    return float(sum(p.get("durationMs", {}).get(key, 0) for p in progress))


def _state(progress: list[dict], key: str) -> float:
    return float(sum(op.get(key, 0) for p in progress for op in p.get("stateOperators", [])))


def _last_state(progress: list[dict], key: str) -> float:
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    return float(ops[-1].get(key, 0)) if ops else 0.0


def layer_sample(step: dict, traced: dict) -> dict:
    """Per-layer numbers of one step (medians across steps are reported)."""
    p2, p1 = step["p2"], step["p1"]
    calls, jobs, jvm = traced["calls"], traced["jobs"], traced["jvm"]
    appends = [c for c in calls if c["op"] == "append"]
    merges = [c for c in calls if c["op"] == "merge"]
    merge_scd1 = [c for c in calls if c["op"] == "merge_scd1"]
    emitted = sum(c["rows"] for c in appends)  # order_stream rows = SCD1 source rows
    return {
        "tx_state.update_ms": _state(p2, "allUpdatesTimeMs"),
        "tx_state.commit_ms": _state(p2, "commitTimeMs"),
        "tx_state.state_rows": _last_state(p2, "numRowsTotal"),
        "tx_state.state_bytes": _last_state(p2, "memoryUsedBytes"),
        "tx_state.completed_per_key": emitted / max(step["keys"], 1),
        "pipeline.scd2_query_s": step["scd2_s"],
        "pipeline.scd1_query_s": step["scd1_s"] - step["scd2_s"],
        "pipeline.query_planning_ms": _dur(p2, "queryPlanning") + _dur(p1, "queryPlanning"),
        "pipeline.add_batch_ms": _dur(p2, "addBatch") + _dur(p1, "addBatch"),
        "pipeline.commit_ms": sum(_dur(p, k) for p in (p2, p1)
                                  for k in ("walCommit", "commitOffsets")),
        "sources.latest_offset_ms": _dur(p2, "latestOffset"),
        "sources.get_batch_ms": _dur(p2, "getBatch"),
        "spark.jobs": float(jobs["jobs"]),
        "spark.stages": float(jobs["stages"]),
        "spark.tasks": float(jobs["tasks"]),
        "tables.append_s": sum(c["s"] for c in appends),
        "tables.append_bytes": float(sum(c["added_bytes"] for c in appends)),
        "tables.read_stream_latest_offset_ms": _dur(p1, "latestOffset"),
        "scd1.merge_s": sum(c["s"] for c in merge_scd1),
        "scd1.rewritten_rows_per_source_row":
            sum(c["rewritten_rows"] for c in merges) / max(emitted, 1),
        "scd1.dirs_kept": float(sum(c["dirs_kept"] for c in merges)),
        "jvm.gc_ms": jvm["gc_ms"],
        "jvm.heap_peak_mb": jvm["heap_peak_mb"],
    }


# ----------------------------------------------------------------- workloads
def run_cdc(spark, kind: str, seed: int, seconds: float, work: Path, tracer,
            rss: RssSampler) -> dict:
    """Set up one pipeline, run the closed loop, check the outputs.

    Set-up runs two steps through both queries.  The first, cold step
    bootstraps ``orders_current`` (``cdc_bulk_inserts``: ``BULK["boot_tx"]``
    insert transactions; ``cdc_trickle_updates``: the whole population as a
    few 1,000-order transactions).  The second is a step of the measured
    kind: it makes the first SCD1 merge, and on ``cdc_trickle_updates`` it
    parks transactions that are still parked when measuring starts.  Then
    ``round(seconds / STEP_NOMINAL_S)`` measured steps run.  On
    ``cdc_trickle_updates`` an unmeasured drain step follows, releasing every
    held-back metadata document, so every transaction is complete when the
    outputs are checked."""
    trickle = kind == "cdc_trickle_updates"
    n_steps = max(1, round(seconds / STEP_NOMINAL_S))
    model = wl.CdcModel(seed)
    pipe = Pipeline(spark, work / "pipe")
    t0 = time.perf_counter()
    if trickle:
        boot = model.insert_batch(0, TRICKLE["seed_tx"], TRICKLE["orders_per_seed_tx"])
        batches = [model.update_batch(n, TRICKLE["step_docs"], TRICKLE["late_share"],
                                      TRICKLE["max_delay"]) for n in range(1, 2 + n_steps)]
    else:
        boot = model.insert_batch(0, BULK["boot_tx"])
        batches = [model.insert_batch(n, BULK["step_tx"]) for n in range(1, 2 + n_steps)]
    t_gen = time.perf_counter()
    steps, samples = [], []
    try:
        pipe.step(boot)
        pipe.step(batches.pop(0))
        t_setup = time.perf_counter()
        if tracer:
            tracer.take_step()
        for batch in batches:
            steps.append(pipe.step(batch))
            if tracer:
                samples.append(layer_sample(steps[-1], tracer.take_step()))
        t_measured = time.perf_counter()
        rss.stop()  # the drain and the check are not measured
        if trickle:
            pipe.step(model.update_batch(pipe.landings, 0, 0.0, 0, drain=True))
    except Exception as e:  # a failed step ends the run and fails it
        print(f"step {pipe.landings - 1} failed: {type(e).__name__}: {e}"[:2000],
              file=sys.stderr)
        return {"attempted": pipe.landings, "failed": 1, "errors": ["step failed"]}

    t_check = time.perf_counter()
    errors = check_cdc(pipe, model)
    if model.parked_txs:
        errors.append(f"{model.parked_txs} transactions still parked after the drain step")
    t_start = steps[0]["t_land"]
    wall = steps[-1]["t_scd1"] - t_start
    out = {
        "attempted": pipe.landings,
        "failed": 0,
        "errors": errors,
        "samples": {"steps": len(steps)},
        "steps_s": [[round(s["scd2_s"], 3), round(s["scd1_s"], 3)] for s in steps],
        "phases_s": {"setup": t_setup - t0, "measure": wall,
                     "drain": t_check - t_measured,
                     "check": time.perf_counter() - t_check},
        "e2e": {
            "events_per_s": sum(s["docs"] for s in steps) / wall,
            "scd2_freshness_s.p50": median([s["scd2_s"] for s in steps]),
            "scd1_freshness_s.p50": median([s["scd1_s"] for s in steps]),
        },
    }
    if tracer:
        layers = {k: median([s[k] for s in samples]) for k in samples[0]}
        layers["tables.log_versions"] = float(pipe.scd2.latest_version() + 1)
        layers["pipeline.warm_step_s"] = t_setup - t_gen
        layers["seed.population_s"] = t_gen - t0
        out["layers"] = layers
    return out


WORKLOADS = ("cdc_bulk_inserts", "cdc_trickle_updates")

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "events_per_s": "1/s",
    "scd2_freshness_s.p50": "s",
    "scd1_freshness_s.p50": "s",
}


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_key") or name.endswith("_per_source_row"):
        return "ratio"
    return "count"


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes), and
    wait until it and every process it started have exited; kill what is
    left after 30 s."""
    from pyspark import SparkContext

    started = RssSampler._descendants(os.getpid())
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            return
        time.sleep(0.2)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------------------------------------------------------------------- main
def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "pyspark_cdc_engine").is_dir():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    nproc = os.cpu_count() or 1
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    spin_start = spin_ms()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # Every temp file the engine, PySpark and the JVM write stays in the
    # checkout: tempfile honours TMPDIR, the JVM its java.io.tmpdir.
    os.environ["TMPDIR"] = str(tmp)
    import tempfile

    tempfile.tempdir = str(tmp)
    overrides = {
        "spark.master": f"local[{nproc}]",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "spark-local"),
        # The whole heap is committed and touched at start, so the heap is a
        # constant 1 GB of peak_rss_mb instead of growing at a GC-dependent
        # moment; heap pressure shows in jvm.gc_ms.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    }
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            from pyspark_cdc_engine.session import get_spark

            spark = get_spark(
                app_name="perfbench",
                master=overrides["spark.master"],
                extra_confs={k: v for k, v in overrides.items() if k != "spark.master"},
                warehouse_dir=str(work / "warehouse"),
            )
            session_s = time.perf_counter() - t0
            tracer = Tracer(spark) if args.trace else None
            try:
                res = run_cdc(spark, args.workload, args.seed, args.seconds, work, tracer,
                              rss)
            finally:
                if tracer:
                    tracer.close()
        import pandas
        import pyspark

        context = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc,
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "cpu_steal_share": steal_share(cpu_start, cpu_times()),
            "box_spin_ms": [spin_start, spin_ms()],
            "memory_at_peak": rss.at_peak,
            "commit": git_commit(), "engine_sha1": source_digest(),
            "spark": spark.version, "pyspark": pyspark.__version__,
            "pandas": pandas.__version__, "python": sys.version.split()[0],
            "session_overrides": overrides,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "samples": res.get("samples"),
            "steps_s": res.get("steps_s"),
            "phases_s": {"session": session_s, **res.get("phases_s", {})},
            "errors": res["errors"],
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass

    e2e = dict(res.get("e2e", {}))
    e2e["setup_s"] = session_s + res.get("phases_s", {}).get("setup", 0.0)
    e2e["peak_rss_mb"] = rss.peak_mb
    if args.trace:
        layers = res.get("layers", {})
        layers["session.get_spark_s"] = session_s
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}
        print("traced end-to-end " + json.dumps(e2e, sort_keys=True))
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in sorted(e2e.items())}
    for err in res["errors"]:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    print("context " + json.dumps(context, sort_keys=True))
    for k, m in metrics.items():
        print(f"  {k:45s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({
        "correct": not res["errors"] and not res["failed"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if not res["errors"] and not res["failed"] else 1


if __name__ == "__main__":
    sys.exit(main())
