"""CDC replication (streaming/replicate.py): APPLY CHANGES INTO over the
change feed — per-key net effect, one idempotent MERGE per batch — and the
streaming replicator over the deltalite_cdf source. Plus the Delta-CDF
overwrite semantics both feeds now implement (removed rows emit as deletes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_cdc_engine.streaming.replicate import apply_changes, replicate_stream
from pyspark_cdc_engine.tables import DeltaliteTable


def _snap(t):
    return sorted(tuple(r) for r in t.read().collect())


def _mk(spark, path, n=10):
    t = DeltaliteTable(spark, str(path))
    t.overwrite(spark.range(n).select("id", (F.col("id") * 1.5).alias("v")))
    return t


def _run(spark, src, dest_path, ck, **kw):
    q = replicate_stream(
        spark, src.path, str(dest_path), ["id"], str(ck), **kw
    )
    q.awaitTermination(240)


# ---------------------------------------------------------------- batch feed


def test_read_changes_overwrite_emits_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=4)                              # v0
    t.overwrite(
        spark.createDataFrame([(2, 9.0), (50, 5.0)], ["id", "v"])
    )                                                                # v1
    feed = t.read_changes(0)
    dels = sorted(
        (r.id, r.v) for r in feed.filter("_change_type = 'delete'").collect()
    )
    ins = sorted(
        (r.id, r.v) for r in feed.filter("_change_type = 'insert'").collect()
    )
    assert dels == [(0, 0.0), (1, 1.5), (2, 3.0), (3, 4.5)]
    assert ins == [(2, 9.0), (50, 5.0)]


def test_read_changes_overwrite_skips_already_tombstoned_rows(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=4)
    t.delete("id = 1", mode="dv")                                    # v1
    t.overwrite(spark.createDataFrame([(9, 9.0)], ["id", "v"]))      # v2
    feed = t.read_changes(1)  # after the DV delete
    dels = sorted(r.id for r in feed.filter("_change_type = 'delete'").collect())
    assert dels == [0, 2, 3]  # id=1 was reported deleted by v1, not again


def test_apply_changes_batch_converges_to_source(spark, tmp_path):
    src = _mk(spark, tmp_path / "src")                               # v0
    src.append(spark.createDataFrame([(10, 10.0), (11, 11.0)], ["id", "v"]))
    src.delete("id IN (2, 10)", mode="dv")
    src.update({"v": "v + 100.0"}, "id <= 1", mode="dv")
    dest = DeltaliteTable(spark, str(tmp_path / "dest"))
    apply_changes(dest, src.read_changes(-1), ["id"])
    assert _snap(dest) == _snap(src)


def test_apply_changes_net_effect_is_one_merge(spark, tmp_path):
    """insert→update→delete of one key across the batch applies as nothing;
    the whole batch is a single commit on the replica."""
    src = _mk(spark, tmp_path / "src", n=3)
    src.append(spark.createDataFrame([(7, 7.0)], ["id", "v"]))
    src.update({"v": "77.0"}, "id = 7", mode="dv")
    src.delete("id = 7", mode="dv")
    dest = DeltaliteTable(spark, str(tmp_path / "dest"))
    dest.overwrite(spark.createDataFrame([(0, 0.0)], ["id", "v"]))
    v = apply_changes(dest, src.read_changes(-1), ["id"])
    assert v == 1  # exactly one commit applied the whole feed
    assert _snap(dest) == _snap(src)
    assert not any(r[0] == 7 for r in _snap(dest))


# ------------------------------------------------------------- streaming


def test_replicate_stream_end_to_end(spark, tmp_path):
    src = _mk(spark, tmp_path / "src")
    src.append(spark.createDataFrame([(20, 2.0), (21, 2.1)], ["id", "v"]))
    src.delete("id >= 20", mode="dv")
    src.update({"v": "v * 2.0"}, "id < 3", mode="dv")
    _run(spark, src, tmp_path / "dest", tmp_path / "ck")
    dest = DeltaliteTable(spark, str(tmp_path / "dest"))
    assert _snap(dest) == _snap(src)


def test_replicate_stream_catches_up_and_is_idempotent(spark, tmp_path):
    src = _mk(spark, tmp_path / "src", n=5)
    _run(spark, src, tmp_path / "dest", tmp_path / "ck")
    dest = DeltaliteTable(spark, str(tmp_path / "dest"))
    assert _snap(dest) == _snap(src)
    v_after_first = dest.latest_version()

    # no new source commits: a rerun delivers nothing and commits nothing
    _run(spark, src, tmp_path / "dest", tmp_path / "ck")
    assert dest.latest_version() == v_after_first

    # more DML, same checkpoint: the replica catches up incrementally
    src.append(spark.createDataFrame([(30, 3.0)], ["id", "v"]))
    src.delete("id = 0", mode="dv")
    _run(spark, src, tmp_path / "dest", tmp_path / "ck")
    assert _snap(dest) == _snap(src)


def test_replicate_stream_through_overwrite(spark, tmp_path):
    """A mid-history overwrite replicates exactly: removed keys delete,
    surviving keys take their new values, new keys insert."""
    src = _mk(spark, tmp_path / "src", n=4)
    _run(spark, src, tmp_path / "dest", tmp_path / "ck")
    src.overwrite(
        spark.createDataFrame([(2, 222.0), (40, 4.0)], ["id", "v"])
    )
    src.append(spark.createDataFrame([(41, 4.1)], ["id", "v"]))
    _run(spark, src, tmp_path / "dest", tmp_path / "ck")
    dest = DeltaliteTable(spark, str(tmp_path / "dest"))
    assert _snap(dest) == [(2, 222.0), (40, 4.0), (41, 4.1)]
    assert _snap(dest) == _snap(src)


def test_replicate_random_program_matches_snapshot(spark, tmp_path):
    """Deterministic pseudo-random DML program: replica == source snapshot
    after draining, across two stream runs."""
    import random

    rng = random.Random(42)
    src = _mk(spark, tmp_path / "src", n=20)
    next_id = 20

    def step():
        nonlocal next_id
        op = rng.choice(
            ["append", "dv_delete", "dv_update", "overwrite", "dv_merge"]
        )
        if op == "append":
            rows = [(next_id + i, float(next_id + i)) for i in range(3)]
            next_id += 3
            src.append(spark.createDataFrame(rows, ["id", "v"]))
        elif op == "dv_delete":
            src.delete(f"id % 7 = {rng.randrange(7)}", mode="dv")
        elif op == "dv_update":
            src.update(
                {"v": f"v + {rng.randrange(1, 9)}.0"},
                f"id % 5 = {rng.randrange(5)}",
                mode="dv",
            )
        elif op == "dv_merge":
            from pyspark_cdc_engine.tables import MergeClause

            batch = [
                (k, float(k * 10), "D" if k % 2 == 0 else "U")
                for k in rng.sample(range(next_id + 4), 4)
            ]
            next_id += 4
            src.merge(
                spark.createDataFrame(batch, ["id", "v", "op"]),
                "target.id = source.id",
                [
                    MergeClause("delete", "source.op = 'D'"),
                    MergeClause("update", None, {"v": "source.v"}),
                    MergeClause("insert", "source.op = 'U'",
                                {"id": "source.id", "v": "source.v"}),
                ],
                mode="dv",
            )
        else:
            keep = src.read().filter(f"id % 3 != {rng.randrange(3)}")
            src.overwrite(keep.withColumn("v", F.col("v") + F.lit(0.5)))

    for _ in range(4):
        step()
    _run(spark, src, tmp_path / "dest", tmp_path / "ck")
    dest = DeltaliteTable(spark, str(tmp_path / "dest"))
    assert _snap(dest) == _snap(src)
    for _ in range(3):
        step()
    _run(spark, src, tmp_path / "dest", tmp_path / "ck")
    assert _snap(dest) == _snap(src)


def test_replicate_rate_limited_bootstrap(spark, tmp_path):
    """max_versions_per_batch=1 pages a 3-commit history one commit per
    batch (one run each under the availableNow fallback); the replica still
    converges exactly, each batch an independently idempotent apply."""
    src = _mk(spark, tmp_path / "src", n=4)                      # v0
    src.update({"v": "v + 10.0"}, "id = 1", mode="dv")           # v1
    src.delete("id = 3", mode="dv")                              # v2
    for _ in range(3):
        q = replicate_stream(
            spark, src.path, str(tmp_path / "dest"), ["id"],
            str(tmp_path / "ck"), max_versions_per_batch=1,
        )
        q.awaitTermination(240)
    dest = DeltaliteTable(spark, str(tmp_path / "dest"))
    assert _snap(dest) == _snap(src)
    assert dest.latest_version() == 2  # bootstrap + two single-commit applies


def test_auto_compactor_bounds_append_fragmentation(spark, tmp_path):
    """Every appended micro-batch leaves one more dir (the SCD2/ingest sink
    shape); the AutoCompactor in the maintain= hook folds them back whenever
    the threshold trips — content unchanged (compaction is physical only),
    file count bounded however long the stream runs."""
    from pyspark_cdc_engine.maintenance import AutoCompactor, table_health

    t = _mk(spark, tmp_path / "t", n=5)
    ac = AutoCompactor(t, max_dirs=4, target_partitions=1)
    for i in range(10):
        t.append(spark.createDataFrame([(100 + i, float(i))], ["id", "v"]))
        ac.refresh()  # exactly what _refresh_all does per micro-batch
    assert table_health(t)["num_data_dirs"] <= 4
    assert ac.compactions >= 2
    assert sorted(r[0] for r in _snap(t)) == list(range(5)) + list(range(100, 110))


def test_auto_compactor_pays_down_dv_debt(spark, tmp_path):
    """Merge-on-read DML accumulates tombstone sidecars every reader pays to
    anti-join; the compactor materializes them once the sidecar count
    trips."""
    from pyspark_cdc_engine.maintenance import AutoCompactor, table_health

    t = _mk(spark, tmp_path / "t", n=40)
    ac = AutoCompactor(t, max_dirs=1000, max_dv_sidecars=5)
    for i in range(6):
        t.delete(f"id = {i}", mode="dv")
        ac.refresh()
    assert table_health(t)["dv_sidecars"] < 5
    assert ac.compactions >= 1
    assert sorted(r[0] for r in _snap(t)) == list(range(6, 40))


def test_apply_changes_scd2_keeps_full_history(spark, tmp_path):
    from pyspark_cdc_engine.streaming.replicate import apply_changes_scd2

    src = _mk(spark, tmp_path / "src", n=4)                      # v0: 0..3
    src.append(spark.createDataFrame([(4, 4.0)], ["id", "v"]))   # v1
    v2 = src.update({"v": "v + 100.0"}, "id = 0", mode="dv")     # v2
    v3 = src.delete("id = 1", mode="dv")                         # v3
    v4 = src.update({"v": "v + 1000.0"}, "id = 0", mode="dv")    # v4
    dest = DeltaliteTable(spark, str(tmp_path / "scd2"))
    apply_changes_scd2(dest, src.read_changes(-1), ["id"])
    hist = dest.read().collect()
    cur = sorted(
        (r.id, r.v) for r in hist if r["__is_current"]
    )
    assert cur == _snap(src)
    chain0 = sorted(
        (r["__start_version"], r["__end_version"], r.v)
        for r in hist if r.id == 0
    )
    assert chain0 == [(0, v2, 0.0), (v2, v4, 100.0), (v4, None, 1100.0)]
    chain1 = [(r["__start_version"], r["__end_version"], r["__is_current"])
              for r in hist if r.id == 1]
    assert chain1 == [(0, v3, False)]  # deleted: chain closed, no current row


def test_replicate_scd2_stream_chains_across_batches(spark, tmp_path):
    from pyspark_cdc_engine.streaming.replicate import replicate_scd2_stream

    src = _mk(spark, tmp_path / "src", n=3)                      # v0
    q = replicate_scd2_stream(spark, src.path, str(tmp_path / "scd2"),
                              ["id"], str(tmp_path / "ck"))
    q.awaitTermination(240)
    v1 = src.update({"v": "v * 10.0"}, "id = 2", mode="dv")      # v1
    v2 = src.delete("id = 0", mode="dv")                         # v2
    q = replicate_scd2_stream(spark, src.path, str(tmp_path / "scd2"),
                              ["id"], str(tmp_path / "ck"))
    q.awaitTermination(240)
    dest = DeltaliteTable(spark, str(tmp_path / "scd2"))
    hist = dest.read().collect()
    assert sorted((r.id, r.v) for r in hist if r["__is_current"]) == _snap(src)
    # the cross-batch close: id=2's bootstrap row ends at v1, not NULL
    chain2 = sorted((r["__start_version"], r["__end_version"], r.v)
                    for r in hist if r.id == 2)
    assert chain2 == [(0, v1, 3.0), (v1, None, 30.0)]
    chain0 = [(r["__start_version"], r["__end_version"]) for r in hist if r.id == 0]
    assert chain0 == [(0, v2)]
    # idempotent: re-draining with no new commits commits nothing
    v_dest = dest.latest_version()
    q = replicate_scd2_stream(spark, src.path, str(tmp_path / "scd2"),
                              ["id"], str(tmp_path / "ck"))
    q.awaitTermination(240)
    assert dest.latest_version() == v_dest


def test_apply_changes_scd2_through_overwrite(spark, tmp_path):
    """An overwrite emits delete+insert at ONE version: a surviving key's
    old state must close at that version and its new state open there —
    the within-version delete<insert ordering."""
    from pyspark_cdc_engine.streaming.replicate import apply_changes_scd2

    t = _mk(spark, tmp_path / "t", n=0)
    t.overwrite(spark.createDataFrame([(1, 1.0), (2, 2.0)], ["id", "v"]))   # v1
    t.overwrite(spark.createDataFrame([(2, 22.0), (3, 3.0)], ["id", "v"]))  # v2
    dest = DeltaliteTable(spark, str(tmp_path / "d"))
    apply_changes_scd2(dest, t.read_changes(0), ["id"])
    hist = sorted(
        (r.id, r.v, r["__start_version"], r["__end_version"], r["__is_current"])
        for r in dest.read().collect()
    )
    assert hist == [
        (1, 1.0, 1, 2, False), (2, 2.0, 1, 2, False),
        (2, 22.0, 2, None, True), (3, 3.0, 2, None, True),
    ]


def test_replicate_merge_is_file_skipping(spark, tmp_path):
    """The applied MERGE prunes replica dirs disjoint from the batch's key
    range — the 100 TB shape: small CDC batches rewrite only touched files."""
    src = DeltaliteTable(spark, str(tmp_path / "src"))
    src.overwrite(
        spark.range(100).select("id", (F.col("id") * 1.0).alias("v"))
    )
    _run(spark, src, tmp_path / "dest", tmp_path / "ck")
    dest = DeltaliteTable(spark, str(tmp_path / "dest"))
    # lay the replica out as several dirs with disjoint id ranges
    for lo in (100, 200, 300):
        dest.append(
            spark.range(lo, lo + 50).select("id", (F.col("id") * 1.0).alias("v"))
        )
        src.append(
            spark.range(lo, lo + 50).select("id", (F.col("id") * 1.0).alias("v"))
        )
    # a small update touching only low ids — but replicate only the update
    # window so the batch's key range stays narrow
    v_before = src.latest_version()
    src.update({"v": "v + 1000.0"}, "id <= 5", mode="dv")
    changes = src.read_changes(v_before)
    apply_changes(dest, changes, ["id"], txn_app="t", txn_version=99)
    hist = dest.history()[0]
    assert hist["operation"] == "merge"
    assert hist.get("pruned_dirs_kept", 0) >= 3  # untouched dirs kept as-is
    # replica converged even though src has extra history
    assert _snap(dest) == _snap(src)


# ------------------------------------------------------- jvm data-path (r7)


def test_jvm_data_path_replicates_cow_without_cdf(spark, tmp_path):
    """replicate_stream reads change rows batch-side via read_changes, which
    CAN replay cow predicates — so a cow DELETE/UPDATE history without
    materialized CDF replicates, where the executor-side change stream
    refuses (test_cdf_stream_refuses_cow_rewrites_loudly)."""
    src = _mk(spark, tmp_path / "src", n=10)          # v0
    src.delete("id >= 8")                             # v1 cow, no CDF
    src.update({"v": "v + 100.0"}, "id < 2")          # v2 cow, no CDF
    _run(spark, src, tmp_path / "dest", tmp_path / "ck")
    dest = DeltaliteTable(spark, str(tmp_path / "dest"))
    assert _snap(dest) == _snap(src)


def test_metadata_only_stream_emits_one_row_per_commit(spark, tmp_path):
    from pyspark_cdc_engine.cdf_source import read_change_stream

    src = _mk(spark, tmp_path / "src", n=5)
    src.append(spark.range(5, 8).select("id", (F.col("id") * 1.5).alias("v")))
    src.delete("id = 0", mode="dv")
    rows = []
    q = (
        read_change_stream(spark, src.path, starting_version=0,
                           metadata_only=True)
        .writeStream.foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert sorted(r["_commit_version"] for r in rows) == [0, 1, 2]


def test_jvm_data_path_rate_limited_and_idempotent(spark, tmp_path):
    src = _mk(spark, tmp_path / "src", n=4)                      # v0
    src.update({"v": "v + 10.0"}, "id = 1", mode="dv")           # v1
    src.delete("id = 3", mode="dv")                              # v2
    for _ in range(3):
        _run(spark, src, tmp_path / "dest", tmp_path / "ck",
             max_versions_per_batch=1)
    dest = DeltaliteTable(spark, str(tmp_path / "dest"))
    assert _snap(dest) == _snap(src)
    assert dest.latest_version() == 2  # bootstrap + two single-commit applies
    # replaying a fully-drained checkpoint applies nothing
    _run(spark, src, tmp_path / "dest", tmp_path / "ck")
    assert dest.latest_version() == 2


def test_auto_log_cleaner_bounds_metadata(spark, tmp_path):
    """A long-running per-batch-committing replica's metadata footprint is
    bounded by the AutoLogCleaner in the maintain= hook: history beyond
    retain_last prunes at checkpoint boundaries, the snapshot and recent
    time travel stay exact, and idempotent txn replay still dedups (the
    high-water survives pruning via the carried txn_high map)."""
    from pyspark_cdc_engine import log as txlog
    from pyspark_cdc_engine.maintenance import AutoLogCleaner

    t = _mk(spark, tmp_path / "t", n=5)
    lc = AutoLogCleaner(t, retain_last=10)
    for i in range(44):
        t.append(
            spark.createDataFrame([(100 + i, float(i))], ["id", "v"]),
            txn_app="feeder", txn_version=i,
        )
        lc.refresh()  # exactly what _refresh_all does per micro-batch
    vs = txlog.versions(t._log_dir)
    assert vs[0] > 0 and len(vs) <= 10 + txlog_interval() + 1
    assert lc.cleanups >= 1 and lc.pruned_files > 0
    # snapshot exact, recent time travel works, txn dedup intact
    assert sorted(r[0] for r in _snap(t)) == list(range(5)) + list(range(100, 144))
    assert t.read(version=vs[0]).count() > 0
    assert t.last_txn_version("feeder") == 43
    # a replayed old batch is recognized as already applied
    before = t.latest_version()
    t.append(
        spark.createDataFrame([(999, 9.9)], ["id", "v"]),
        txn_app="feeder", txn_version=3,
    )
    assert t.latest_version() == before  # no-op replay


def txlog_interval() -> int:
    from pyspark_cdc_engine.config import get_config

    return get_config().get_int("engine.log-checkpoint-interval")


# ---------------------------------------------- failure-signal fidelity (r8)


def test_read_changes_no_change_window_raises_distinct_type(spark, tmp_path):
    """The benign 'no logical changes' case is a NoChangesInWindow — a
    ValueError SUBCLASS distinct from the retention refusal — so sinks can
    swallow one without swallowing the other."""
    from pyspark_cdc_engine.tables import NoChangesInWindow

    t = _mk(spark, tmp_path / "t", n=4)                           # v0
    t.append(spark.createDataFrame([(7, 7.0)], ["id", "v"]))      # v1
    t.compact()                                                   # v2 physical
    with pytest.raises(NoChangesInWindow):
        t.read_changes(1, 2)  # window holds only the compact commit


def test_read_changes_strict_refuses_cow_merge_without_cdf(spark, tmp_path):
    """strict=True (the replication sinks' mode): a cow MERGE whose images
    dissolved into the rewrite raises instead of silently vanishing from
    the feed. Non-strict keeps the lenient ad-hoc-inspection behavior."""
    from pyspark_cdc_engine.tables import MergeClause

    t = _mk(spark, tmp_path / "t", n=6)                           # v0
    t.merge(
        spark.createDataFrame([(1, 99.0)], ["id", "v"]),
        "target.id = source.id",
        [MergeClause("update", None, {"v": "source.v"})],
    )                                                             # v1 cow merge
    t.append(spark.createDataFrame([(50, 5.0)], ["id", "v"]))     # v2
    with pytest.raises(ValueError, match="MERGE commit"):
        t.read_changes(0, 2, strict=True)
    # non-strict: the append still enumerates, merge silently absent
    assert t.read_changes(0, 2).count() == 1


def test_jvm_sink_fails_loudly_on_cow_merge_without_cdf(spark, tmp_path):
    """The replication sink must not advance the checkpoint past a commit whose
    changes it cannot enumerate (the r7 sink swallowed every ValueError and
    silently dropped cow-merge changes)."""
    from pyspark_cdc_engine.tables import MergeClause

    src = _mk(spark, tmp_path / "src", n=6)
    src.merge(
        spark.createDataFrame([(1, 99.0)], ["id", "v"]),
        "target.id = source.id",
        [MergeClause("update", None, {"v": "source.v"})],
    )  # cow merge, no CDF
    q = replicate_stream(
        spark, src.path, str(tmp_path / "dest"), ["id"], str(tmp_path / "ck")
    )
    with pytest.raises(Exception, match="MERGE commit"):
        q.awaitTermination(240)


def test_jvm_sink_fails_loudly_on_retention_pruned_window(spark, tmp_path):
    """failOnDataLoss on the metadata-only path: a replica whose checkpoint
    lags behind cleanup_log must fail the stream, not skip the pruned window
    (r7 swallowed the retention ValueError and advanced the checkpoint —
    permanent silent data loss)."""
    src = _mk(spark, tmp_path / "src", n=4)                       # v0
    _run(spark, src, tmp_path / "dest", tmp_path / "ck")          # drained @v0
    for i in range(25):                                           # v1..v25
        src.append(spark.createDataFrame([(100 + i, float(i))], ["id", "v"]))
    assert src.cleanup_log(retain_last=3)                         # prune <20
    assert src._oldest_retained() > 1
    q = replicate_stream(
        spark, src.path, str(tmp_path / "dest"), ["id"], str(tmp_path / "ck")
    )
    with pytest.raises(Exception, match="oldest retained"):
        q.awaitTermination(240)


# ------------------------------------------------------ RESTORE in the feed (r8)


def test_read_changes_restore_emits_exact_diff(spark, tmp_path):
    """RESTORE is a logical rewind, not a physical reorg: the feed derives
    its diff from the restore's add/remove (Delta CDF semantics) — pre-r8 it
    contributed nothing and replicas silently diverged across restores."""
    t = _mk(spark, tmp_path / "t", n=5)                              # v0
    t.append(spark.createDataFrame(
        [(10, 1.0), (11, 2.0), (12, 3.0)], ["id", "v"]))             # v1
    t.delete("id = 2")                                               # v2 cow
    t.restore(0)                                                     # v3
    feed = t.read_changes(2, 3)
    got = sorted((r["_change_type"], r.id) for r in feed.collect())
    # removed dirs: v1's appends + v2's rewrite (visible rows 0,1,3,4);
    # re-added dir: v0's original (0..4 return)
    assert [x for x in got if x[0] == "delete"] == [
        ("delete", 0), ("delete", 1), ("delete", 3), ("delete", 4),
        ("delete", 10), ("delete", 11), ("delete", 12),
    ]
    assert [x for x in got if x[0] == "insert"] == [
        ("insert", i) for i in range(5)
    ]


def test_read_changes_restore_resurfaces_dv_tombstones(spark, tmp_path):
    """Restoring past a DV delete re-surfaces the tombstoned rows: the
    still-live dir's DV visibility position-diff emits them as inserts."""
    t = _mk(spark, tmp_path / "t", n=5)                              # v0
    t.delete("id = 2", mode="dv")                                    # v1
    t.restore(0)                                                     # v2
    feed = t.read_changes(1, 2)
    got = sorted((r["_change_type"], r.id) for r in feed.collect())
    assert got == [("insert", 2)]
    # and the snapshot agrees
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4]


def test_jvm_replica_converges_through_restore(spark, tmp_path):
    """End to end: a jvm-path replica that applied pre-restore state folds
    the restore's diff and converges to the rewound snapshot."""
    src = _mk(spark, tmp_path / "src", n=5)                          # v0
    src.append(spark.createDataFrame([(50, 5.0)], ["id", "v"]))      # v1
    src.delete("id = 1", mode="dv")                                  # v2
    _run(spark, src, tmp_path / "dest", tmp_path / "ck")
    dest = DeltaliteTable(spark, str(tmp_path / "dest"))
    assert _snap(dest) == _snap(src)                                 # pre-restore
    src.restore(0)                                                   # v3
    _run(spark, src, tmp_path / "dest", tmp_path / "ck")
    assert _snap(dest) == _snap(src)
    assert sorted(r.id for r in dest.read().collect()) == [0, 1, 2, 3, 4]


def test_scd2_replica_tracks_history_through_restore(spark, tmp_path):
    """SCD2 through a RESTORE: the rewind's diff closes the rows it removes
    and opens history rows for what it brings back — downstream keeps full
    lineage including the rewind itself."""
    from pyspark_cdc_engine.streaming.replicate import apply_changes_scd2

    t = _mk(spark, tmp_path / "t", n=0)
    t.overwrite(spark.createDataFrame([(1, 1.0)], ["id", "v"]))         # v1
    t.update({"v": "v + 10.0"}, "id = 1")                               # v2
    t.restore(1)                                                        # v3
    dest = DeltaliteTable(spark, str(tmp_path / "d"))
    apply_changes_scd2(dest, t.read_changes(0), ["id"])
    hist = sorted(
        (r.id, r.v, r["__start_version"], r["__end_version"], r["__is_current"])
        for r in dest.read().collect()
    )
    assert hist == [
        (1, 1.0, 1, 2, False),     # original state, closed by the update
        (1, 1.0, 3, None, True),   # restored state, current again
        (1, 11.0, 2, 3, False),    # updated state, closed by the restore
    ]
    # the current rows equal the (rewound) snapshot
    cur = sorted(
        (r.id, r.v) for r in dest.read().filter("__is_current").collect()
    )
    assert cur == sorted((r.id, r.v) for r in t.read().collect())
