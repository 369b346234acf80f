"""Protocol-level tests for the delta-encoded deltalite log (log.py):
commit size independent of table size, linear log growth, parquet
checkpoints + replay equivalence, legacy snapshot-doc compatibility, and
cache safety across a table recreated at the same path.

These exercise only the metadata protocol — no SparkSession needed — so a
thousand-commit history runs in milliseconds (the scale claim the r6 verdict
asked to be proven by measurement, not argument: pre-r7 the log was
O(commits x live_dirs), quadratic for an append-heavy table)."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest

from pyspark_cdc_engine import log as txlog
from pyspark_cdc_engine.tables import DeltaliteTable


def _table(tmp_path: Path) -> DeltaliteTable:
    # protocol-only: no reads, so no SparkSession required
    return DeltaliteTable(spark=None, path=str(tmp_path / "t"))


def _append_commits(t: DeltaliteTable, n: int, start: int = 0) -> None:
    for i in range(start, start + n):
        base, commit = t._snapshot()
        live = list(commit.get("live") or []) + [f"data/{i:010d}-deadbeef"]
        t._write_commit(
            "append",
            live,
            {
                "schema": '{"type":"struct","fields":[]}',
                "dir_stats": {f"data/{i:010d}-deadbeef": {"id": [i, i]}},
            },
            base,
            commit,
        )


def _json_bytes(log_dir: Path) -> dict[int, int]:
    return {int(p.stem): p.stat().st_size for p in log_dir.glob("*.json")}


def test_commit_size_independent_of_table_size(tmp_path):
    t = _table(tmp_path)
    _append_commits(t, 400)
    sizes = _json_bytes(t._log_dir)
    # an append commit's doc stays the same size whether the table holds 10
    # dirs or 400 — the heart of the 100 TB fix (pre-r7: doc v grew as O(v))
    assert sizes[390] <= sizes[10] * 1.5
    # total log growth is LINEAR: the second half of the history costs about
    # as many bytes as the first half (quadratic growth would make it ~3x)
    first_half = sum(b for v, b in sizes.items() if v < 200)
    second_half = sum(b for v, b in sizes.items() if v >= 200)
    assert second_half < first_half * 1.5
    # and the state still reconstructs completely
    state = t._read_commit(399)
    assert len(state["live"]) == 400
    assert state["dir_stats"]["data/0000000399-deadbeef"] == {"id": [399, 399]}


def test_checkpoints_cut_on_interval_and_bound_replay(tmp_path):
    t = _table(tmp_path)
    _append_commits(t, 45)
    cvs = txlog.checkpoint_versions(t._log_dir)
    assert cvs == [20, 40]
    lc = json.loads((t._log_dir / "_last_checkpoint").read_text())
    assert lc["version"] == 40
    # reconstruction through the checkpoint == full replay from genesis
    txlog._STATE_CACHE.clear()
    via_ckpt = txlog.state_at(t._log_dir, 44)
    full = None
    for _v, state, _doc in txlog.replay_states(t._log_dir, end=44):
        full = state
    assert via_ckpt["live"] == full["live"]
    assert via_ckpt["dir_stats"] == full["dir_stats"]
    assert via_ckpt["schema"] == full["schema"]


def test_time_travel_matches_replay_at_every_version(tmp_path):
    t = _table(tmp_path)
    _append_commits(t, 30)
    expected = {
        v: state["live"] for v, state, _ in txlog.replay_states(t._log_dir)
    }
    txlog._STATE_CACHE.clear()
    for v in (0, 7, 19, 20, 21, 29):  # spanning checkpoint boundaries
        assert t._read_commit(v)["live"] == expected[v], v


def test_carried_metadata_written_only_on_change(tmp_path):
    t = _table(tmp_path)
    _append_commits(t, 5)
    base, commit = t._snapshot()
    t._write_commit(
        "add_constraint", commit["live"],
        {"constraints": {"c": "id > 0"}, "schema": commit["schema"]},
        base, commit,
    )
    _append_commits(t, 3, start=5)
    # the appends after the constraint commit do not restate it on disk...
    for v in (6, 7, 8):
        assert "constraints" not in txlog.raw_doc(t._log_dir, v)
    # ...yet it rides forward through replay
    assert t._read_commit(8)["constraints"] == {"c": "id > 0"}
    # and schema, unchanged since version 0, was written exactly once
    with_schema = [
        v for v in t._versions()
        if "schema" in txlog.raw_doc(t._log_dir, v)
    ]
    assert with_schema == [0]


def test_remove_drops_live_and_stats(tmp_path):
    t = _table(tmp_path)
    _append_commits(t, 4)
    base, commit = t._snapshot()
    survivors = [d for d in commit["live"] if not d.startswith("data/0000000001")]
    t._write_commit("delete", survivors, {}, base, commit)
    state = t._read_commit(base + 1)
    assert state["live"] == sorted(survivors)
    assert "data/0000000001-deadbeef" not in state.get("dir_stats", {})
    doc = txlog.raw_doc(t._log_dir, base + 1)
    assert doc["remove"] == ["data/0000000001-deadbeef"]
    assert doc["add"] == []


def test_legacy_snapshot_docs_still_replay(tmp_path):
    """Pre-r7 snapshot-style commits (full `live` list in every doc) act as
    state resets; a mixed log — legacy history, delta-encoded tail — replays
    correctly."""
    t = _table(tmp_path)
    log_dir = t._log_dir
    log_dir.mkdir(parents=True)
    for v, live in enumerate((["data/a"], ["data/a", "data/b"])):
        doc = {
            "version": v, "timestamp": 1000.0 + v, "operation": "append",
            "live": live, "constraints": {"k": "x > 0"},
        }
        (log_dir / f"{v:020d}.json").write_text(json.dumps(doc))
    assert t._read_commit(1)["live"] == ["data/a", "data/b"]
    assert t._read_commit(1)["constraints"] == {"k": "x > 0"}
    # new-format commit on top of the legacy base
    base, commit = t._snapshot()
    t._write_commit(
        "append", commit["live"] + ["data/c"], {}, base, commit
    )
    state = t._read_commit(2)
    assert state["live"] == ["data/a", "data/b", "data/c"]
    assert state["constraints"] == {"k": "x > 0"}  # carried across formats
    assert txlog.raw_doc(log_dir, 2)["add"] == ["data/c"]


def test_per_commit_fields_do_not_leak_forward(tmp_path):
    t = _table(tmp_path)
    _append_commits(t, 2)
    base, commit = t._snapshot()
    t._write_commit(
        "delete", commit["live"],
        {"delete_where": "id = 1", "dv_delete": True}, base, commit,
    )
    _append_commits(t, 1, start=2)
    latest = t._read_commit(t.latest_version())
    assert "delete_where" not in latest
    assert "dv_delete" not in latest
    assert t._read_commit(base + 1)["delete_where"] == "id = 1"


def test_state_cache_survives_table_recreation(tmp_path):
    t = _table(tmp_path)
    _append_commits(t, 3)
    assert len(t._read_commit(2)["live"]) == 3  # populate cache
    shutil.rmtree(t._root)
    t2 = _table(tmp_path)
    _append_commits(t2, 5)
    # same path, new table: the stat-signature guard must not serve the old
    # table's cached state
    assert len(t2._read_commit(2)["live"]) == 3
    assert len(t2._read_commit(4)["live"]) == 5


def test_concurrent_write_still_detected(tmp_path):
    from pyspark_cdc_engine.tables import ConcurrentWriteError

    t = _table(tmp_path)
    _append_commits(t, 2)
    base, commit = t._snapshot()
    t._write_commit("append", commit["live"] + ["data/x"], {}, base, commit)
    with pytest.raises(ConcurrentWriteError):
        t._write_commit("append", commit["live"] + ["data/y"], {}, base, commit)


def test_reserved_extra_keys_rejected(tmp_path):
    t = _table(tmp_path)
    _append_commits(t, 1)
    base, commit = t._snapshot()
    with pytest.raises(ValueError, match="protocol"):
        t._write_commit("append", commit["live"], {"add": ["x"]}, base, commit)


# ------------------------------------------------------------- log retention
def test_cleanup_log_prunes_and_retained_state_is_exact(tmp_path):
    t = _table(tmp_path)
    _append_commits(t, 45)  # checkpoints at 20, 40
    expected_live = {
        v: t._read_commit(v)["live"] for v in range(40, 45)
    }
    deleted = t.cleanup_log(retain_last=4)
    assert deleted  # docs 0..39 + checkpoint 20 went away
    assert txlog.versions(t._log_dir)[0] == 40
    assert txlog.checkpoint_versions(t._log_dir) == [40]
    txlog._STATE_CACHE.clear()
    for v in range(40, 45):
        assert t._read_commit(v)["live"] == expected_live[v], v
    # appends + the next checkpoint keep working on the pruned log
    _append_commits(t, 20, start=45)
    assert t.latest_version() == 64
    assert 60 in txlog.checkpoint_versions(t._log_dir)
    assert len(t._read_commit(64)["live"]) == 65


def test_cleanup_log_noop_without_old_enough_checkpoint(tmp_path):
    t = _table(tmp_path)
    _append_commits(t, 10)  # no checkpoint yet below latest-5
    assert t.cleanup_log(retain_last=5) == []
    assert txlog.versions(t._log_dir)[0] == 0


def test_cleanup_log_dry_run_deletes_nothing(tmp_path):
    t = _table(tmp_path)
    _append_commits(t, 30)
    names = t.cleanup_log(retain_last=5, dry_run=True)
    assert names and txlog.versions(t._log_dir)[0] == 0


def test_pruned_time_travel_raises(tmp_path):
    t = _table(tmp_path)
    _append_commits(t, 30)
    t.cleanup_log(retain_last=5)
    txlog._STATE_CACHE.clear()
    with pytest.raises(FileNotFoundError):
        t._read_commit(3)


def test_replay_states_seeds_from_boundary_checkpoint(tmp_path):
    """A pruned log must replay the FULL snapshot at the boundary — seeding
    from {} would make vacuum see long-lived dirs as unreferenced and delete
    live data."""
    t = _table(tmp_path)
    _append_commits(t, 30)
    t.cleanup_log(retain_last=5)
    states = list(txlog.replay_states(t._log_dir))
    assert states[0][0] == 20
    assert len(states[0][1]["live"]) == 21  # all dirs ever appended, not 1
    assert len(states[-1][1]["live"]) == 30


def test_replay_states_raises_on_checkpointless_pruned_log(tmp_path):
    t = _table(tmp_path)
    _append_commits(t, 30)
    t.cleanup_log(retain_last=5)
    txlog.checkpoint_path(t._log_dir, 20).unlink()
    with pytest.raises(FileNotFoundError, match="corrupt"):
        list(txlog.replay_states(t._log_dir))


def test_cleanup_requires_checkpoint_boundary(tmp_path):
    t = _table(tmp_path)
    _append_commits(t, 30)
    with pytest.raises(ValueError, match="checkpoint"):
        txlog.cleanup(t._log_dir, keep_from=7)


def test_txn_high_survives_cleanup(tmp_path):
    """Delta's SetTransaction-in-checkpoint analog: idempotent-writer dedup
    must survive pruning the commits that recorded the markers."""
    t = _table(tmp_path)
    base, commit = t._snapshot()
    t._write_commit(
        "append", ["data/0000000000-deadbeef"],
        {"schema": "{}", "txn": {"app": "repl", "version": 7}},
        base, commit,
    )
    _append_commits(t, 44, start=1)  # checkpoints at 20, 40
    assert t.last_txn_version("repl") == 7
    t.cleanup_log(retain_last=4)
    txlog._STATE_CACHE.clear()
    assert txlog.versions(t._log_dir)[0] == 40  # the marker's commit is gone
    assert t.last_txn_version("repl") == 7     # ...but the high-water is not
    assert t.last_txn_version("ghost") is None


def test_last_txn_version_reads_no_commit_docs(tmp_path, monkeypatch):
    """Every idempotent write asks last_txn_version first: on a warm snapshot
    it answers from the carried txn_high map, without re-reading any commit
    doc — its cost must not grow with table history."""
    t = _table(tmp_path)
    base, commit = t._snapshot()
    t._write_commit(
        "append", ["data/0000000000-deadbeef"],
        {"schema": "{}", "txn": {"app": "sink", "version": 3}},
        base, commit,
    )
    _append_commits(t, 29, start=1)
    t._read_commit(t.latest_version())  # warm the snapshot cache
    reads = []
    real = txlog.raw_doc
    monkeypatch.setattr(txlog, "raw_doc", lambda d, v: reads.append(v) or real(d, v))
    assert t.last_txn_version("sink") == 3
    assert t.last_txn_version("ghost") is None
    assert reads == []


def test_txn_high_takes_max_and_never_rides_docs(tmp_path):
    t = _table(tmp_path)
    for i, v in enumerate([5, 3, 9]):
        base, commit = t._snapshot()
        live = list(commit.get("live") or []) + [f"data/{i:010d}-cafebabe"]
        t._write_commit(
            "append", live, {"schema": "{}", "txn": {"app": "a", "version": v}},
            base, commit,
        )
    assert t.last_txn_version("a") == 9
    for v in txlog.versions(t._log_dir):
        assert "txn_high" not in txlog.raw_doc(t._log_dir, v)
    base, commit = t._snapshot()
    with pytest.raises(ValueError, match="txn_high"):
        t._write_commit("append", commit["live"], {"txn_high": {"a": 99}},
                        base, commit)


def test_pruned_change_feed_raises(tmp_path, spark):
    from pyspark_cdc_engine.tables import DeltaliteTable as DT

    t = DT(spark, str(tmp_path / "ct"))
    t.overwrite(spark.range(10).selectExpr("id", "id AS v"))
    for i in range(25):
        t.append(spark.range(100 + i, 101 + i).selectExpr("id", "id AS v"))
    t.cleanup_log(retain_last=3)
    oldest = t._oldest_retained()
    assert oldest > 0
    with pytest.raises(ValueError, match="pruned"):
        t.read_changes(-1, t.latest_version())
    with pytest.raises(ValueError, match="pruned"):
        t.read_changes(oldest - 2, t.latest_version())
    # from the boundary on, the feed still answers
    n = t.read_changes(oldest, t.latest_version()).count()
    assert n == t.latest_version() - oldest


def test_pruned_cdf_stream_raises(tmp_path, spark):
    from pyspark_cdc_engine.cdf_source import read_change_stream
    from pyspark_cdc_engine.tables import DeltaliteTable as DT

    t = DT(spark, str(tmp_path / "st"))
    t.overwrite(spark.range(5).selectExpr("id", "id AS v"))
    for i in range(25):
        t.append(spark.range(100 + i, 101 + i).selectExpr("id", "id AS v"))
    t.cleanup_log(retain_last=3)
    stream = read_change_stream(spark, t.path, starting_version=0)
    q = (stream.writeStream.format("noop")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    with pytest.raises(Exception, match="retained|pruned|snapshot"):
        q.awaitTermination(300)
        raise RuntimeError("stream should have failed on the pruned start")


def test_vacuum_on_pruned_log_keeps_live_data(tmp_path, spark):
    """The data-loss scenario the checkpoint-seeded replay prevents: dirs
    appended BEFORE the retention boundary are still live — vacuum must keep
    them even though their add-commits are pruned; dirs genuinely dead
    (replaced by compact) still age out."""
    from pyspark_cdc_engine.tables import DeltaliteTable as DT

    t = DT(spark, str(tmp_path / "vt"))
    t.overwrite(spark.range(50).selectExpr("id", "id AS v"))
    for i in range(24):
        t.append(spark.range(1000 + i, 1001 + i).selectExpr("id", "id AS v"))
    t.compact()  # rewrites everything: the old dirs become tombstones
    t.cleanup_log(retain_last=3)
    assert t._oldest_retained() > 0
    before = set(t.read().toPandas()["id"])
    dead = t.vacuum(retain_hours=0.0)
    assert dead  # the pre-compact dirs aged out
    after = set(t.read().toPandas()["id"])
    assert after == before == set(range(50)) | set(range(1000, 1024))


def test_cleanup_log_time_window_blocks_young_history(tmp_path):
    """retain_hours: commits younger than the window stay even when
    retain_last alone would prune them; retain_hours=0 restores the
    version-count behavior (everything is 'old enough')."""
    t = _table(tmp_path)
    _append_commits(t, 45)  # all stamped 'now'
    assert t.cleanup_log(retain_last=4, retain_hours=1.0) == []
    assert txlog.versions(t._log_dir)[0] == 0
    assert t.cleanup_log(retain_last=4, retain_hours=0.0)
    assert txlog.versions(t._log_dir)[0] == 40


# ---------------------------------------------------- protocol property test
from hypothesis import given, settings
from hypothesis import strategies as st

_op_strategy = st.lists(
    st.fixed_dictionaries({
        "n_remove": st.integers(0, 3),
        "txn": st.one_of(
            st.none(),
            st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 9)),
        ),
        "schema_bump": st.booleans(),
    }),
    min_size=1,
    max_size=40,
)


@given(ops=_op_strategy, interval=st.integers(2, 7), prune_at=st.integers(0, 39))
@settings(max_examples=60, deadline=None)
def test_log_protocol_roundtrip_under_random_histories(
    ops, interval, prune_at, tmp_path_factory
):
    """For ANY commit history (random add/remove/txn/schema sequences), any
    checkpoint interval, and a cleanup at any eligible boundary: the
    reconstructed latest state equals a brute-force fold of the full
    pre-pruning doc history — live set, stats keys, schema, and txn
    high-waters all exact, via state_at AND via replay_states."""
    log_dir = tmp_path_factory.mktemp("plog") / "_log"
    log_dir.mkdir()
    rng_live: list[str] = []
    expect_live: set[str] = set()
    expect_th: dict[str, int] = {}
    expect_schema = None
    state: dict = {}
    for v, op in enumerate(ops):
        removes = rng_live[: op["n_remove"]]
        rng_live = rng_live[op["n_remove"]:]
        new_dir = f"data/{v:010d}-prop"
        extra: dict = {"dir_stats": {new_dir: {"id": [v, v]}}}
        if op["schema_bump"]:
            extra["schema"] = f'{{"v": {v}}}'
            expect_schema = extra["schema"]
        if op["txn"]:
            app, tv = op["txn"]
            extra["txn"] = {"app": app, "version": tv}
            expect_th[app] = max(expect_th.get(app, tv), tv)
        live = sorted((set(rng_live) | {new_dir}))
        rng_live.append(new_dir)
        expect_live = set(live)
        doc, state = txlog.encode_commit(
            state, "append", live, extra, v, timestamp=1000.0 + v
        )
        txlog.link_commit(log_dir, v, doc)
        txlog.after_commit(log_dir, v, state, checkpoint_interval=interval)
    latest = len(ops) - 1
    cvs = txlog.checkpoint_versions(log_dir)
    eligible = [c for c in cvs if 0 < c <= min(prune_at, latest)]
    if eligible:
        txlog.cleanup(log_dir, eligible[-1])
    txlog._STATE_CACHE.clear()
    got = txlog.state_at(log_dir, latest)
    assert set(got["live"]) == expect_live
    assert set(got.get("dir_stats") or {}) == expect_live
    assert got.get("schema") == expect_schema
    assert got.get("txn_high", {}) == expect_th
    *_ , (rv, rstate, _doc) = txlog.replay_states(log_dir)
    assert rv == latest
    assert set(rstate["live"]) == expect_live
    assert rstate.get("txn_high", {}) == expect_th


def test_cleanup_deletes_docs_newest_first(tmp_path, monkeypatch):
    """Doc deletion order is newest-first so a racing reader only ever sees
    a genesis prefix + the retained suffix (oldest-first would briefly
    expose an oldest doc that is neither genesis nor checkpoint-backed)."""
    t = _table(tmp_path)
    _append_commits(t, 30)
    calls: list[int] = []
    real = txlog.commit_path

    def rec(log_dir, v):
        calls.append(v)
        return real(log_dir, v)

    monkeypatch.setattr(txlog, "commit_path", rec)
    txlog.cleanup(t._log_dir, keep_from=20)
    doomed = list(range(20))
    assert calls[-len(doomed):] == sorted(doomed, reverse=True)


def test_replay_states_reseeds_across_mid_log_gap(tmp_path):
    """The state a racing reader sees mid-cleanup (docs deleted newest-first:
    prefix {0..7} + retained {20..}) replays EXACTLY — the prefix from
    genesis, the suffix re-seeded from the boundary checkpoint. Applying a
    delta doc across the gap would silently corrupt the live set."""
    t = _table(tmp_path)
    _append_commits(t, 30)  # v0..29, checkpoint at v20
    for v in range(8, 20):  # newest-first deletion interrupted after 19..8
        txlog.commit_path(t._log_dir, v).unlink()
    states = {v: st for v, st, _ in txlog.replay_states(t._log_dir)}
    assert len(states[7]["live"]) == 8    # genesis prefix, exact
    assert len(states[20]["live"]) == 21  # checkpoint-seeded, not 8+1 deltas
    assert len(states[29]["live"]) == 30


def test_replay_states_raises_on_checkpointless_mid_log_gap(tmp_path):
    """A gap whose far side has NO checkpoint is corruption, not retention —
    loud refusal instead of a silently wrong replay."""
    t = _table(tmp_path)
    _append_commits(t, 15)  # no checkpoint until v20 would exist
    for v in range(5, 10):
        txlog.commit_path(t._log_dir, v).unlink()
    with pytest.raises(FileNotFoundError, match="corrupt"):
        list(txlog.replay_states(t._log_dir))


def test_mid_cleanup_gap_counts_as_pruned_for_change_feeds(tmp_path, spark):
    """A reader racing cleanup mid-doc-deletion sees {0..j} ∪ {keep_from..}.
    _oldest_retained must key on the CONTIGUOUS SUFFIX start, so change
    feeds over the gap raise the retention refusal instead of silently
    diffing across missing versions (re-emitting live rows as inserts)."""
    t = DeltaliteTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(3).toDF("id"))
    for i in range(29):  # v1..v29, checkpoint at v20
        t.append(spark.range(100 + i, 101 + i).toDF("id"))
    for v in range(8, 20):  # newest-first deletion interrupted after 19..8
        txlog.commit_path(t._log_dir, v).unlink()
    assert t._oldest_retained() == 20
    with pytest.raises(ValueError, match="unavailable"):
        t.read_changes(10, 25)  # window straddles the gap
    # windows fully inside the suffix still work
    assert t.read_changes(20, 25).count() == 5
    # and fully inside the doomed prefix the data is still replayable
    assert t.read(version=7).count() == 3 + 7


def test_contiguous_suffix_start_edge_cases():
    """The shared retention-guard primitive (tables + CDF planner both key
    on it): suffix start across no-gap, single-gap, multi-gap, and
    singleton shapes."""
    css = txlog.contiguous_suffix_start
    assert css([0, 1, 2]) == 0                 # untouched log
    assert css([5, 6, 7]) == 5                 # cleanly pruned log
    assert css([0, 1, 7, 8, 9]) == 7           # mid-cleanup race shape
    assert css([0, 3, 7, 8]) == 7              # multiple gaps: last wins
    assert css([4]) == 4                       # singleton
    assert css([0, 2]) == 2                    # adjacent gap


def test_multiprocess_writers_never_lose_a_commit(tmp_path):
    """REAL concurrency (separate OS processes, no monkeypatch scheduling):
    4 writers x 20 OCC-retried commits against one log — every commit must
    land exactly once, versions contiguous, every writer's payloads all
    present. This is the link(2)-exclusivity claim under genuine races."""
    import multiprocessing as mp

    log_dir = tmp_path / "t" / "_log"
    log_dir.mkdir(parents=True)

    def writer(wid: int, n: int) -> None:
        from pyspark_cdc_engine import log as wlog

        for i in range(n):
            while True:
                vs = wlog.versions(log_dir)
                base = vs[-1] if vs else -1
                state = wlog.state_at(log_dir, base) if base >= 0 else {}
                doc, new_state = wlog.encode_commit(
                    state, "append",
                    list(state.get("live") or []) + [f"data/w{wid}-{i:04d}"],
                    {"writer": wid}, base + 1, timestamp=0.0,
                )
                try:
                    wlog.link_commit(log_dir, base + 1, doc)
                    wlog.after_commit(log_dir, base + 1, new_state, 20)
                    break
                except wlog.ConcurrentWriteError:
                    continue

    procs = [
        mp.get_context("fork").Process(target=writer, args=(w, 20))
        for w in range(4)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
        assert p.exitcode == 0
    vs = txlog.versions(log_dir)
    assert vs == list(range(80))  # contiguous, nothing lost or doubled
    final = txlog.state_at(log_dir, 79)
    assert len(final["live"]) == 80
    for w in range(4):
        assert sum(1 for d in final["live"] if d.startswith(f"data/w{w}-")) == 20


def test_replay_states_retries_torn_listing(tmp_path, monkeypatch):
    """A reader racing cleanup()'s newest-first deletion can get a torn
    directory listing with a NON-prefix hole (v6's entry scanned before its
    unlink, v5's after) — transient, resolves on a second listing. replay
    must re-list once and succeed, not raise a false 'corrupt' (r8 ADVICE)."""
    t = _table(tmp_path)
    _append_commits(t, 30)  # checkpoints at 20; cleanup keeps v20..v29
    t.cleanup_log(retain_last=5)
    real = txlog.versions(t._log_dir)
    assert real[0] == 20
    # torn listing: pretend deletion is mid-flight and the scan produced a
    # hole at 21 while still showing 22+ (neither genesis nor checkpointed)
    torn = [v for v in real if v != 20 and v != 21]
    calls = {"n": 0}
    orig = txlog.versions

    def flaky(log_dir):
        calls["n"] += 1
        return torn if calls["n"] == 1 else orig(log_dir)

    monkeypatch.setattr(txlog, "versions", flaky)
    states = list(txlog.replay_states(t._log_dir))
    assert calls["n"] >= 2  # it re-listed
    assert [v for v, _, _ in states] == real
    assert len(states[-1][1]["live"]) == 30


def test_replay_states_retries_vanished_doc(tmp_path, monkeypatch):
    """A listed doc deleted before raw_doc() reads it is the same torn race:
    re-list once and continue from the surviving suffix."""
    t = _table(tmp_path)
    _append_commits(t, 30)
    t.cleanup_log(retain_last=5)
    real = txlog.versions(t._log_dir)
    stale = [19] + real  # 19's doc is already gone but the listing showed it
    calls = {"n": 0}
    orig = txlog.versions

    def flaky(log_dir):
        calls["n"] += 1
        return stale if calls["n"] == 1 else orig(log_dir)

    monkeypatch.setattr(txlog, "versions", flaky)
    states = list(txlog.replay_states(t._log_dir))
    assert [v for v, _, _ in states] == real
    assert len(states[-1][1]["live"]) == 30


def test_replay_states_still_raises_on_persistent_corruption(tmp_path):
    """One retry, then the truth: a checkpoint that is REALLY gone (not a
    torn listing) still raises after the re-list."""
    t = _table(tmp_path)
    _append_commits(t, 30)
    t.cleanup_log(retain_last=5)
    txlog.checkpoint_path(t._log_dir, 20).unlink()
    with pytest.raises(FileNotFoundError, match="corrupt"):
        list(txlog.replay_states(t._log_dir))
