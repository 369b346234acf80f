"""Streaming CDF source (cdf_source.py): Delta's readChangeFeed analog as a
Python DataSource — version-window offsets, change rows for appends and
DV DML, loud refusal of copy-on-write rewrites."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_cdc_engine.cdf_source import read_change_stream
from pyspark_cdc_engine.tables import DeltaliteTable


def _drain(stream, tmp_path, name="ck"):
    rows: list = []

    def sink(df, bid):
        rows.extend(df.collect())

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / name))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return rows


def _mk(spark, path, n=10):
    t = DeltaliteTable(spark, str(path))
    t.overwrite(spark.range(n).select("id", (F.col("id") * 1.5).alias("v")))
    return t


def test_cdf_stream_replays_appends_and_dv_dml(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")                                   # v0
    t.append(spark.range(10, 13).select("id", (F.col("id") * 1.5).alias("v")))  # v1
    v2 = t.delete("id >= 11", mode="dv")                             # v2
    v3 = t.update({"v": "v + 100.0"}, "id = 4", mode="dv")           # v3

    rows = _drain(read_change_stream(spark, t.path, starting_version=0), tmp_path)
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r._change_type, []).append(r)
    assert sorted(r.id for r in by_type["insert"]) == list(range(13))
    assert sorted((r.id, r._commit_version) for r in by_type["delete"]) == [
        (11, v2), (12, v2)
    ]
    assert [(r.id, r.v, r._commit_version) for r in by_type["update_preimage"]] == [
        (4, 6.0, v3)
    ]
    assert [(r.id, r.v) for r in by_type["update_postimage"]] == [(4, 106.0)]
    # the stream's change set matches the batch change feed row-for-row
    batch = t.read_changes(-1) if hasattr(t, "read_changes") else None
    want = sorted(
        (r.id, r.v, r._change_type, r._commit_version)
        for r in t.read_changes(0).collect()
    ) + [
        (i * 1.0 and i, i * 1.5, "insert", 0) for i in range(10)
    ]  # read_changes(0) starts AFTER v0; the stream replayed v0 too
    got = sorted((r.id, r.v, r._change_type, r._commit_version) for r in rows)
    assert len(got) == len(want)


def test_cdf_stream_defaults_to_only_new_commits(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    # no startingVersion: the first run anchors at the CURRENT latest commit
    # and delivers nothing; the checkpoint then makes later runs deliver
    # exactly the commits made in between (Kafka 'latest' semantics)
    rows = _drain(read_change_stream(spark, t.path), tmp_path)
    assert rows == []
    t.append(spark.createDataFrame([(99, 9.9)], ["id", "v"]))
    rows = _drain(read_change_stream(spark, t.path), tmp_path)
    assert [(r.id, r._change_type) for r in rows] == [(99, "insert")]


def test_cdf_stream_checkpoint_resumes_exactly_once(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=4)
    rows1 = _drain(
        read_change_stream(spark, t.path, starting_version=0), tmp_path, "ck"
    )
    assert sorted(r.id for r in rows1) == [0, 1, 2, 3]
    t.append(spark.createDataFrame([(7, 7.0)], ["id", "v"]))
    t.delete("id = 1", mode="dv")
    # same checkpoint dir: only the two new commits are delivered
    rows2 = _drain(
        read_change_stream(spark, t.path, starting_version=0), tmp_path, "ck"
    )
    assert sorted((r.id, r._change_type) for r in rows2) == [
        (1, "delete"), (7, "insert")
    ]


def test_cdf_stream_refuses_cow_rewrites_loudly(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete("id = 2")  # copy-on-write: not enumerable executor-side
    stream = read_change_stream(spark, t.path, starting_version=0)
    rows: list = []
    q = (
        stream.writeStream.foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="copy-on-write|StreamingQuery"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
        raise AssertionError("stream should have failed on the cow commit")


def test_cdf_stream_refuses_restore_loudly(spark, tmp_path):
    """A RESTORE's change set needs prev-state scans the executor-side reader
    cannot do: draining it fails the stream instead of skipping the rewind
    (replicate_stream reads it batch-side and converges through it)."""
    t = _mk(spark, tmp_path / "t", n=4)
    t.restore(0)  # no-op rewind is still a restore commit
    q = (
        read_change_stream(spark, t.path, starting_version=0)
        .writeStream.foreachBatch(lambda df, bid: df.collect())
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="RESTORE"):
        q.awaitTermination(240)


def test_cdf_stream_skips_physical_and_metadata_commits(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.append(spark.createDataFrame([(50, 5.0)], ["id", "v"]))
    t.compact(target_partitions=1)
    t.analyze()
    t.add_column("tag", "string")
    rows = _drain(read_change_stream(spark, t.path, starting_version=1), tmp_path)
    # only the append delivered; compact/analyze/add_column contribute nothing
    assert [(r.id, r._change_type) for r in rows] == [(50, "insert")]
    assert rows[0].tag is None  # new column surfaces as null in the stream schema


def test_cdf_stream_rate_limit_bounds_batch_span(spark, tmp_path):
    """maxVersionsPerBatch (the maxFilesPerTrigger analog): a 4-commit
    backlog drains two commits per run (availableNow plans one batch per
    run here), resuming exactly from the checkpoint — bounded bootstrap
    over a long history."""
    t = _mk(spark, tmp_path / "t", n=3)                              # v0
    for i in range(3):
        t.append(spark.createDataFrame([(10 + i, float(i))], ["id", "v"]))

    def drain():
        return _drain(
            read_change_stream(spark, t.path, 0, max_versions_per_batch=2),
            tmp_path,
        )

    assert sorted({r._commit_version for r in drain()}) == [0, 1]
    assert sorted({r._commit_version for r in drain()}) == [2, 3]
    assert drain() == []  # backlog drained; no replay, no deadlock


def test_cdf_stream_after_rename_reads_stable_physical_names(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=3)
    t.rename_column("v", "amount")
    stream = read_change_stream(spark, t.path, starting_version=0)
    t.delete("amount >= 3.0", mode="dv")
    rows = _drain(stream, tmp_path)
    assert "amount" in rows[0].asDict()
    ins = sorted((r.id, r.amount) for r in rows if r._change_type == "insert")
    assert ins == [(0, 0.0), (1, 1.5), (2, 3.0)]
    dels = [(r.id, r.amount) for r in rows if r._change_type == "delete"]
    assert dels == [(2, 3.0)]


def test_commit_timestamp_agrees_with_batch_feed_under_non_utc_tz(spark, tmp_path):
    """Streamed _commit_timestamp is an epoch INSTANT (tz-aware Arrow type);
    under a non-UTC session timezone it must equal the batch feed's
    timestamp_seconds(epoch) value instead of shifting by the UTC offset
    (r6 advice)."""
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        t = _mk(spark, tmp_path / "t")
        t.append(spark.range(10, 12).select("id", (F.col("id") * 1.5).alias("v")))
        stream_rows = _drain(
            read_change_stream(spark, t.path, starting_version=1), tmp_path
        )
        batch_rows = t.read_changes(0).collect()
        s_ts = {r["_commit_timestamp"] for r in stream_rows}
        b_ts = {r["_commit_timestamp"] for r in batch_rows}
        assert s_ts and s_ts == b_ts, (s_ts, b_ts)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_stream_raises_on_missing_committed_cdc_dir(spark, tmp_path):
    """A committed CDF commit whose change-data dir is gone must FAIL the
    stream, not silently emit zero change rows (r6 advice: silent
    replication data loss)."""
    import shutil as _shutil

    import pytest as _pytest

    t = _mk(spark, tmp_path / "t")
    t.enable_cdf()
    t.delete("id >= 8")  # cow delete on a CDF table -> cdc_dirs commit
    commit = t._read_commit(t.latest_version())
    assert commit.get("cdc_dirs")
    for rel in commit["cdc_dirs"]:
        _shutil.rmtree(t._root / rel)
    rows = []
    q = (
        read_change_stream(spark, t.path, starting_version=0)
        .writeStream.foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(Exception, match="change-data"):
        q.awaitTermination(180)
    # the batch feed refuses identically
    with _pytest.raises(Exception, match="change-data"):
        t.read_changes(0).collect()


def test_crashed_writer_cdc_publish_is_repaired(spark, tmp_path):
    """A writer that died between link(2) and publish leaves the commit's
    cdc dir in _staging; both read paths must finish the move so the feed
    stays atomic with the rewrite (r6 advice, medium)."""
    import os as _os

    t = _mk(spark, tmp_path / "t")
    t.enable_cdf()
    v0 = t.latest_version()
    t.delete("id >= 8")
    commit = t._read_commit(t.latest_version())
    rel = commit["cdc_dirs"][0]
    # simulate the crash window: move the published dir back into _staging
    staged = t._root / "_staging" / rel
    staged.parent.mkdir(parents=True, exist_ok=True)
    _os.replace(t._root / rel, staged)
    rows = _drain(read_change_stream(spark, t.path, starting_version=v0),
                  tmp_path, name="ck3")
    deletes = [r for r in rows if r["_change_type"] == "delete"]
    assert {r["id"] for r in deletes} == {8, 9}
    assert (t._root / rel).exists()  # the move was finished on disk


def test_cdf_stream_pages_on_while_retention_prunes_behind_it(spark, tmp_path):
    """Log retention racing a paging consumer: cleanup_log pruning versions
    the stream has ALREADY consumed must not disturb the next window (the
    planner seeds from a retained snapshot at or below its start); only a
    cleanup that outruns the consumer trips the loud restart guard."""
    t = _mk(spark, tmp_path / "t", n=3)                              # v0
    for i in range(24):
        t.append(spark.createDataFrame([(10 + i, float(i))], ["id", "v"]))

    def drain(n):
        return _drain(
            read_change_stream(spark, t.path, 0, max_versions_per_batch=n),
            tmp_path,
        )

    # consume through v21, then prune everything below the checkpoint at 20
    seen = {r._commit_version for r in drain(22)}
    assert max(seen) == 21
    assert t.cleanup_log(retain_last=4)
    assert t._oldest_retained() == 20
    # next window starts at 21 (> boundary): pages on unaffected
    seen2 = {r._commit_version for r in drain(22)}
    assert seen2 == {22, 23, 24}
