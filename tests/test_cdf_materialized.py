"""CDF materialization (enable_cdf — the delta.enableChangeDataFeed analog):
copy-on-write DML commits on a CDF-enabled table write their change rows as
Delta-style change-data files (_change_data/, per-row __change_type),
committed atomically with the rewrite under the commit's cdc_dirs key.
read_changes and the streaming deltalite_cdf source read those files
verbatim — which makes ALL DML modes streamable/replicable, including cow
MERGE (previously only merge-on-read DML was)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_cdc_engine.tables import DeltaliteTable, MergeClause


def _mk(spark, path, n=20, cdf=True):
    t = DeltaliteTable(spark, str(path))
    t.overwrite(spark.range(n).selectExpr("id", "id * 10 AS v"))
    if cdf:
        t.enable_cdf()
    return t


_MERGE_CLAUSES = [
    MergeClause("delete", "source.v = 0"),
    MergeClause("update", None, {"v": "source.v"}),
    MergeClause("insert", None, None),
]


def _merge_src(spark):
    return spark.createDataFrame(
        [(5, 555), (6, 0), (100, 1000)], "id long, v long"
    )


def test_enable_cdf_flag_carries_and_is_idempotent(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", cdf=False)
    assert not t.cdf_enabled()
    v1 = t.enable_cdf()
    assert t.cdf_enabled()
    assert t.enable_cdf() == v1  # already on: no extra commit
    # the flag rides ordinary commits forward — including overwrite, which
    # resets dv_files/column_mapping but must not drop table properties
    t.append(spark.range(20, 25).selectExpr("id", "id AS v"))
    t.overwrite(spark.range(5).selectExpr("id", "id AS v"))
    assert t.cdf_enabled()
    v = t.delete("id = 0")
    assert t._read_commit(v).get("cdc_dirs")


def test_cow_delete_update_feed_matches_predicate_replay(spark, tmp_path):
    """The materialized change rows must equal what the non-CDF predicate
    replay reconstructs — same DML program on a CDF-on table and a CDF-off
    twin, identical feeds."""
    rows = {}
    for tag, cdf in (("on", True), ("off", False)):
        t = _mk(spark, tmp_path / tag, cdf=cdf)
        t.delete("id >= 15 AND id % 2 = 0")
        t.update({"v": "v + 7"}, "id < 3")
        start = 1 if cdf else 0  # skip the set_cdf metadata commit
        got = t.read_changes(start)
        rows[tag] = sorted(
            (r["_change_type"], r["id"], r["v"]) for r in got.collect()
        )
    assert rows["on"] == rows["off"]
    # and the cdf table's commits actually carry materialized files
    t = DeltaliteTable(spark, str(tmp_path / "on"))
    for v in (2, 3):
        c = t._read_commit(v)
        rel = c["cdc_dirs"][0]
        assert rel.startswith("_change_data/") and (t._root / rel).is_dir()


def test_cow_merge_feed_emits_all_four_kinds(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    v = t.merge(_merge_src(spark), "target.id = source.id", _MERGE_CLAUSES)
    assert t._read_commit(v).get("cdc_dirs")
    got = sorted(
        (r["_change_type"], r["id"], r["v"])
        for r in t.read_changes(v - 1, v).collect()
    )
    assert got == [
        ("delete", 6, 60),
        ("insert", 100, 1000),
        ("update_postimage", 5, 555),
        ("update_preimage", 5, 50),
    ]
    # table contents agree with the feed
    assert sorted(r.id for r in t.read().collect()) == [
        0, 1, 2, 3, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 100
    ]


def test_stream_drains_cow_dml_without_refusal(spark, tmp_path):
    from pyspark_cdc_engine.cdf_source import read_change_stream

    t = _mk(spark, tmp_path / "t", n=10)
    t.delete("id >= 8")
    t.update({"v": "v + 1"}, "id < 2")
    t.merge(_merge_src(spark), "target.id = source.id", _MERGE_CLAUSES)
    out = []
    q = (
        read_change_stream(spark, t.path, starting_version=1)
        .writeStream.foreachBatch(lambda df, bid: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["_change_type"], r["id"], r["v"]) for r in out)
    assert got == [
        ("delete", 6, 60),
        ("delete", 8, 80),
        ("delete", 9, 90),
        ("insert", 100, 1000),
        ("update_postimage", 0, 1),
        ("update_postimage", 1, 11),
        ("update_postimage", 5, 555),
        ("update_preimage", 0, 0),
        ("update_preimage", 1, 10),
        ("update_preimage", 5, 50),
    ]


def test_stream_still_refuses_cow_without_cdf(spark, tmp_path):
    from pyspark_cdc_engine.cdf_source import read_change_stream

    t = _mk(spark, tmp_path / "t", cdf=False)
    t.delete("id >= 15")
    out = []
    q = (
        read_change_stream(spark, t.path, starting_version=0)
        .writeStream.foreachBatch(lambda df, bid: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="copy-on-write"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()


def test_replication_converges_over_cow_history(spark, tmp_path):
    from pyspark_cdc_engine.streaming.replicate import replicate_stream

    t = _mk(spark, tmp_path / "src")
    t.delete("id % 7 = 0")
    t.update({"v": "v + 1"}, "id % 5 = 1")
    t.merge(_merge_src(spark), "target.id = source.id", _MERGE_CLAUSES)
    t.append(spark.range(300, 303).selectExpr("id", "id AS v"))
    q = replicate_stream(
        spark, t.path, str(tmp_path / "dst"), ["id"],
        str(tmp_path / "ckpt"), starting_version=0,
    )
    q.awaitTermination(180)
    dst = DeltaliteTable(spark, str(tmp_path / "dst"))
    a = sorted((r.id, r.v) for r in t.read().collect())
    b = sorted((r.id, r.v) for r in dst.read().collect())
    assert a == b


def test_txn_replay_does_not_duplicate_change_files(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    v = t.delete("id >= 15", txn_app="job", txn_version=1)
    assert t.delete("id >= 10", txn_app="job", txn_version=1) == v  # replayed
    cdc = [
        r for c in (t._read_commit(x) for x in t._versions())
        for r in (c.get("cdc_dirs") or [])
    ]
    assert len(cdc) == 1
    assert t.read().count() == 15  # the replayed (different!) predicate never ran


def test_vacuum_ages_out_unreferenced_change_files(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    v_del = t.delete("id >= 15")          # cdc A (non-latest after update)
    t.update({"v": "v + 1"}, "id < 2")    # cdc B (latest commit)
    a = t._read_commit(v_del)["cdc_dirs"][0]
    b = t._read_commit(t.latest_version())["cdc_dirs"][0]
    dead = t.vacuum(retain_hours=0, dry_run=True)
    assert a in dead and b not in dead
    t.vacuum(retain_hours=0)
    assert not (t._root / a).exists() and (t._root / b).exists()


def test_feed_spanning_rename_surfaces_end_names(spark, tmp_path):
    """Change-data files keep the write-time PHYSICAL names; a later RENAME
    COLUMN must not change what the feed reconstructs — rows surface under
    the END version's logical names, matched by stable physical identity."""
    t = _mk(spark, tmp_path / "t")
    t.delete("id >= 15")
    t.rename_column("v", "val")
    got = t.read_changes(1)
    assert "val" in got.columns and "v" not in got.columns
    dels = sorted(
        (r["id"], r["val"]) for r in got.filter("_change_type = 'delete'").collect()
    )
    assert dels == [(i, i * 10) for i in range(15, 20)]


# (source rows, clauses, rows the committed table must hold afterwards)
_CHANGE_ROW_CASES = {
    "mixed_clauses": (
        [(1, 0), (2, 200), (3, 0), (4, 400), (50, 500), (60, 0)],
        [
            MergeClause("update", "source.id % 2 = 0", {"v": "source.v + target.v"}),
            MergeClause("delete", "source.v = 0"),
            MergeClause("insert", "source.v > 0", None),
        ],
        {},
    ),
    # source.v is NULL for matched id=3 and unmatched id=70: the delete
    # condition is NULL (not fired, so the update fires) and the insert
    # condition is NULL (not inserted)
    "null_delete_condition": (
        [(1, 5), (3, None), (4, 400), (70, None), (80, 800)],
        [
            MergeClause("delete", "source.v < target.v"),
            MergeClause("update", None, {"v": "coalesce(source.v, -1)"}),
            MergeClause("insert", "source.v > 0", None),
        ],
        {3: -1, 4: 400, 80: 800},
    ),
}


@pytest.mark.parametrize("mode", ["cow", "dv"])
@pytest.mark.parametrize("case", sorted(_CHANGE_ROW_CASES))
def test_merge_change_rows_consistent_with_committed_merge(
    spark, tmp_path, case, mode
):
    """Property-flavored check over messier clause sets, on both merge paths:
    applying the change rows to the pre-merge snapshot reproduces the
    committed table, NULL clause conditions included."""
    rows, clauses, expect = _CHANGE_ROW_CASES[case]
    t = _mk(spark, tmp_path / "t")
    src = spark.createDataFrame(rows, "id long, v long")
    pre = {r.id: r.v for r in t.read().collect()}
    v = t.merge(src, "target.id = source.id", clauses, mode=mode)
    post = {r.id: r.v for r in t.read().collect()}
    assert {k: post.get(k) for k in expect} == expect
    replayed = dict(pre)
    for r in t.read_changes(v - 1, v).collect():
        if r["_change_type"] == "delete":
            replayed.pop(r["id"])
        elif r["_change_type"] in ("insert", "update_postimage"):
            replayed[r["id"]] = r["v"]
    assert replayed == post


def test_scd2_fold_over_cow_feed(spark, tmp_path):
    """The SCD2 applier consumes the materialized cow feed like any other:
    the history's current slice equals the source snapshot, and the repriced
    key keeps its superseded state as a closed row."""
    from pyspark_cdc_engine.streaming.replicate import apply_changes_scd2

    t = _mk(spark, tmp_path / "src", n=10)
    t.delete("id >= 8")                               # v2 cow
    t.update({"v": "v + 1"}, "id = 0")                # v3 cow
    t.merge(_merge_src(spark), "target.id = source.id", _MERGE_CLAUSES)  # v4
    dest = DeltaliteTable(spark, str(tmp_path / "scd2"))
    apply_changes_scd2(dest, t.read_changes(-1), ["id"])
    hist = dest.read()
    cur = sorted(
        (r.id, r.v) for r in hist.filter("__is_current").collect()
    )
    snap = sorted((r.id, r.v) for r in t.read().collect())
    assert cur == snap
    closed_0 = hist.filter("id = 0 AND NOT __is_current").collect()
    assert [(r.id, r.v, r["__end_version"]) for r in closed_0] == [(0, 0, 3)]


def test_incremental_mv_folds_cow_merge_via_cdc(spark, tmp_path):
    """A cow MERGE on a CDF-enabled base is now a signed-FOLDABLE commit:
    the IncrementalAggregate maintains its COUNT/SUM summary through the
    merge without a rebuild, and the folded summary equals a fresh one."""
    from pyspark_cdc_engine.incremental import IncrementalAggregate

    t = DeltaliteTable(spark, str(tmp_path / "base"))
    t.overwrite(
        spark.range(30).selectExpr("id", "id % 3 AS k", "id * 1.0 AS v")
    )
    t.enable_cdf()
    mv = IncrementalAggregate(
        spark, t, str(tmp_path / "mv"), keys=["k"], sum_cols=["v"],
    )
    mv.refresh()  # bootstrap
    src = spark.createDataFrame(
        [(1, 100.0), (2, 0.0), (90, 900.0)], "id long, v double"
    )
    t.merge(src, "target.id = source.id", [
        MergeClause("delete", "source.v = 0"),
        MergeClause("update", None, {"v": "source.v", "k": "target.k"}),
        MergeClause("insert", None, {"id": "source.id", "k": "source.id % 3",
                                      "v": "source.v"}),
    ])
    mv.refresh()  # must FOLD, not rebuild
    ops = [h["operation"] for h in mv.summary.history()]
    assert ops.count("overwrite") == 1, ops
    expect = {
        (r.k, r.cnt, r.sum_v)
        for r in t.read().groupBy("k").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("v").cast("decimal(28,6)")).cast("double").alias("sum_v"),
        ).collect()
    }
    got = {(r.k, r.cnt, r.sum_v) for r in mv.read().collect()}
    assert got == expect


def test_clone_carries_table_properties(spark, tmp_path):
    """A shallow clone keeps the CDF flag, generated spec, constraints, and
    identity watermark — Delta clones copy table metadata, so ours does."""
    t = DeltaliteTable(spark, str(tmp_path / "src"))
    t.overwrite(
        spark.range(6).selectExpr("id", "id * 100 AS cents"),
        generated={"dollars": "cents div 100"},
        identity={"sk": {"start": 1, "step": 1}},
    )
    t.enable_cdf()
    c = t.clone_to(str(tmp_path / "dst"))
    assert c.cdf_enabled()
    assert c.generated_columns() == {"dollars": "cents div 100"}
    assert "gen_dollars" in c.constraints()
    hi = t.identity_columns()["sk"]["high"]
    assert c.identity_columns()["sk"]["high"] == hi
    # clone-side append: dollars computed, sk allocated past the watermark
    c.append(spark.range(6, 8).selectExpr("id", "id * 100 AS cents"))
    rows = {r.id: (r.dollars, r.sk) for r in c.read().collect()}
    assert rows[6][0] == 6 and rows[7][0] == 7
    assert min(rows[6][1], rows[7][1]) > hi
    # clone cow delete materializes change files (CDF flag worked)
    v = c.delete("id = 0")
    assert c._read_commit(v).get("cdc_dirs")


def test_discard_staged_cdc_spares_concurrent_writers_staging(spark, tmp_path):
    """_change_data staging shares a parent across writers (unlike data/
    whose tops are per-write unique): a losing writer's discard must remove
    ONLY its own staged change dir, and the publish-side sweep must not
    rmtree the shared parent while a rival's files sit in it."""
    t = _mk(spark, tmp_path / "t", n=4)
    df = spark.range(2).selectExpr("id", "id AS v").withColumn(
        "__change_type", F.lit("delete")
    )
    mine = t._stage_cdc_dir(df, 99, None)
    rival = t._stage_cdc_dir(df, 99, None)
    t._discard_staged(mine)
    assert not t._staged_path(mine).exists()
    assert t._staged_path(rival).exists()          # rival staging untouched
    # a full commit cycle (publishes its own cdc dir) also leaves it alone
    t.delete("id = 1")
    assert t._staged_path(rival).exists()
