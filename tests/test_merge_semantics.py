"""Delta-parity edge semantics of the standalone MERGE and the joiner.

Covers the round-3 advisory fixes:
- a delete clause whose condition evaluates to NULL for a matched row must
  NOT fire (Delta treats NULL as false) — previously the NULL leaked into the
  keep-filter and silently dropped the row;
- a NULL clause condition must not poison later clauses' first-match gating;
- in handle_deletes mode an ORDERS delete followed by a re-insert of the same
  orderId within one transaction leaves the order LIVE (last op wins).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_cdc_engine.joiner import join_transaction
from pyspark_cdc_engine.tables import MergeClause, merge_dataframes


def _tgt(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30)], "id int, name string, flag int"
    )


def _src(spark):
    return spark.createDataFrame(
        [(1, "A2"), (2, "B2"), (4, "D2")], "id int, name string"
    )


def test_null_delete_condition_keeps_row(spark):
    """source.name = 'X' is NULL-free here, but target.flag > 20 is NULL for
    id=2 — Delta keeps the row (NULL condition == not fired)."""
    out = merge_dataframes(
        _tgt(spark),
        _src(spark),
        "target.id = source.id",
        [
            MergeClause("delete", "target.flag > 20", None),
            MergeClause("update", None, {"name": "source.name"}),
            MergeClause("insert", None, None),
        ],
        ["id", "name", "flag"],
    ).collect()
    rows = {r.id: (r.name, r.flag) for r in out}
    # id=2: flag NULL -> delete condition NULL -> NOT deleted, update fires
    assert rows[2] == ("B2", None)
    # id=1: flag=10 -> delete false -> update fires
    assert rows[1] == ("A2", 10)
    # id=3: unmatched target passes through
    assert rows[3] == ("c", 30)
    # id=4: unmatched source inserts (flag column absent -> NULL)
    assert rows[4][0] == "D2"


def test_null_condition_does_not_poison_cascade(spark):
    """First update clause's condition is NULL for id=2; the second,
    unconditional update must still fire (the clause classifier's CASE
    counts a NULL condition as not fired and moves on)."""
    out = merge_dataframes(
        _tgt(spark),
        _src(spark),
        "target.id = source.id",
        [
            MergeClause("update", "target.flag > 20", {"name": "'gt20'"}),
            MergeClause("update", None, {"name": "source.name"}),
        ],
        ["id", "name", "flag"],
    ).collect()
    rows = {r.id: r.name for r in out}
    assert rows[2] == "B2"  # second clause fired despite NULL first condition
    assert rows[1] == "A2"
    assert rows[3] == "c"


def _ev(op, order_id, version="1"):
    body = {"ORDER_ID": str(order_id), "VERSION": version, "ORDER_STATUS": "N"}
    if op == "D":
        return {"op_type": "D", "before": body, "after": None}
    return {"op_type": op, "before": None, "after": body}


def test_delete_then_reinsert_is_live():
    recs = join_transaction(
        "x1", "100", [_ev("D", 7), _ev("I", 7, version="2")], [], [],
        processing_ts="2026-01-01", handle_deletes=True,
    )
    assert len(recs) == 1
    assert recs[0]["deleted"] is False  # last order-level op wins
    assert recs[0]["orders"][-1]["version"] == 2.0


def test_delete_last_still_tombstones():
    recs = join_transaction(
        "x2", "101", [_ev("I", 8), _ev("D", 8)], [], [],
        processing_ts="2026-01-01", handle_deletes=True,
    )
    assert len(recs) == 1
    assert recs[0]["deleted"] is True


def test_mv_refresh_crash_between_fold_and_watermark(spark, tmp_path):
    """Crash-idempotency: if the summary fold commits but the process dies
    before the refresh_upto watermark lands, the re-run must not double-fold
    the same delta (the fold carries txn_app/txn_version=upto)."""
    from pyspark_cdc_engine.incremental import IncrementalAggregate
    from pyspark_cdc_engine.tables import DeltaliteTable

    base = DeltaliteTable(spark, str(tmp_path / "base"))
    base.append(
        spark.range(0, 100).selectExpr("id", "id % 4 AS grp", "CAST(id AS DOUBLE) AS v")
    )
    mv = IncrementalAggregate(
        spark, base, str(tmp_path / "mv"), keys=["grp"], sum_cols=["v"]
    )
    mv.refresh()  # bootstrap
    base.append(
        spark.range(100, 160).selectExpr("id", "id % 4 AS grp", "CAST(id AS DOUBLE) AS v")
    )

    # simulate a crash AFTER the fold commit, BEFORE the watermark commit
    orig = IncrementalAggregate._record_watermark
    calls = {"n": 0}

    def crashing(self, upto):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash before watermark")
        return orig(self, upto)

    IncrementalAggregate._record_watermark = crashing
    try:
        try:
            mv.refresh()
        except RuntimeError:
            pass
        mv.refresh()  # resume: fold must be replay-skipped, watermark recorded
    finally:
        IncrementalAggregate._record_watermark = orig

    expected = {
        (r.grp, r.cnt, round(r.sum_v, 6))
        for r in base.read()
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("v").cast("decimal(28,6)")).cast("double").alias("sum_v"),
        )
        .collect()
    }
    got = {(r.grp, r.cnt, round(r.sum_v, 6)) for r in mv.read().collect()}
    assert got == expected  # counts NOT inflated by the replayed fold
    assert mv.last_refreshed_version() == base.latest_version()
