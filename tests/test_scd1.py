"""Golden tests for the SCD1 version-aware merge (SURVEY §2.9; the
SCD_TYPE1_README.md:109-153 worked scenario + FIXTURES.md A3 variants)."""

from __future__ import annotations

import re

import pytest

from pyspark_cdc_engine.scd1 import (
    _ORDER_FLAT_FIELDS,
    merge_scd1,
    scd2_to_scd1_stream,
    transform_source_batch,
)
from pyspark_cdc_engine.schemas import (
    DETAIL_STRUCT,
    LINE_ITEM_STRUCT,
    ORDER_STREAM_SCHEMA,
    ORDER_STRUCT,
)
from pyspark_cdc_engine.tables import DeltaliteTable


def _complete(spec: dict, schema) -> dict:
    """Recursively fill missing struct fields with None so hand-written specs
    stay readable."""
    from pyspark.sql.types import ArrayType, StructType

    out = {}
    for f in schema.fields:
        v = spec.get(f.name)
        if isinstance(f.dataType, StructType) and isinstance(v, dict):
            v = _complete(v, f.dataType)
        elif isinstance(f.dataType, ArrayType) and isinstance(v, list) and isinstance(
            f.dataType.elementType, StructType
        ):
            v = [_complete(e, f.dataType.elementType) if isinstance(e, dict) else e for e in v]
        out[f.name] = v
    return out


def _stream_rows(spark, specs: list[dict]):
    return spark.createDataFrame(
        [_complete(s, ORDER_STREAM_SCHEMA) for s in specs], ORDER_STREAM_SCHEMA
    )


def _order(oid: float, version: float, amount: float = 25250.0, **kw) -> dict:
    return {"orderId": oid, "orderRef": f"ORD-{int(oid)}", "version": version,
            "totalAmount": amount, "currency": "USD", **kw}


def _item(oid: float, iid: float, version: float, qty: float) -> dict:
    return {"lineItemId": iid, "orderId": oid, "version": version,
            "productId": f"PROD-{int(iid)}", "itemQty": qty}


@pytest.fixture()
def scd1_table(spark, tmp_path):
    return DeltaliteTable(spark, str(tmp_path / "orders_current"))


def test_golden_readme_scenario(spark, scd1_table):
    """SCD_TYPE1_README.md:109-153: same order version (clause 2), one line
    item updated to v2, the other preserved at v1."""
    initial = _stream_rows(spark, [{
        "xid": "x0", "csn": "c0", "dwhProcessedTs": "t0", "orderId": 248.0,
        "orders": [_order(248.0, 2.0)],
        "orderDetails": [{"orderId": 248.0, "version": 1.0, "shippingMethod": "EXPRESS",
                          "trackingNumber": "TRK-00000248"}],
        "lineItems": [_item(248.0, 1.0, 1.0, 600.0), _item(248.0, 2.0, 1.0, 400.0)],
    }])
    merge_scd1(spark, initial, scd1_table)

    update = _stream_rows(spark, [{
        "xid": "x1", "csn": "c1", "dwhProcessedTs": "t1", "orderId": 248.0,
        "orders": [_order(248.0, 2.0)],
        "orderDetails": [{"orderId": 248.0, "version": 1.0, "shippingMethod": "EXPRESS",
                          "trackingNumber": "TRK-00000248"}],
        "lineItems": [_item(248.0, 1.0, 2.0, 700.0)],
    }])
    merge_scd1(spark, update, scd1_table)

    rows = scd1_table.read().collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.orderId == 248.0 and r.version == 2.0 and r.totalAmount == 25250.0
    assert r.xid == "x1" and r.dwhProcessedTs == "t1"  # tx context refreshed
    assert r.orderDetails.version == 1.0 and r.orderDetails.shippingMethod == "EXPRESS"
    items = {li.lineItemId: li for li in r.lineItems}
    assert set(items) == {1.0, 2.0}
    assert items[1.0].version == 2.0 and items[1.0].itemQty == 700.0
    assert items[2.0].version == 1.0 and items[2.0].itemQty == 400.0


def _row(xid, csn, ts, oid, orders=None, details=None, items=None, **kw) -> dict:
    return {"xid": xid, "csn": csn, "dwhProcessedTs": ts, "orderId": oid,
            "orders": orders, "orderDetails": details, "lineItems": items, **kw}


def _candidate(xid, csn, ts, order: dict, detail=None, items=None, **kw) -> dict:
    """Every column of one consolidated candidate row, for exact comparison."""
    order = _complete(order, ORDER_STRUCT)
    return {
        "orderId": order["orderId"],
        "xid": xid, "csn": csn, "dwhProcessedTs": ts,
        **{f: order[f] for f in _ORDER_FLAT_FIELDS},
        "orderBefore": order["before"],
        **kw,
        "orderDetails": None if detail is None else _complete(detail, DETAIL_STRUCT),
        "lineItems": None if items is None else [_complete(i, LINE_ITEM_STRUCT) for i in items],
    }


# Scenario 8 and the cross-row tie-breaks of transformSourceBatch
# (ScdType1MergeApp.scala:146-206): (batch rows, handle_deletes, candidates)
_CONSOLIDATION_CASES = {
    # creation + child-only update for one orderId in the SAME batch — naive
    # top-1 dedup would drop the child update (MEDIUM_ARTICLE.md:466-474); the
    # child-only row has the latest timestamp but no order version, so it
    # loses the order fields and the tx context
    "creation_plus_child_update": (
        [_row("x0", "c0", "t0", 9.0, [_order(9.0, 1.0)],
              [{"orderId": 9.0, "version": 1.0, "carrier": "UPS"}],
              [_item(9.0, 91.0, 1.0, 5.0)]),
         _row("x0", "c1", "t1", 9.0, [], [],
              items=[_item(9.0, 92.0, 1.0, 7.0), _item(9.0, 91.0, 2.0, 6.0)])],
        False,
        [_candidate("x0", "c0", "t0", _order(9.0, 1.0),
                    {"orderId": 9.0, "version": 1.0, "carrier": "UPS"},
                    [_item(9.0, 91.0, 2.0, 6.0), _item(9.0, 92.0, 1.0, 7.0)])],
    ),
    "newer_version_beats_later_timestamp": (
        [_row("x1", "c1", "t1", 3.0, [_order(3.0, 2.0, amount=200.0)]),
         _row("x2", "c2", "t2", 3.0, [_order(3.0, 1.0, amount=100.0)])],
        False,
        [_candidate("x1", "c1", "t1", _order(3.0, 2.0, amount=200.0))],
    ),
    "equal_versions_later_timestamp_wins": (
        [_row("x2", "c2", "t2", 4.0, [_order(4.0, 3.0, amount=20.0)]),
         _row("x1", "c1", "t1", 4.0, [_order(4.0, 3.0, amount=10.0)])],
        False,
        [_candidate("x2", "c2", "t2", _order(4.0, 3.0, amount=20.0))],
    ),
    "highest_detail_version_wins_null_version_last": (
        [_row("x1", "c1", "t1", 5.0, [_order(5.0, 1.0)],
              [{"orderId": 5.0, "version": 2.0, "carrier": "A"}]),
         _row("x2", "c2", "t2", 5.0,
              details=[{"orderId": 5.0, "version": 3.0, "carrier": "B"}]),
         _row("x3", "c3", "t3", 5.0,
              details=[{"orderId": 5.0, "version": None, "carrier": "C"}]),
         _row("x4", "c4", "t4", 6.0, [_order(6.0, 1.0)],
              [{"orderId": 6.0, "version": None, "carrier": "D"}]),
         _row("x5", "c5", "t5", 6.0,
              details=[{"orderId": 6.0, "version": 1.0, "carrier": "E"}])],
        False,
        [_candidate("x1", "c1", "t1", _order(5.0, 1.0),
                    {"orderId": 5.0, "version": 3.0, "carrier": "B"}),
         _candidate("x4", "c4", "t4", _order(6.0, 1.0),
                    {"orderId": 6.0, "version": 1.0, "carrier": "E"})],
    ),
    "no_line_items_in_any_row_is_null": (
        [_row("x1", "c1", "t1", 7.0, [_order(7.0, 1.0)], items=[]),
         _row("x2", "c2", "t2", 7.0, [_order(7.0, 2.0)])],
        False,
        [_candidate("x2", "c2", "t2", _order(7.0, 2.0))],
    ),
    "handle_deletes_carries_the_winners_flag": (
        [_row("x1", "c1", "t1", 1.0, [_order(1.0, 2.0)], deleted=True),
         _row("x2", "c2", "t2", 1.0, [_order(1.0, 1.0)], deleted=False),
         _row("x3", "c3", "t3", 2.0, [_order(2.0, 2.0)], deleted=False),
         _row("x4", "c4", "t4", 2.0, [_order(2.0, 1.0)], deleted=True)],
        True,
        [_candidate("x1", "c1", "t1", _order(1.0, 2.0), deleted=True),
         _candidate("x3", "c3", "t3", _order(2.0, 2.0), deleted=False)],
    ),
}


@pytest.mark.parametrize("case", list(_CONSOLIDATION_CASES))
def test_cross_row_consolidation(spark, scd1_table, case):
    """Several rows per orderId in one batch consolidate to one candidate:
    best order row by (version, dwhProcessedTs) desc-nulls-last, best detail
    by detail version, line items flattened and deduped across rows. Every
    output column is compared."""
    specs, handle_deletes, expected = _CONSOLIDATION_CASES[case]
    batch = _stream_rows(spark, specs)
    got = {}
    for r in transform_source_batch(batch, handle_deletes=handle_deletes).collect():
        d = r.asDict(recursive=True)
        if d["lineItems"] is not None:
            d["lineItems"].sort(key=lambda li: li["lineItemId"])
        got[d["orderId"]] = d
    assert got == {e["orderId"]: e for e in expected}
    merge_scd1(spark, batch, scd1_table, handle_deletes=handle_deletes)
    assert scd1_table.read().count() == sum(not e.get("deleted") for e in expected)


_ORDER_COLS = (
    "orderRef STRING, version DOUBLE, orderDate STRING, orderTs STRING, "
    "orderStatus STRING, orderType STRING, totalAmount DOUBLE, currency STRING, "
    "customerId STRING, shippingAddressId STRING, createdTs STRING"
)
_DETAIL_COLS = (
    "orderId DOUBLE, version DOUBLE, shippingMethod STRING, trackingNumber STRING, "
    "shippedTs STRING, estimatedDeliveryDate STRING, carrier STRING, deliveryStatus STRING"
)
_ITEM_COLS = (
    "lineItemId DOUBLE, orderId DOUBLE, version DOUBLE, productId STRING, itemQty DOUBLE, "
    "itemPrice DOUBLE, itemAmount DOUBLE, itemCurrency STRING"
)


@pytest.mark.parametrize("handle_deletes", [False, True])
def test_candidate_schema_is_pinned(spark, handle_deletes):
    """Bootstrap writes the candidate schema into orders_current, so names,
    order, types and nullability are part of the contract — `deleted` sits
    before orderDetails and is never null."""
    from pyspark.sql.types import DataType

    ddl = (
        f"orderId DOUBLE, xid STRING, csn STRING, dwhProcessedTs STRING, {_ORDER_COLS}"
        + f", orderBefore STRUCT<orderId DOUBLE, {_ORDER_COLS}>"
        + (", deleted BOOLEAN NOT NULL" if handle_deletes else "")
        + f", orderDetails STRUCT<{_DETAIL_COLS}, before: STRUCT<{_DETAIL_COLS}>>"
        + f", lineItems ARRAY<STRUCT<{_ITEM_COLS}, before: STRUCT<{_ITEM_COLS}>>>"
    )
    empty = spark.createDataFrame([], ORDER_STREAM_SCHEMA)
    assert transform_source_batch(empty, handle_deletes).schema == DataType.fromDDL(ddl)


def test_consolidation_is_one_aggregate(spark, tmp_path):
    """The batch is scanned once and shuffled once on orderId: one aggregate
    picks the order row, the detail and the line items together — no window,
    no join back."""
    path = str(tmp_path / "batch")
    specs = [specs for specs, _, _ in _CONSOLIDATION_CASES.values()]
    _stream_rows(spark, [r for rows in specs for r in rows]).write.parquet(path)
    out = transform_source_batch(spark.read.parquet(path))
    assert out.count() == 8
    # the adaptive plan's final physical plan, once the query has run
    plan = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1, plan
    assert "BroadcastExchange" not in plan and "Window" not in plan, plan
    assert "Join" not in plan, plan


def test_duplicate_replay_is_noop(spark, scd1_table):
    """Scenario 7: replaying the same versions changes nothing (ties lose)."""
    batch = _stream_rows(spark, [{
        "xid": "x0", "csn": "c0", "dwhProcessedTs": "t0", "orderId": 1.0,
        "orders": [_order(1.0, 3.0, amount=99.0)],
        "orderDetails": [{"orderId": 1.0, "version": 2.0, "carrier": "DHL"}],
        "lineItems": [_item(1.0, 11.0, 4.0, 2.0)],
    }])
    merge_scd1(spark, batch, scd1_table)
    before = scd1_table.read().collect()[0]
    merge_scd1(spark, batch, scd1_table)
    after = scd1_table.read().collect()[0]
    assert after.version == before.version == 3.0
    assert after.totalAmount == 99.0
    assert after.orderDetails.version == 2.0 and after.orderDetails.carrier == "DHL"
    assert [li.version for li in after.lineItems] == [4.0]
    assert scd1_table.read().count() == 1


def test_bootstrap_replay_detected_by_txn_tag(spark, scd1_table):
    """Batch-0 replay (crash after bootstrap overwrite commit, before
    checkpoint write): the overwrite records the txn tag, so the replayed
    batch is SKIPPED by the merge path's replay check — no second commit,
    not merely coincidentally-idempotent clauses."""
    batch = _stream_rows(spark, [{
        "xid": "x0", "csn": "c0", "dwhProcessedTs": "t0", "orderId": 1.0,
        "orders": [_order(1.0, 1.0, amount=10.0)],
        "orderDetails": None, "lineItems": None,
    }])
    merge_scd1(spark, batch, scd1_table, txn_app="boot", txn_version=0)
    v_after_boot = scd1_table.latest_version()
    assert scd1_table.history()[0]["txn"] == {"app": "boot", "version": 0}
    merge_scd1(spark, batch, scd1_table, txn_app="boot", txn_version=0)  # replay
    assert scd1_table.latest_version() == v_after_boot  # no new commit at all
    assert scd1_table.read().count() == 1


def test_child_only_unknown_order_not_inserted(spark, scd1_table):
    """Insert guard: child-only tx for an order the target doesn't know stays
    out (whenNotMatched condition, ScdType1MergeApp.scala:130-131)."""
    known = _stream_rows(spark, [{
        "xid": "x0", "csn": "c0", "dwhProcessedTs": "t0", "orderId": 1.0,
        "orders": [_order(1.0, 1.0)], "orderDetails": [], "lineItems": [],
    }])
    merge_scd1(spark, known, scd1_table)
    child_only = _stream_rows(spark, [{
        "xid": "x1", "csn": "c1", "dwhProcessedTs": "t1", "orderId": 404.0,
        "orders": [], "orderDetails": [],
        "lineItems": [_item(404.0, 1.0, 1.0, 1.0)],
    }])
    merge_scd1(spark, child_only, scd1_table)
    assert [r.orderId for r in scd1_table.read().collect()] == [1.0]


def test_version_regression_keeps_target_fields(spark, scd1_table):
    """Late/old order version: order fields keep target values; only tx context
    moves (clause 2)."""
    merge_scd1(spark, _stream_rows(spark, [{
        "xid": "x0", "csn": "c0", "dwhProcessedTs": "t0", "orderId": 5.0,
        "orders": [_order(5.0, 4.0, amount=500.0)], "orderDetails": [], "lineItems": [],
    }]), scd1_table)
    merge_scd1(spark, _stream_rows(spark, [{
        "xid": "x9", "csn": "c9", "dwhProcessedTs": "t9", "orderId": 5.0,
        "orders": [_order(5.0, 2.0, amount=111.0)], "orderDetails": [], "lineItems": [],
    }]), scd1_table)
    r = scd1_table.read().collect()[0]
    assert r.version == 4.0 and r.totalAmount == 500.0  # target kept
    assert r.xid == "x9" and r.dwhProcessedTs == "t9"  # context refreshed


def test_full_chain_cdc_to_scd1(spark, tmp_path):
    """End-to-end §3.1 + §3.2: CDC files -> SCD2 stream -> SCD1 stream; SCD1
    rows are unique per orderId (the reference's primary validation probe,
    db/query_scd1_table.sql:14-19)."""
    from pyspark_cdc_engine.streaming.pipeline import cdc_to_scd2_stream
    from tests.cdc_fixtures import insert_tx, write_fixture_files

    base = tmp_path / "chain"
    txs = [insert_tx(i, f"x.{i}", f"9{i:03d}") for i in range(1, 5)]
    write_fixture_files(base / "cdc", base / "meta", txs)
    scd2 = DeltaliteTable(spark, str(base / "order_stream"))
    q = cdc_to_scd2_stream(spark, str(base / "cdc"), str(base / "meta"), scd2, str(base / "ck2"))
    q.awaitTermination(120)

    scd1 = DeltaliteTable(spark, str(base / "orders_current"))
    q2 = scd2_to_scd1_stream(spark, scd2, scd1, str(base / "ck1"))
    q2.awaitTermination(120)

    rows = scd1.read().collect()
    assert len(rows) == 4
    assert len({r.orderId for r in rows}) == 4  # uniqueness probe
    by_id = {r.orderId: r for r in rows}
    assert by_id[1.0].orderRef == "ORD-000001" and by_id[1.0].version == 1.0
    assert by_id[1.0].orderDetails is not None
    assert len(by_id[3.0].lineItems) == 2 + 3 % 4


def test_partitioned_orders_current_matches_flat(spark, tmp_path):
    """orders_current partitioned by currency at bootstrap: merges inherit the
    spec, content is identical to the unpartitioned table, and the data dirs
    really are currency-partitioned."""
    batches = [
        _stream_rows(spark, [{
            "xid": "x0", "csn": "c0", "dwhProcessedTs": "t0", "orderId": 1.0,
            "orders": [_order(1.0, 1.0)],
            "lineItems": [_item(1.0, 1.0, 1.0, 5.0)],
        }, {
            "xid": "x0", "csn": "c0", "dwhProcessedTs": "t0", "orderId": 2.0,
            "orders": [dict(_order(2.0, 1.0), currency="EUR")],
            "lineItems": [_item(2.0, 2.0, 1.0, 7.0)],
        }]),
        _stream_rows(spark, [{
            "xid": "x1", "csn": "c1", "dwhProcessedTs": "t1", "orderId": 1.0,
            "orders": [_order(1.0, 2.0, amount=99.0)],
            "lineItems": [],
        }]),
    ]
    flat = DeltaliteTable(spark, str(tmp_path / "flat"))
    parted = DeltaliteTable(spark, str(tmp_path / "parted"))
    for i, b in enumerate(batches):
        merge_scd1(spark, b, flat, txn_app="f", txn_version=i)
        merge_scd1(spark, b, parted, txn_app="p", txn_version=i,
                   partition_by=["currency"])
    assert parted._read_commit(parted.latest_version())["partition_by"] == ["currency"]
    live = parted._read_commit(parted.latest_version())["live"]
    assert any("currency=USD" in d and (parted._root / d).exists() for d in live)
    f = {(r.orderId, r.version, r.totalAmount, r.currency)
         for r in flat.read().collect()}
    p = {(r.orderId, r.version, r.totalAmount, r.currency)
         for r in parted.read().collect()}
    assert f == p and len(p) == 2
    assert {r.totalAmount for r in parted.read().filter("orderId = 1.0").collect()} == {99.0}
