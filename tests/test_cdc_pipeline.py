"""Golden tests for the CDC ingest pipeline (SURVEY §5 item 3; FIXTURES.md A3
scenarios): file-source streams -> transaction assembly -> SCD2 deltalite.
"""

from __future__ import annotations

from pyspark_cdc_engine.streaming.pipeline import cdc_to_scd2_batch, cdc_to_scd2_stream
from pyspark_cdc_engine.tables import DeltaliteTable
from tests.cdc_fixtures import TxBuilder, insert_tx, write_fixture_files


def _run_stream(spark, tmp, txs, metadata_for=None, prefix="batch0", subdir="run"):
    base = tmp / subdir
    write_fixture_files(base / "cdc", base / "meta", txs, metadata_for, file_prefix=prefix)
    table = DeltaliteTable(spark, str(base / "order_stream"))
    q = cdc_to_scd2_stream(
        spark, str(base / "cdc"), str(base / "meta"), table, str(base / "ckpt")
    )
    q.awaitTermination(120)
    return table, base


def test_insert_only_transaction(spark, tmp_path):
    """Scenario 1: 1 order + 1 detail + N items, metadata last -> one nested row."""
    tx = insert_tx(7, xid="1.2.3.100", csn="5001")
    table, _ = _run_stream(spark, tmp_path, [tx])
    rows = table.read().collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.orderId == 7.0 and r.xid == "1.2.3.100" and r.csn == "5001"
    assert len(r.orders) == 1 and len(r.orderDetails) == 1 and len(r.lineItems) == 5
    o = r.orders[0]
    assert o.orderRef == "ORD-000007" and o.totalAmount == 107.5 and o.before is None
    assert {li.productId for li in r.lineItems} == {f"PROD-{i:03d}" for i in range(1, 6)}
    assert r.lineItems[0].itemQty is not None


def test_rocksdb_state_store_actually_engaged(spark, tmp_path):
    """T5 is a conf row only if nothing proves the provider ran. Assert the
    session conf AND that the streaming checkpoint materialized RocksDB state
    artifacts (.zip snapshots / .changelog files under state/), which the
    default HDFSBackedStateStoreProvider does not produce."""
    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )
    tx = insert_tx(3, xid="rocks.1", csn="9001")
    _, base = _run_stream(spark, tmp_path, [tx])
    state = base / "ckpt" / "state"
    arts = [p for p in state.rglob("*") if p.suffix in (".zip", ".changelog")]
    assert arts, f"no RocksDB snapshot/changelog artifacts under {state}"


def test_update_with_before_images(spark, tmp_path):
    """Scenario 4: U events carry before images into the nested structs."""
    from tests.cdc_fixtures import _order_after

    tx = TxBuilder("9.9.9.1", "6001")
    tx.order(3, op="U", version=2, status="CONFIRMED", before=_order_after(3, 1, "PENDING"))
    table, _ = _run_stream(spark, tmp_path, [tx])
    rows = table.read().collect()
    assert len(rows) == 1
    o = rows[0].orders[0]
    assert o.version == 2.0 and o.orderStatus == "CONFIRMED"
    assert o.before is not None and o.before.version == 1.0 and o.before.orderStatus == "PENDING"


def test_multi_order_transaction(spark, tmp_path):
    """Scenario 6: one xid:csn touching 2 orders -> 2 OrderStream rows."""
    tx = TxBuilder("7.7.7.7", "7001")
    tx.order(1).item(1, 1).order(2).item(2, 1).item(2, 2)
    table, _ = _run_stream(spark, tmp_path, [tx])
    rows = {r.orderId: r for r in table.read().collect()}
    assert set(rows) == {1.0, 2.0}
    assert len(rows[1.0].lineItems) == 1 and len(rows[2.0].lineItems) == 2
    assert rows[1.0].xid == "7.7.7.7" and rows[2.0].csn == "7001"


def test_never_completing_transaction_emits_nothing(spark, tmp_path):
    """Scenario 9: metadata missing -> state parks, nothing emitted. Beside
    it, the completion rule is ``>=`` per table (T3): metadata promising one
    line item FEWER than was sent completes with every item, metadata
    promising one MORE parks."""
    done = insert_tx(1, "1.1.1.1", "8001")
    parked = insert_tx(2, "2.2.2.2", "8002")
    over = insert_tx(3, "3.3.3.3", "8003").promise("ORDER_LINE_ITEMS", 4)
    short = insert_tx(4, "4.4.4.4", "8004").promise("ORDER_LINE_ITEMS", 3)
    table, _ = _run_stream(spark, tmp_path, [done, parked, over, short],
                           metadata_for=[done, over, short])
    rows = {r.orderId: r for r in table.read().collect()}
    assert set(rows) == {1.0, 3.0}
    assert len(rows[3.0].lineItems) == 5  # insert_tx(3) sends 2 + 3 % 4 items


def test_out_of_order_across_microbatches(spark, tmp_path):
    """Scenarios 2+3: metadata arrives in batch 0, events in a later run —
    state buffers across restarts via the checkpoint."""
    tx = insert_tx(11, "3.3.3.3", "9001")
    base = tmp_path / "ooo"
    # Run 1: metadata only (metadata-first arrival).
    write_fixture_files(base / "cdc", base / "meta", [], metadata_for=[tx], file_prefix="b0")
    table = DeltaliteTable(spark, str(base / "order_stream"))
    q = cdc_to_scd2_stream(spark, str(base / "cdc"), str(base / "meta"), table, str(base / "ckpt"))
    q.awaitTermination(120)
    assert not table.exists() or table.read().count() == 0
    # Run 2: the CDC events land; transaction completes from restored state.
    write_fixture_files(base / "cdc", base / "meta", [tx], metadata_for=[], file_prefix="b1")
    q = cdc_to_scd2_stream(spark, str(base / "cdc"), str(base / "meta"), table, str(base / "ckpt"))
    q.awaitTermination(120)
    rows = table.read().collect()
    assert len(rows) == 1 and rows[0].orderId == 11.0 and len(rows[0].lineItems) == 5


def test_delete_event_parity_vs_opt_in(spark, tmp_path):
    """SURVEY §2.8: by default an op_type='D' event is IGNORED end to end
    (gg-configs/replicat/rep3.prm:6 IGNOREDELETES parity); with
    handle_deletes=True the same event tombstones the order and the SCD1
    whenMatchedDelete removes the row."""
    from pyspark_cdc_engine.scd1 import merge_scd1
    from tests.cdc_fixtures import TxBuilder

    ins = insert_tx(31, "d.d.d.1", "9201")
    delete = TxBuilder("d.d.d.2", "9202").order_delete(31)

    for mode, expect_orders in ((False, [31.0]), (True, [])):
        base = tmp_path / f"del_{mode}"
        write_fixture_files(base / "cdc", base / "meta", [ins, delete])
        scd2 = DeltaliteTable(spark, str(base / "order_stream"))
        q = cdc_to_scd2_stream(spark, str(base / "cdc"), str(base / "meta"),
                               scd2, str(base / "ckpt"), handle_deletes=mode)
        q.awaitTermination(120)
        scd1 = DeltaliteTable(spark, str(base / "orders_current"))
        # merge per transaction (csn order) — the insert and the delete land
        # in separate micro-batches, as they would from the chained stream
        merge_scd1(spark, scd2.read().filter("csn = '9201'"), scd1,
                   handle_deletes=mode)
        merge_scd1(spark, scd2.read().filter("csn = '9202'"), scd1,
                   handle_deletes=mode)
        rows = scd1.read().collect() if scd1.exists() else []
        assert sorted(r.orderId for r in rows) == expect_orders, mode
        if mode:
            # tombstone row reached SCD2 flagged, with the last-known image
            stream = {r.orderId: r for r in scd2.read().collect()
                      if r.xid == "d.d.d.2"}
            assert stream[31.0].deleted is True
            assert stream[31.0].orders[0].orderRef == "ORD-000031"
        else:
            # parity: the delete tx completes but contributes no entities
            assert all(r.xid != "d.d.d.2" for r in scd2.read().collect())


def test_delete_then_reinsert_round_trip(spark, tmp_path):
    """Opt-in mode: delete removes the row, a later insert re-creates it —
    the tombstone must not poison the insert clause."""
    from pyspark_cdc_engine.scd1 import merge_scd1

    from tests.cdc_fixtures import TxBuilder

    base = tmp_path / "delre"
    ins = insert_tx(41, "r.r.r.1", "9301")
    delete = TxBuilder("r.r.r.2", "9302").order_delete(41, version=1)
    reins = insert_tx(41, "r.r.r.3", "9303")

    write_fixture_files(base / "cdc", base / "meta", [ins, delete, reins])
    scd2 = DeltaliteTable(spark, str(base / "order_stream"))
    q = cdc_to_scd2_stream(spark, str(base / "cdc"), str(base / "meta"),
                           scd2, str(base / "ckpt"), handle_deletes=True)
    q.awaitTermination(120)
    scd1 = DeltaliteTable(spark, str(base / "orders_current"))
    # batch 1: insert only (by csn order the builder wrote them together, so
    # replay the three transactions as separate merges)
    rows = scd2.read()
    merge_scd1(spark, rows.filter("csn = '9301'"), scd1, handle_deletes=True)
    assert scd1.read().count() == 1
    merge_scd1(spark, rows.filter("csn = '9302'"), scd1, handle_deletes=True)
    assert scd1.read().count() == 0  # tombstone removed the row
    merge_scd1(spark, rows.filter("csn = '9303'"), scd1, handle_deletes=True)
    assert scd1.read().count() == 1  # re-insert lands
    assert scd1.read().collect()[0].orderRef == "ORD-000041"


def test_ttl_expires_parked_transaction(spark, tmp_path):
    """Opt-in TTL (T6 extension): a transaction parked longer than the TTL is
    dropped — its events arriving after expiry start a fresh metadata-less
    buffer that never completes. Contrast: test_out_of_order_across_microbatches
    proves the same sequence DOES emit under NoTimeout parity."""
    import time as _time

    tx = insert_tx(21, "t.t.l.1", "9101")
    filler = insert_tx(22, "f.f.f.2", "9102")
    base = tmp_path / "ttl"
    ttl_min = 1.5 / 60  # 1.5 s

    def run(prefix, txs, metadata_for):
        write_fixture_files(base / "cdc", base / "meta", txs,
                            metadata_for=metadata_for, file_prefix=prefix)
        table = DeltaliteTable(spark, str(base / "order_stream"))
        q = cdc_to_scd2_stream(spark, str(base / "cdc"), str(base / "meta"),
                               table, str(base / "ckpt"), ttl_minutes=ttl_min)
        # an availableNow query with pending processing-time timers stays
        # alive waiting on them; give it long enough to drain data + fire any
        # expired timer (> ttl), then stop explicitly
        if not q.awaitTermination(8):
            q.stop()
            q.awaitTermination(30)
        return table

    # Batch 0: metadata only -> tx 21 parks with a 1.5 s timer.
    run("b0", [], [tx])
    _time.sleep(3)
    # Batch 1 (after expiry): unrelated complete tx; the parked key fires
    # hasTimedOut during this batch and is removed.
    table = run("b1", [filler], [filler])
    # Batch 2: tx 21's events finally arrive — but its metadata is gone.
    table = run("b2", [tx], [])
    rows = table.read().collect()
    assert [r.orderId for r in rows] == [22.0]  # expired tx never emits


def test_batch_assembly_matches_stream(spark, tmp_path):
    """Batch path (assemble_transactions_batch) emits the same records."""
    txs = [insert_tx(i, f"b.{i}", f"1{i:04d}") for i in range(1, 6)]
    table, base = _run_stream(spark, tmp_path, txs, subdir="stream")
    write_fixture_files(tmp_path / "b" / "cdc", tmp_path / "b" / "meta", txs)
    batch = cdc_to_scd2_batch(spark, str(tmp_path / "b" / "cdc"), str(tmp_path / "b" / "meta"))

    def key(rows):
        return sorted(
            (r.orderId, r.xid, r.csn, len(r.orders), len(r.orderDetails), len(r.lineItems),
             tuple(sorted(li.productId for li in r.lineItems)))
            for r in rows
        )

    assert key(table.read().collect()) == key(batch.collect())
    assert batch.count() == 5


def test_child_only_transaction(spark, tmp_path):
    """Scenario 5: line-item-only tx -> record with empty orders/details arrays."""
    tx = TxBuilder("c.c.c.c", "9501")
    tx.item(42, 1, op="U", version=3, qty=9.0)
    table, _ = _run_stream(spark, tmp_path, [tx])
    rows = table.read().collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.orderId == 42.0 and len(r.orders) == 0 and len(r.lineItems) == 1
    assert r.lineItems[0].version == 3.0 and r.lineItems[0].itemQty == 9.0


def test_duplicate_replay_semantics(spark, tmp_path):
    """Replay of an already-completed transaction (reference semantics:
    state.remove() after emit, so a full replay re-buffers, re-completes and
    re-emits): SCD2 receives a second append-only row; the SCD1 merge stays
    idempotent — one row per order, version unchanged."""
    from pyspark_cdc_engine.scd1 import merge_scd1

    tx = insert_tx(5, xid="r.r.r.r", csn="7777")
    base = tmp_path / "replay"
    write_fixture_files(base / "cdc", base / "meta", [tx], file_prefix="b0")
    table = DeltaliteTable(spark, str(base / "order_stream"))
    q = cdc_to_scd2_stream(spark, str(base / "cdc"), str(base / "meta"), table, str(base / "ckpt"))
    q.awaitTermination(120)
    assert table.read().count() == 1
    # replay the identical events + metadata in a later file
    write_fixture_files(base / "cdc", base / "meta", [tx], file_prefix="b1")
    q = cdc_to_scd2_stream(spark, str(base / "cdc"), str(base / "meta"), table, str(base / "ckpt"))
    q.awaitTermination(120)
    rows = table.read().collect()
    assert len(rows) == 2  # SCD2 is append-only history: replay re-emits
    assert {r.orderId for r in rows} == {5.0}

    scd1 = DeltaliteTable(spark, str(base / "orders_current"))
    merge_scd1(spark, table.read(), scd1)
    current = scd1.read().collect()
    assert len(current) == 1  # SCD1 dedupes: one row per order
    assert current[0].orderId == 5.0 and current[0].version == 1.0


def test_malformed_cdc_lines_are_dropped_not_fatal(spark, tmp_path):
    """Poison-pill tolerance: garbage JSON, valid-JSON-wrong-shape, and empty
    lines interleaved with a real transaction must be dropped by the
    from_json + null-key filter (P1/P4) — the stream completes and the good
    transaction lands."""
    import json as _json

    base = tmp_path / "poison"
    tx = insert_tx(5, xid="p.5", csn="6005")
    (base / "cdc").mkdir(parents=True)
    (base / "meta").mkdir(parents=True)
    lines = ["{not json at all", '{"unrelated": "shape"}', ""]
    lines += [_json.dumps(e) for e in tx.events]
    lines += ['<<<binary-ish \x01 garbage>>>']
    (base / "cdc" / "batch0.json").write_text("\n".join(lines) + "\n")
    (base / "meta" / "batch0.json").write_text(
        _json.dumps(tx.metadata()) + "\n" + "{broken meta\n"
    )
    table = DeltaliteTable(spark, str(base / "order_stream"))
    q = cdc_to_scd2_stream(spark, str(base / "cdc"), str(base / "meta"),
                           table, str(base / "ckpt"))
    q.awaitTermination(120)
    rows = table.read().collect()
    assert len(rows) == 1 and rows[0].orderId == 5.0


def _offset_confs(ckpt):
    """The session confs each micro-batch's offset-log entry records (line 2
    of ``offsets/<id>``), in batch order; Spark restores them on restart."""
    import json as _json

    ids = sorted(int(p.name) for p in (ckpt / "offsets").iterdir() if p.name.isdigit())
    return [_json.loads((ckpt / "offsets" / str(i)).read_text().splitlines()[1])["conf"]
            for i in ids]


def test_state_partitions_default_to_the_session_cores(spark, tmp_path):
    """The session's shuffle-partition default (one per local core) is what
    the stream's first micro-batch records, so the stateful operator runs
    that many state partitions for the life of the checkpoint."""
    _, base = _run_stream(spark, tmp_path, [insert_tx(1, "p.1", "4001")])
    conf = _offset_confs(base / "ckpt")[0]
    assert conf["spark.sql.shuffle.partitions"] == str(
        spark.sparkContext.defaultParallelism
    )


def test_restart_keeps_the_checkpoints_state_partitions(spark, tmp_path):
    """A checkpoint begun at another partition count (8 here; deployments
    whose checkpoints began at the old default of 32) restarts at that count
    under a session sized differently, and the transaction parked across the
    restart is emitted once, exactly as a run without the restart emits it."""
    done = insert_tx(1, "k.1", "4101")
    parked = TxBuilder("k.2", "4102").order(2, op="U", version=2).item(2, 1, op="U", version=2)
    base = tmp_path / "restart"
    table = DeltaliteTable(spark, str(base / "order_stream"))

    def run():
        q = cdc_to_scd2_stream(spark, str(base / "cdc"), str(base / "meta"),
                               table, str(base / "ckpt"))
        q.awaitTermination(120)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        write_fixture_files(base / "cdc", base / "meta", [done, parked],
                            metadata_for=[done], file_prefix="b0")
        run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert prev != "8"
    first_run_batches = len(_offset_confs(base / "ckpt"))
    write_fixture_files(base / "cdc", base / "meta", [], metadata_for=[parked],
                        file_prefix="b1")
    run()

    confs = _offset_confs(base / "ckpt")
    assert len(confs) > first_run_batches
    assert confs[-1]["spark.sql.shuffle.partitions"] == "8"
    state_parts = {p.name for p in (base / "ckpt" / "state" / "0").iterdir()
                   if p.name.isdigit()}
    assert state_parts == {str(i) for i in range(8)}
    rows = table.read().drop("dwhProcessedTs").collect()
    assert [r.xid for r in rows].count("k.2") == 1

    once, _ = _run_stream(spark, tmp_path, [done, parked], subdir="once")
    expected = once.read().drop("dwhProcessedTs").collect()
    assert sorted(map(repr, rows)) == sorted(map(repr, expected))
