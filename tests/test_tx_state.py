"""Unit tests of the transaction-state function
(``tx_state.make_process_transaction``): the completion protocol decided per
key, per micro-batch, against a small fake of ``GroupState``, called in the
test process without Spark. The end-to-end goldens in ``tests/test_cdc_pipeline.py`` run
the same function on the real ``applyInPandasWithState`` runtime (the ``>=``
completion rule, T3, is checked there, in
``test_never_completing_transaction_emits_nothing``).

Reference parity target: TransactionalCdcProcessingApp.scala:138-223 +
TransactionState.scala:20-68.
"""

from __future__ import annotations

import pandas as pd

from pyspark_cdc_engine.streaming.tx_state import _OUT_COLS, make_process_transaction
from tests.cdc_fixtures import _item_after, _order_after


class FakeGroupState:
    """The slice of ``GroupState`` the state function touches; the stored
    value is the tuple passed to ``update``, returned as-is by ``get``."""

    def __init__(self):
        self.value = None
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self) -> bool:
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value) -> None:
        self.value = tuple(value)

    def remove(self) -> None:
        self.value = None

    def setTimeoutDuration(self, ms: int) -> None:
        self.timeout_ms = ms


class Harness:
    """Drives the state function the way the runtime does: per micro-batch,
    group rows by tx_key and call it once per key with that key's state."""

    def __init__(self, ttl_minutes=None):
        self.fn = make_process_transaction(ttl_minutes)
        self.states: dict[str, FakeGroupState] = {}

    def batch(self, events: list[dict]) -> pd.DataFrame:
        out = [pd.DataFrame(columns=_OUT_COLS)]
        for key, group in pd.DataFrame(events).groupby("tx_key", sort=True):
            state = self.states.setdefault(key, FakeGroupState())
            out.extend(self.fn((key,), iter([group]), state))
        return pd.concat([o for o in out if len(o)] or out, ignore_index=True)


def _ev(tx, table, pos="1", after=None):
    return {
        "tx_key": tx, "event_type": "DATA", "table": f"APPUSER.{table}",
        "op_type": "I", "pos": pos, "before": None, "after": after,
        "data_collections": None,
    }


def _meta(tx, counts: dict[str, int]):
    return {
        "tx_key": tx, "event_type": "METADATA", "table": None, "op_type": None,
        "pos": None, "before": None, "after": None,
        "data_collections": [
            {"data_collection": t, "event_count": n} for t, n in counts.items()
        ],
    }


def test_metadata_expecting_more_than_buffered_stays_parked():
    """No metadata parks however many batches pass; metadata promising more
    events than are buffered parks too, until the missing event lands."""
    h = Harness()
    for _ in range(3):
        assert len(h.batch([_ev("x4:c4", "ORDER_LINE_ITEMS",
                                after=_item_after(10, 1))])) == 0
    assert len(h.batch([_meta("x4:c4", {"ORDER_LINE_ITEMS": 4, "ORDERS": 1})])) == 0
    assert h.states["x4:c4"].exists
    out = h.batch([_ev("x4:c4", "ORDERS", pos="9", after=_order_after(10))])
    assert len(out) == 0  # still one line item short of the promised four
    out = h.batch([_ev("x4:c4", "ORDER_LINE_ITEMS", pos="10",
                       after=_item_after(10, 2))])
    assert len(out) == 1 and len(out.iloc[0].lineItems) == 4


def test_events_first_complete_when_metadata_arrives_later():
    """T4 in the other direction from the pipeline golden: the events park in
    state and the metadata arriving in a later micro-batch completes them."""
    h = Harness()
    assert len(h.batch([_ev("x2:c2", "ORDERS", after=_order_after(8))])) == 0
    out = h.batch([_meta("x2:c2", {"ORDERS": 1})])
    assert len(out) == 1 and out.iloc[0].orderId == 8.0
    assert out.iloc[0].xid == "x2" and out.iloc[0].csn == "c2"


def test_state_cleared_after_emit_duplicate_metadata_does_not_reemit():
    """T2 exactly-once: emission removes the state, so a replayed metadata
    doc alone starts an empty buffer that never completes."""
    h = Harness()
    done = h.batch([_ev("x5:c5", "ORDERS", after=_order_after(11)),
                    _meta("x5:c5", {"ORDERS": 1})])
    assert len(done) == 1 and not h.states["x5:c5"].exists
    assert len(h.batch([_meta("x5:c5", {"ORDERS": 1})])) == 0
    assert h.states["x5:c5"].exists  # parked, empty buffers


def test_ttl_arms_timeout_and_expiry_drops_state():
    """ttl_minutes re-arms the processing-time timeout on every update; a
    timed-out invocation removes the parked transaction without emitting."""
    h = Harness(ttl_minutes=5)
    h.batch([_ev("x7:c7", "ORDERS", after=_order_after(12))])
    state = h.states["x7:c7"]
    assert state.timeout_ms == 300_000
    state.hasTimedOut = True  # the runtime's timeout call carries no rows
    emitted = list(h.fn(("x7:c7",), iter([]), state))
    assert all(len(o) == 0 for o in emitted) and not state.exists

    parity = Harness()  # default NoTimeout: no timer is ever armed
    parity.batch([_ev("x8:c8", "ORDERS", after=_order_after(13))])
    assert parity.states["x8:c8"].timeout_ms is None
