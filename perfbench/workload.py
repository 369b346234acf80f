"""Seeded input generators for the benchmark.

Everything a run consumes is derived from ``--seed`` here, in the benchmark's
own directory, so that no edit to a test fixture can change a workload.

CDC inputs are GoldenGate "op"-format JSON documents (one per line) plus one
transaction-metadata document per transaction, the same wire shape the
engine's file source parses.  Alongside the documents the generators keep an
independent model of what the engine must produce:

- ``pairs``: the (xid, orderId) rows ``order_stream`` must hold, one per
  completed transaction and order it touches;
- ``orders`` / ``details`` / ``items``: the state ``orders_current`` must
  converge to, where per order, per detail and per line item the highest
  version wins -- whatever order transactions complete in.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from pathlib import Path

BASE_TS = "2024-01-01 00:00:00.000000"
STATUSES = ["PENDING", "CONFIRMED", "PACKED", "SHIPPED", "DELIVERED"]


# --------------------------------------------------------------------- CDC model
@dataclass
class Tx:
    xid: str
    csn: str
    events: list[dict] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=dict)
    order_ids: set[int] = field(default_factory=set)

    def emit(self, table: str, after: dict, op: str) -> None:
        self.events.append({
            "table": f"APPUSER.{table}",
            "op_type": op,
            "op_ts": BASE_TS,
            "current_ts": BASE_TS,
            "pos": f"{len(self.events) + 1:020d}",
            "csn": self.csn,
            "xid": self.xid,
            "before": None,
            "after": after,
        })
        self.counts[table] = self.counts.get(table, 0) + 1
        self.order_ids.add(int(after["ORDER_ID"]))

    def metadata(self) -> dict:
        return {
            "xid": self.xid,
            "csn": self.csn,
            "tx_ts": BASE_TS,
            "event_count": len(self.events),
            "data_collections": [
                {"data_collection": t, "event_count": n}
                for t, n in sorted(self.counts.items())
            ],
        }


@dataclass
class Batch:
    """One landing: CDC documents and metadata documents, as JSON lines."""

    cdc_lines: list[str]
    meta_lines: list[str]
    keys: int  # distinct transaction keys the batch touches

    @property
    def docs(self) -> int:
        return len(self.cdc_lines) + len(self.meta_lines)


class CdcModel:
    """Order population, its expected end state, and the transactions that
    change it.  All randomness comes from one ``random.Random(seed)``."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_tx = 0
        self.next_order = 1
        self.orders: dict[int, dict] = {}   # orderId -> expected order image
        self.details: dict[int, dict] = {}  # orderId -> expected detail image
        self.items: dict[int, dict[int, dict]] = {}  # orderId -> lineItemId -> image
        self.pairs: list[tuple[str, int]] = []  # completed (xid, orderId)
        self.parked: dict[int, list[Tx]] = {}  # landing index -> txs due then

    # ------------------------------------------------------------- images
    def _new_tx(self) -> Tx:
        self.next_tx += 1
        return Tx(xid=f"tx.{self.next_tx}", csn=str(1_000_000 + self.next_tx))

    def _order(self, oid: int, version: int) -> dict:
        return {
            "ORDER_ID": str(oid),
            "ORDER_REF": f"ORD-{oid:07d}",
            "VERSION": str(version),
            "ORDER_DATE": "2024-01-01",
            "ORDER_TS": BASE_TS,
            "ORDER_STATUS": self.rng.choice(STATUSES),
            "ORDER_TYPE": ["STANDARD", "EXPRESS", "SUBSCRIPTION"][oid % 3],
            "TOTAL_AMOUNT": f"{self.rng.randint(1000, 999999) / 100:.2f}",
            "CURRENCY": "USD",
            "CUSTOMER_ID": f"CUST-{self.rng.randint(0, 4999):04d}",
            "SHIPPING_ADDRESS_ID": f"ADDR-{self.rng.randint(0, 9999):04d}",
            "CREATED_TS": BASE_TS,
        }

    def _detail(self, oid: int, version: int) -> dict:
        return {
            "ORDER_ID": str(oid),
            "VERSION": str(version),
            "SHIPPING_METHOD": ["STANDARD", "EXPRESS", "OVERNIGHT", "PICKUP"][oid % 4],
            "TRACKING_NUMBER": f"TRK-{10_000_000 + oid}",
            "SHIPPED_TS": BASE_TS,
            "ESTIMATED_DELIVERY_DATE": "2024-01-08",
            "CARRIER": ["FEDEX", "UPS", "DHL", "USPS"][oid % 4],
            "DELIVERY_STATUS": self.rng.choice(STATUSES),
        }

    def _item(self, oid: int, liid: int, version: int) -> dict:
        qty = self.rng.randint(1, 20)
        price = self.rng.randint(100, 9999) / 100
        return {
            "LINE_ITEM_ID": str(liid),
            "ORDER_ID": str(oid),
            "VERSION": str(version),
            "PRODUCT_ID": f"PROD-{self.rng.randint(0, 999):03d}",
            "ITEM_QTY": f"{qty}",
            "ITEM_PRICE": f"{price:.2f}",
            "ITEM_AMOUNT": f"{qty * price:.2f}",
            "ITEM_CURRENCY": "USD",
        }

    # --------------------------------------------------------- mutations
    # Every mutation bumps the entity's version and records the new image as
    # the expected one: versions only grow, so the latest generated image is
    # the highest-versioned one, whenever its transaction completes.
    def _insert_order(self, tx: Tx) -> None:
        oid = self.next_order
        self.next_order += 1
        o, d = self._order(oid, 1), self._detail(oid, 1)
        tx.emit("ORDERS", o, "I")
        tx.emit("ORDER_DETAILS", d, "I")
        self.orders[oid], self.details[oid], self.items[oid] = o, d, {}
        for n in range(self.rng.randint(2, 5)):
            it = self._item(oid, oid * 100 + n, 1)
            tx.emit("ORDER_LINE_ITEMS", it, "I")
            self.items[oid][oid * 100 + n] = it

    def _update_full(self, tx: Tx, oid: int) -> None:
        o = self._order(oid, int(self.orders[oid]["VERSION"]) + 1)
        d = self._detail(oid, int(self.details[oid]["VERSION"]) + 1)
        tx.emit("ORDERS", o, "U")
        tx.emit("ORDER_DETAILS", d, "U")
        self.orders[oid], self.details[oid] = o, d
        for liid, cur in sorted(self.items[oid].items()):
            it = self._item(oid, liid, int(cur["VERSION"]) + 1)
            tx.emit("ORDER_LINE_ITEMS", it, "U")
            self.items[oid][liid] = it

    def _update_items(self, tx: Tx, oid: int) -> None:
        ids = sorted(self.items[oid])
        for liid in self.rng.sample(ids, min(len(ids), self.rng.randint(1, 2))):
            it = self._item(oid, liid, int(self.items[oid][liid]["VERSION"]) + 1)
            tx.emit("ORDER_LINE_ITEMS", it, "U")
            self.items[oid][liid] = it

    # ----------------------------------------------------------- batches
    def _batch(self, landing: int, txs: list[Tx], late: dict[int, list[Tx]]) -> Batch:
        """Land ``txs``' events; metadata of the txs in ``late`` (keyed by the
        landing it is due at) is held back, and metadata due now is added."""
        held = {id(t) for ts in late.values() for t in ts}
        for due, ts in late.items():
            self.parked.setdefault(due, []).extend(ts)
        completing = [t for t in txs if id(t) not in held] + self.parked.pop(landing, [])
        for t in completing:
            self.pairs.extend((t.xid, oid) for oid in sorted(t.order_ids))
        return Batch(
            cdc_lines=[json.dumps(e) for t in txs for e in t.events],
            meta_lines=[json.dumps(t.metadata()) for t in completing],
            keys=len({t.xid for t in txs} | {t.xid for t in completing}),
        )

    def insert_batch(self, landing: int, n_tx: int, orders_per_tx: int = 1) -> Batch:
        txs = []
        for _ in range(n_tx):
            tx = self._new_tx()
            for _ in range(orders_per_tx):
                self._insert_order(tx)
            txs.append(tx)
        return self._batch(landing, txs, {})

    def update_batch(self, landing: int, n_docs: int, late_share: float,
                     max_delay: int, drain: bool = False) -> Batch:
        """Single-order update transactions on skew-drawn orderIds, added
        until they carry ``n_docs`` documents (events plus one metadata
        document each), so every step holds about the same work whatever
        the mix drawn.

        Mix: 40% full order+detail+items updates, 60% child-only line-item
        updates; a hot order draws several transactions in one landing.  A
        ``late_share`` of transactions get their metadata 1..``max_delay``
        landings later (parked in state meanwhile), and each is followed at
        once by a full update of the same order that is not held back: the
        newer versions complete first and the parked, older ones must lose
        when they complete.  ``drain`` parks nothing new and releases every
        held metadata document, so all transactions are complete after this
        landing."""
        population = self.next_order - 1
        txs, late, docs = [], {}, 0
        while docs < n_docs:
            # Log-uniform rank over the whole population: the hottest order
            # takes ~7% of updates at 10k orders, the long tail a few; the
            # prime stride scatters hot ranks over the whole orderId range.
            rank = int(population ** self.rng.random()) - 1
            oid = 1 + (rank * 7919) % population
            tx = self._new_tx()
            if self.rng.random() < 0.4:
                self._update_full(tx, oid)
            else:
                self._update_items(tx, oid)
            txs.append(tx)
            if not drain and self.rng.random() < late_share:
                late.setdefault(landing + self.rng.randint(1, max_delay), []).append(tx)
                newer = self._new_tx()
                self._update_full(newer, oid)
                txs.append(newer)
                docs += len(newer.events) + 1
            docs += len(tx.events) + 1
        if drain:
            for due in sorted(k for k in self.parked if k > landing):
                self.parked.setdefault(landing, []).extend(self.parked.pop(due))
        return self._batch(landing, txs, late)

    @property
    def parked_txs(self) -> int:
        return sum(len(v) for v in self.parked.values())


def land(batch: Batch, cdc_dir: Path, meta_dir: Path, staging: Path, name: str) -> None:
    """Write a batch under ``staging`` and rename it into the source dirs, so
    the file source never lists a half-written file."""
    for lines, dest in ((batch.cdc_lines, cdc_dir), (batch.meta_lines, meta_dir)):
        if not lines:
            continue
        tmp = staging / f"{dest.name}-{name}.json"
        tmp.write_text("\n".join(lines) + "\n")
        os.replace(tmp, dest / f"{name}.json")
