"""Deterministic GG-format CDC fixture generator (FIXTURES.md A1-A3).

Follows the reference's source-data recipe (db/oracle-ddl.sql:87-180): order
N has 2 + (N % 4) line items, quantities split exactly, version starts at 1
and increments per update.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Any

BASE_TS = "2024-01-01 00:00:00.000000"


def _order_after(order_id: int, version: int = 1, status: str = "PENDING") -> dict[str, str]:
    return {
        "ORDER_ID": str(order_id),
        "ORDER_REF": f"ORD-{order_id:06d}",
        "VERSION": str(version),
        "ORDER_DATE": "2024-01-01",
        "ORDER_TS": BASE_TS,
        "ORDER_STATUS": status,
        "ORDER_TYPE": ["STANDARD", "EXPRESS", "SUBSCRIPTION"][order_id % 3],
        "TOTAL_AMOUNT": f"{100 + order_id}.5000",
        "CURRENCY": "USD",
        "CUSTOMER_ID": f"CUST-{order_id % 50:03d}",
        "SHIPPING_ADDRESS_ID": f"ADDR-{order_id % 70:03d}",
        "CREATED_TS": BASE_TS,
    }


def _detail_after(order_id: int, version: int = 1, status: str = "PENDING") -> dict[str, str]:
    return {
        "ORDER_ID": str(order_id),
        "VERSION": str(version),
        "SHIPPING_METHOD": ["STANDARD", "EXPRESS", "OVERNIGHT", "PICKUP"][order_id % 4],
        "TRACKING_NUMBER": f"TRK-{10000000 + order_id}",
        "SHIPPED_TS": BASE_TS,
        "ESTIMATED_DELIVERY_DATE": "2024-01-08",
        "CARRIER": ["FEDEX", "UPS", "DHL", "USPS"][order_id % 4],
        "DELIVERY_STATUS": status,
    }


def _item_after(order_id: int, item_no: int, version: int = 1, qty: float = 1.0) -> dict[str, str]:
    price = 10.0 + item_no
    return {
        "LINE_ITEM_ID": str(order_id * 100 + item_no),
        "ORDER_ID": str(order_id),
        "VERSION": str(version),
        "PRODUCT_ID": f"PROD-{item_no:03d}",
        "ITEM_QTY": f"{qty:.4f}",
        "ITEM_PRICE": f"{price:.8f}",
        "ITEM_AMOUNT": f"{qty * price:.4f}",
        "ITEM_CURRENCY": "USD",
    }


class TxBuilder:
    """Builds one transaction's CDC events + metadata doc."""

    def __init__(self, xid: str, csn: str, pos_start: int = 1):
        self.xid, self.csn = xid, csn
        self.events: list[dict[str, Any]] = []
        self._pos = pos_start
        self._counts: dict[str, int] = {}

    def _emit(self, table: str, op: str, after: dict | None, before: dict | None) -> None:
        self.events.append(
            {
                "table": f"APPUSER.{table}",
                "op_type": op,
                "op_ts": BASE_TS,
                "current_ts": BASE_TS,
                "pos": f"{self._pos:020d}",
                "csn": self.csn,
                "xid": self.xid,
                "before": before,
                "after": after,
            }
        )
        self._pos += 1
        self._counts[table] = self._counts.get(table, 0) + 1

    def order(self, order_id: int, op: str = "I", version: int = 1, status: str = "PENDING",
              before: dict | None = None) -> "TxBuilder":
        self._emit("ORDERS", op, _order_after(order_id, version, status), before)
        return self

    def detail(self, order_id: int, op: str = "I", version: int = 1, status: str = "PENDING",
               before: dict | None = None) -> "TxBuilder":
        self._emit("ORDER_DETAILS", op, _detail_after(order_id, version, status), before)
        return self

    def item(self, order_id: int, item_no: int, op: str = "I", version: int = 1,
             qty: float = 1.0, before: dict | None = None) -> "TxBuilder":
        self._emit("ORDER_LINE_ITEMS", op, _item_after(order_id, item_no, version, qty), before)
        return self

    def order_delete(self, order_id: int, version: int = 1,
                     status: str = "PENDING") -> "TxBuilder":
        """GG delete event: null ``after``, row image in ``before``."""
        self._emit("ORDERS", "D", None, _order_after(order_id, version, status))
        return self

    def promise(self, table: str, n: int) -> "TxBuilder":
        """Make the metadata doc promise ``n`` events for ``table`` instead
        of the number actually emitted (models over- and under-delivery)."""
        self._counts[table] = n
        return self

    def metadata(self) -> dict[str, Any]:
        return {
            "xid": self.xid,
            "csn": self.csn,
            "tx_ts": BASE_TS,
            "event_count": sum(self._counts.values()),
            "data_collections": [
                {"data_collection": t, "event_count": n} for t, n in sorted(self._counts.items())
            ],
        }


def insert_tx(order_id: int, xid: str, csn: str) -> TxBuilder:
    """Standard insert transaction: order + detail + 2+(id%4) items (recipe
    parity with db/oracle-ddl.sql:91-180)."""
    b = TxBuilder(xid, csn)
    b.order(order_id)
    b.detail(order_id)
    for i in range(2 + order_id % 4):
        b.item(order_id, i + 1, qty=float(i + 1))
    return b


def write_fixture_files(
    cdc_dir: str | Path, meta_dir: str | Path,
    txs: list[TxBuilder], metadata_for: list[TxBuilder] | None = None,
    file_prefix: str = "batch0",
) -> None:
    """One JSON doc per line; metadata_for defaults to all txs (pass fewer to
    model never-completing transactions)."""
    cdc_dir, meta_dir = Path(cdc_dir), Path(meta_dir)
    cdc_dir.mkdir(parents=True, exist_ok=True)
    meta_dir.mkdir(parents=True, exist_ok=True)
    cdc_lines = [json.dumps(e) for b in txs for e in b.events]
    meta_lines = [json.dumps(b.metadata()) for b in (metadata_for if metadata_for is not None else txs)]
    (cdc_dir / f"{file_prefix}.json").write_text("\n".join(cdc_lines) + "\n" if cdc_lines else "")
    (meta_dir / f"{file_prefix}.json").write_text("\n".join(meta_lines) + "\n" if meta_lines else "")
