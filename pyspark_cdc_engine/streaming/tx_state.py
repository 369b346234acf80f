"""The transaction-buffering stateful operator (SURVEY §2 J1/T1-T4) — the one
genuinely custom operator in the engine.

Reference parity: groupByKey(xid:csn).flatMapGroupsWithState(Append, NoTimeout)
(TransactionalCdcProcessingApp.scala:70-72,138-223) + TransactionState
completion protocol (TransactionState.scala:20-68). PySpark-idiomatic
realization: ``groupBy("tx_key").applyInPandasWithState`` with native typed
state buffers (ARRAY<STRUCT> event lists — see schemas.TX_STATE_SCHEMA, the
analog of the reference's typed TransactionState bean), RocksDB state store
provider.

Semantics preserved exactly:
- buffers accumulate across micro-batches; metadata may arrive before, between
  or after its CDC events (T4);
- completion = metadata present AND each per-table buffer size >= the summed
  expected count for that collection (note ``>=``, not ``==`` — T3);
- on completion: denormalize via the joiner, emit, remove state (idempotent
  re-delivery of a later duplicate starts a fresh, never-completing buffer);
- incomplete transactions park forever under NoTimeout (T6 parity); pass
  ``ttl_minutes`` to opt into ProcessingTimeTimeout state expiry (strict
  improvement, default off).

Scale: parallelism is bounded by transaction-key cardinality (the reference
documents the same, IMPLEMENTATION.md:185-191); the single shuffle is the hash
exchange on tx_key, and per-key state is a handful of small JSON strings in
RocksDB — no skew risk beyond pathological single-transaction floods. The
number of state partitions is ``spark.sql.shuffle.partitions`` at the
checkpoint's first run, fixed from then on (restored from the offset log, and
never coalesced by AQE); each partition is one RocksDB instance that pays a
load and a commit on every micro-batch, data or not, so size it to the cores
that run the stream (session.get_spark does so for local masters).
"""

from __future__ import annotations

import sys
from collections.abc import Iterator
from datetime import datetime, timezone
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

import pyspark_cdc_engine.joiner
import pyspark_cdc_engine.schemas
from pyspark_cdc_engine.joiner import join_transaction
from pyspark_cdc_engine.schemas import ORDER_STREAM_SCHEMA, TX_STATE_SCHEMA

# The state/apply functions ship to Python workers via cloudpickle. Workers
# don't necessarily have this repo on sys.path (only the driver does), so
# register our modules for by-value serialization — the closure then carries
# the code instead of an import reference.
for _cp_name in ("pyspark.cloudpickle", "cloudpickle"):
    try:  # pragma: no cover - depends on cloudpickle availability/version
        import importlib

        _cp = importlib.import_module(_cp_name)
        _cp.register_pickle_by_value(pyspark_cdc_engine.joiner)
        _cp.register_pickle_by_value(pyspark_cdc_engine.schemas)
        _cp.register_pickle_by_value(sys.modules[__name__])
    except (ImportError, AttributeError):
        pass

_OUT_COLS = [f.name for f in ORDER_STREAM_SCHEMA.fields]


def _as_dict(x: Any) -> dict | None:
    """Normalize Arrow's pandas renderings of MAP/STRUCT columns to dicts."""
    if x is None:
        return None
    if isinstance(x, dict):
        return x
    if isinstance(x, float) and pd.isna(x):
        return None
    try:
        return dict(x)  # list/ndarray of (k, v) pairs
    except (TypeError, ValueError):
        return None


def _table_suffix(table: str | None) -> str:
    """APPUSER.ORDERS -> ORDERS (DataChangeEvent.scala:43-45)."""
    if not table:
        return ""
    return table.rsplit(".", 1)[-1]


def _expected_counts(data_collections: Any) -> dict[str, int]:
    """Sum expected event counts per collection name
    (TransactionMetadata.getEventCountFor, TransactionMetadata.scala:38-44)."""
    out: dict[str, int] = {}
    if data_collections is None:
        return out
    for dc in data_collections:
        d = _as_dict(dc) or {}
        name = d.get("data_collection")
        if name:
            out[name] = out.get(name, 0) + int(d.get("event_count") or 0)
    return out


def _is_complete(buffers: dict[str, list], meta: dict | None) -> bool:
    if meta is None:
        return False
    exp = meta["expected"]
    return (
        len(buffers["ORDERS"]) >= exp.get("ORDERS", 0)
        and len(buffers["ORDER_DETAILS"]) >= exp.get("ORDER_DETAILS", 0)
        and len(buffers["ORDER_LINE_ITEMS"]) >= exp.get("ORDER_LINE_ITEMS", 0)
    )


def _ingest_rows(pdf: pd.DataFrame, buffers: dict[str, list], meta: dict | None) -> dict | None:
    """Drain one micro-batch's rows into the buffers; returns updated meta."""
    for row in pdf.itertuples(index=False):
        if row.event_type == "METADATA":
            meta = {"expected": _expected_counts(row.data_collections)}
        else:
            table = _table_suffix(row.table)
            if table in buffers:
                buffers[table].append(
                    {
                        "op_type": row.op_type,
                        "pos": row.pos,
                        "before": _as_dict(row.before),
                        "after": _as_dict(row.after),
                    }
                )
    return meta


def _emit(
    xid: str, csn: str, buffers: dict[str, list], handle_deletes: bool = False
) -> pd.DataFrame:
    ts = datetime.now(timezone.utc).isoformat()
    records = join_transaction(
        xid, csn, buffers["ORDERS"], buffers["ORDER_DETAILS"],
        buffers["ORDER_LINE_ITEMS"], ts, handle_deletes=handle_deletes,
    )
    return pd.DataFrame(records, columns=_OUT_COLS)


def make_process_transaction(
    ttl_minutes: float | None = None, handle_deletes: bool = False
):
    """Build the state function (processTransaction parity,
    TransactionalCdcProcessingApp.scala:138-223).

    State rides the transport as NATIVE typed buffers (lists of event dicts
    matching schemas.TX_EVENT_STRUCT) — every field type in TX_STATE_SCHEMA is
    conversion-free, so there is no per-event encode/decode in the hot path
    (the reference's typed TransactionState.scala:20-68 has the same shape).

    ``ttl_minutes`` opts into ProcessingTimeTimeout expiry of parked
    transactions: the timer is re-armed after every state.update, so a
    transaction that stays incomplete for the full TTL is invoked with
    ``hasTimedOut`` and dropped. Default (None) = NoTimeout parity (T6).

    ``handle_deletes`` opts into order-level delete tombstones at emit time
    (see joiner.join_transaction); default off = IGNOREDELETES parity."""

    def process_transaction(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        tx_key = key[0]
        parts = tx_key.split(":")
        xid, csn = (parts[0], parts[1]) if len(parts) == 2 else (tx_key, "")

        if state.hasTimedOut:
            # TTL mode only: discard the parked transaction.
            state.remove()
            yield pd.DataFrame(columns=_OUT_COLS)
            return

        if state.exists:
            (_, _, orders_b, details_b, items_b, exp_o, exp_d, exp_i, has_meta) = state.get
            buffers = {
                "ORDERS": [_as_event(e) for e in (orders_b or [])],
                "ORDER_DETAILS": [_as_event(e) for e in (details_b or [])],
                "ORDER_LINE_ITEMS": [_as_event(e) for e in (items_b or [])],
            }
            meta = (
                {"expected": {"ORDERS": exp_o, "ORDER_DETAILS": exp_d,
                              "ORDER_LINE_ITEMS": exp_i}}
                if has_meta
                else None
            )
        else:
            buffers = {"ORDERS": [], "ORDER_DETAILS": [], "ORDER_LINE_ITEMS": []}
            meta = None

        for pdf in pdfs:
            meta = _ingest_rows(pdf, buffers, meta)

        if _is_complete(buffers, meta):
            out = _emit(xid, csn, buffers, handle_deletes)
            state.remove()  # idempotency: emitted exactly once (IMPLEMENTATION.md:173)
            yield out
        else:
            exp = (meta or {}).get("expected", {})
            state.update(
                (
                    xid,
                    csn,
                    buffers["ORDERS"],
                    buffers["ORDER_DETAILS"],
                    buffers["ORDER_LINE_ITEMS"],
                    exp.get("ORDERS", 0),
                    exp.get("ORDER_DETAILS", 0),
                    exp.get("ORDER_LINE_ITEMS", 0),
                    meta is not None,
                )
            )
            if ttl_minutes:
                state.setTimeoutDuration(int(ttl_minutes * 60 * 1000))
            yield pd.DataFrame(columns=_OUT_COLS)

    return process_transaction


def _as_event(e: Any) -> dict:
    """Buffered state events come back exactly as stored (dicts); tolerate
    Row/tuple renderings from other transports."""
    if isinstance(e, dict):
        return e
    if hasattr(e, "asDict"):
        return e.asDict(recursive=True)
    op_type, pos, before, after = e
    return {"op_type": op_type, "pos": pos,
            "before": _as_dict(before), "after": _as_dict(after)}


# Default (NoTimeout-parity) state function, kept importable for tests.
process_transaction = make_process_transaction()


def assemble_transactions_stream(
    unified: DataFrame,
    ttl_minutes: float | None = None,
    handle_deletes: bool = False,
) -> DataFrame:
    """unified tagged event stream (see parse.unify_event_streams) ->
    append-mode stream of completed OrderStream records."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes
        else GroupStateTimeout.NoTimeout
    )
    return unified.groupBy("tx_key").applyInPandasWithState(
        make_process_transaction(ttl_minutes, handle_deletes),
        outputStructType=ORDER_STREAM_SCHEMA,
        stateStructType=TX_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def assemble_transactions_batch(
    unified: DataFrame, handle_deletes: bool = False
) -> DataFrame:
    """Batch-mode assembly with identical semantics (for backfills, tests and
    oracle checks): one applyInPandas pass — transactions whose metadata and
    events all sit in the frame emit; incomplete ones emit nothing."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        tx_key = pdf["tx_key"].iloc[0]
        parts = tx_key.split(":")
        xid, csn = (parts[0], parts[1]) if len(parts) == 2 else (tx_key, "")
        buffers = {"ORDERS": [], "ORDER_DETAILS": [], "ORDER_LINE_ITEMS": []}
        meta = _ingest_rows(pdf, buffers, None)
        if _is_complete(buffers, meta):
            return _emit(xid, csn, buffers, handle_deletes)
        return pd.DataFrame(columns=_OUT_COLS)

    return unified.groupBy("tx_key").applyInPandas(
        lambda pdf: fn(pdf), schema=ORDER_STREAM_SCHEMA
    )
