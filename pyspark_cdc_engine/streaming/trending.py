"""Streaming frequent-items: per-key Misra-Gries counters as keyed streaming
state (the streaming face of :mod:`..operators.graph_sketch`'s batch sketch).

The monitoring question a 100 TB ingest pipeline asks continuously — "what
are the trending terms/URLs/error codes per stream right now?" — cannot be
answered by batch heavy-hitters (the stream never ends) nor by exact
per-term counts (state would grow with the vocabulary). A k-counter
Misra-Gries summary per group key IS the bounded answer: state is ≤k
(term, count) pairs per key forever, every item with true frequency
> n/(k+1) since stream start is guaranteed present, and counts are lower
bounds within n/(k+1).

Shape: keyed streaming state — the same machinery as the transaction
assembly (:mod:`.tx_state`): ``groupBy(key).applyInPandasWithState`` with the
≤k-counter summary as the per-key state row. Each trigger folds the new rows
into the counters and emits the CURRENT top items for the key (update
semantics downstream).

(The streaming ingest dedup in :mod:`.dedup` needs no such port: it uses the
BUILT-IN ``dropDuplicates[WithinWatermark]`` operators, whose state already
lives in the engine's native state store — custom state there would be a
downgrade, not a port.)
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_STATE_SCHEMA = StructType(
    [
        StructField("terms", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("n_seen", LongType()),
    ]
)

_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("term", StringType()),
        StructField("est", LongType()),
        StructField("rank", IntegerType()),
        StructField("n_seen", LongType()),
    ]
)


def _fold_mg(counters: dict[str, int], terms, k: int) -> None:
    for t in terms:
        if t in counters:
            counters[t] += 1
        elif len(counters) < k:
            counters[t] = 1
        else:
            dead = []
            for c in counters:
                counters[c] -= 1
                if counters[c] == 0:
                    dead.append(c)
            for c in dead:
                del counters[c]


def _rank_counters(counters: dict[str, int], top: int) -> list[tuple[str, int]]:
    """Deterministic top slice (count desc, term asc)."""
    return sorted(counters.items(), key=lambda kv: (-kv[1], kv[0]))[:top]


def trending_terms_stream(
    stream: DataFrame,
    key_col: str,
    term_col: str,
    k: int = 32,
    top: int = 5,
) -> DataFrame:
    """``(key, term, est, rank, n_seen)`` per trigger: the current top
    ``top`` Misra-Gries items for every group key, with the running item
    count. State per key is bounded at ``k`` counters regardless of
    stream length or vocabulary — the property that makes this viable as
    always-on monitoring."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            terms, counts, n_seen = state.get
            counters = dict(zip(terms, counts))
        else:
            counters, n_seen = {}, 0
        for pdf in pdfs:
            vals = pdf[term_col].dropna()  # null terms are absent fields, not
            # items: they must not consume a counter slot or rank in the top-k
            n_seen += len(vals)
            _fold_mg(counters, vals, k)
        state.update((list(counters), [int(v) for v in counters.values()], n_seen))
        ranked = _rank_counters(counters, top)
        yield pd.DataFrame(
            {
                "key": [key[0]] * len(ranked),
                "term": [t for t, _ in ranked],
                "est": [c for _, c in ranked],
                "rank": list(range(1, len(ranked) + 1)),
                "n_seen": [n_seen] * len(ranked),
            }
        )

    return (
        stream.select(F.col(key_col).alias("key"), F.col(term_col).alias(term_col))
        .groupBy("key")
        .applyInPandasWithState(
            fn,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


for _cp_name in ("pyspark.cloudpickle", "cloudpickle"):
    try:  # pragma: no cover — same worker-shipping pattern as tx_state
        import importlib

        _cp = importlib.import_module(_cp_name)
        _cp.register_pickle_by_value(sys.modules[__name__])
    except (ImportError, AttributeError):
        pass
