"""Streaming Change Data Feed source for deltalite — the analog of Delta's
``readChangeFeed`` streaming option (``spark.readStream.format("delta")
.option("readChangeFeed", "true")``), built as a PySpark 4 Python
DataSource (the same machinery as :mod:`pyspark_cdc_engine.fake_kafka`).

Why this exists: :meth:`DeltaliteTable.read_stream` is a file stream — exact
only for append-only tables, and it refuses tables with deletion vectors.
This source streams LOGICAL CHANGES instead: offsets are commit versions, a
micro-batch is the half-open version window ``(start, end]``, and each commit
contributes its change rows tagged ``_change_type`` / ``_commit_version`` —
so a downstream consumer can maintain state through deletes and updates, not
just appends.

SQL-free by construction — the part that makes it work as a distributed
source: executor-side readers are plain Python (no SparkSession), so the
source only admits commit types whose change rows are enumerable WITHOUT
re-evaluating a SQL predicate:

- append / overwrite: insert rows = the commit's added dirs (pyarrow scan);
  overwrite additionally deletes every pre-overwrite live row (removed dirs,
  minus positions prior DVs already tombstoned) — Delta's CDF overwrite
  semantics, so replicas converge to the post-overwrite snapshot;
- DV delete (``delete(mode="dv")``): deleted rows = the commit's NEW
  tombstone sidecar, positionally ``take``-n from the referenced files —
  exact because deltalite tombstones each row at most once;
- DV update: pre-images = the new sidecar positions, post-images = the
  commit's appended image dir;
- DV merge (``merge(mode="dv")``): deletes / pre-images from the commit's
  per-kind sidecars, inserts / post-images from its per-kind image dirs —
  the commit keeps all four outputs' identities, so a MERGE is fully
  streamable (and hence replicable) in merge-on-read mode;
- compact / zorder / analyze / schema commits: no logical change, skipped;
- RESTORE: a logical rewind this executor-side reader cannot enumerate —
  refused loudly (the batch-side ``DeltaliteTable.read_changes`` derives
  its exact diff, so ``replicate_stream`` replicates through restores).

Copy-on-write DELETE/UPDATE/MERGE commits on a CDF-ENABLED table
(``DeltaliteTable.enable_cdf``, the ``delta.enableChangeDataFeed`` analog)
carry materialized change-data files (``cdc_dirs`` → ``_change_data/``,
per-row ``__change_type``) written atomically with the rewrite — those
stream as ordinary parquet slices, so ALL DML modes are streamable on such
tables (cow merge included). Without CDF materialization, a cow rewrite's
change set is defined only by a recorded SQL predicate — not enumerable
executor-side — so the planner REFUSES the window with a clear error (run
those as ``mode="dv"``, enable CDF first, or restart the consumer from a
fresh snapshot), the same contract as Delta streams hitting a non-CDC
rewrite with ``failOnDataLoss=true``.

Column-mapping stability makes slices schema-drift-proof: files always carry
PHYSICAL names, which are never reused, so every slice reads the physical
names of the source's start-time schema and pads absent columns with nulls
(a file predating an added column). Partition values come from the ``k=v``
dir components (partition columns cannot be renamed, so their names are
stable).
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

FORMAT_NAME = "deltalite_cdf"

_SKIP_OPS = {
    "compact", "zorder", "analyze", "add_constraint",
    "drop_constraint", "add_column", "rename_column", "drop_column",
    "refresh", "shallow_clone", "set_cdf", "identity_reserve",
}


def _norm_path_opt(p: str | None) -> str | None:
    """Catalog-supplied ``path`` options arrive java.net.URI-form
    (``file:/warehouse/t%20bl``) when a table is CREATEd USING this source
    (Spark canonicalizes the location); direct readers pass raw paths.
    Normalize once at every option intake so both bind."""
    return _strip_scheme(p) if p else p


def _read_commit(table_path: str, version: int) -> dict:
    """Reconstructed snapshot at ``version`` (shared delta-encoded log
    protocol, :mod:`pyspark_cdc_engine.log`)."""
    from pyspark_cdc_engine import log as txlog

    return txlog.state_at(Path(table_path) / "_log", version)


def _versions(table_path: str) -> list[int]:
    from pyspark_cdc_engine import log as txlog

    return txlog.versions(Path(table_path) / "_log")


def _suffix_start(vs: list[int]) -> int:
    """Shared mid-cleanup-race retention guard (log.contiguous_suffix_start)."""
    from pyspark_cdc_engine import log as txlog

    return txlog.contiguous_suffix_start(vs)


class _CdfSlice(InputPartition):
    """One unit of change enumeration: a set of parquet files, optionally
    with per-file row positions to ``take`` (tombstone slices), projected to
    the source's physical field names and tagged with the change type.
    ``change_type=None`` means the files are MATERIALIZED change-data files
    (CDF-enabled cow DML) carrying their own per-row ``__change_type``
    column — read it instead of tagging a constant."""

    def __init__(
        self,
        files: list[str],
        take: dict[str, list[int]] | None,
        fields: list[tuple[str, str, str]],  # (logical, physical, simpleString)
        change_type: str | None,
        version: int,
        commit_ts: float = 0.0,
    ) -> None:
        self.files = files
        self.take = take
        self.fields = fields
        self.change_type = change_type
        self.version = version
        self.commit_ts = commit_ts

    @property
    def phys_fields(self) -> list[tuple[str, str]]:
        return [(p, t) for (_l, p, t) in self.fields]


def _partition_values(path: str) -> dict[str, str]:
    return {
        comp.split("=", 1)[0]: comp.split("=", 1)[1]
        for comp in Path(path).parts
        if "=" in comp and not comp.startswith("__zr=")
    }


def _coerce(v: str | None, type_str: str):
    if v is None:
        return None
    if type_str in ("tinyint", "smallint", "int", "bigint"):
        return int(v)
    if type_str in ("float", "double"):
        return float(v)
    return v


def _arrow_type(type_str: str):
    """Arrow dtype for a Spark simpleString — None if outside the mapped
    scalar set (those slices fall back to the tuple path)."""
    import pyarrow as pa

    return {
        "tinyint": pa.int8(),
        "smallint": pa.int16(),
        "int": pa.int32(),
        "bigint": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "binary": pa.binary(),
        "date": pa.date32(),
    }.get(type_str)


def _slice_tables(sl: _CdfSlice):
    """Yield one pyarrow Table per file of the slice: wanted physical
    columns (positionally ``take``-n for tombstone slices), partition-dir
    values rehydrated, absent columns null-padded."""
    import pyarrow.parquet as pq

    for f in sl.files:
        pf = pq.ParquetFile(f)
        names = set(pf.schema_arrow.names)
        want = [n for n, _ in sl.phys_fields if n in names]
        if sl.change_type is None and "__change_type" in names:
            want = want + ["__change_type"]
        tbl = pq.read_table(f, columns=want)
        if sl.take is not None:
            idx = sl.take.get(f)
            if not idx:
                continue
            tbl = tbl.take(idx)
        if tbl.num_rows:
            yield f, tbl, names


def _read_slice(sl: _CdfSlice) -> Iterator[tuple]:
    """Row-tuple path — only for slices whose schema contains a type outside
    :func:`_arrow_type`'s map (arrays/structs/timestamps); scalar-typed
    tables stream through :func:`_read_slice_arrow` instead."""
    for f, tbl, names in _slice_tables(sl):
        parts = _partition_values(f)
        cols = {}
        for n, t in sl.phys_fields:
            if n in names:
                cols[n] = tbl.column(n).to_pylist()
            elif n in parts:
                cols[n] = [_coerce(parts[n], t)] * tbl.num_rows
            else:
                cols[n] = [None] * tbl.num_rows
        if sl.change_type is None:
            ct = tbl.column("__change_type").to_pylist()
        else:
            ct = [sl.change_type] * tbl.num_rows
        from datetime import datetime, timedelta, timezone

        # tz-AWARE: a naive datetime would be re-interpreted in the session
        # timezone, shifting streamed _commit_timestamp away from the batch
        # feed's timestamp_seconds(epoch) under a non-UTC session tz.
        # TRUNCATE to the microsecond (int()) rather than fromtimestamp's
        # round-to-nearest: the arrow path and the JVM's timestamp_seconds
        # both floor, and a 1µs disagreement between the two slice paths
        # breaks verbatim feed parity.
        cts = datetime.fromtimestamp(0, tz=timezone.utc) + timedelta(
            microseconds=int(sl.commit_ts * 1_000_000)
        )
        for i in range(tbl.num_rows):
            yield tuple(cols[n][i] for n, _ in sl.phys_fields) + (
                ct[i],
                sl.version,
                cts,
            )


def _read_slice_arrow(sl: _CdfSlice):
    """Arrow-batch path: the whole slice moves as columnar RecordBatches —
    no per-row Python objects between the parquet bytes and the JVM (the
    100 TB shape for a Python data source)."""
    import pyarrow as pa

    for f, tbl, names in _slice_tables(sl):
        n = tbl.num_rows
        parts = _partition_values(f)
        arrays, fields = [], []
        # constant columns via pa.repeat (C-level), never a Python list of n
        # elements — the insert slice of a bootstrap batch is the whole table
        for logical, name, t in sl.fields:
            at = _arrow_type(t)
            if name in names:
                col = tbl.column(name)
                arrays.append(col.cast(at) if col.type != at else col)
            elif name in parts:
                arrays.append(
                    pa.repeat(pa.scalar(_coerce(parts[name], t), type=at), n)
                )
            else:
                arrays.append(pa.nulls(n, type=at))
            fields.append(pa.field(logical, at))
        if sl.change_type is None:
            arrays.append(tbl.column("__change_type").cast(pa.string()))
        else:
            arrays.append(pa.repeat(pa.scalar(sl.change_type), n))
        fields.append(pa.field("_change_type", pa.string()))
        arrays.append(pa.repeat(pa.scalar(sl.version, type=pa.int32()), n))
        fields.append(pa.field("_commit_version", pa.int32()))
        # tz-aware arrow type: the value is an epoch INSTANT; a naive
        # timestamp would shift under a non-UTC spark.sql.session.timeZone
        ts_type = pa.timestamp("us", tz="UTC")
        arrays.append(
            pa.repeat(pa.scalar(int(sl.commit_ts * 1_000_000), type=ts_type), n)
        )
        fields.append(pa.field("_commit_timestamp", ts_type))
        out = pa.table(arrays, schema=pa.schema(fields))
        for b in out.to_batches():
            yield b


def _dir_files(root: Path, rel: str) -> list[str]:
    base = root / rel if not Path(rel).is_absolute() else Path(rel)
    return [str(f) for f in sorted(base.rglob("*.parquet"))]


def _dv_positions(root: Path, dv_rels: Sequence[str]) -> dict[str, set[int]]:
    """Tombstoned (file -> row positions) across DV sidecars — a driver-side
    read of tiny parquets, the same metadata scale as log parsing."""
    import pyarrow.parquet as pq

    by_file: dict[str, set[int]] = {}
    for rel in dv_rels:
        for f in sorted((root / rel).rglob("*.parquet")):
            t = pq.read_table(f, columns=["file_path", "row_index"])
            for fp, ri in zip(
                t.column("file_path").to_pylist(),
                t.column("row_index").to_pylist(),
            ):
                by_file.setdefault(_strip_scheme(fp), set()).add(int(ri))
    return by_file


class DeltaliteCdfStreamReader(DataSourceStreamReader):
    """Offsets are ``{"v": last_delivered_version}`` — one integer, the
    deltalite commit version, checkpointed by Structured Streaming exactly
    like Kafka offsets; replay of a window re-enumerates identical rows
    (commits are immutable), so delivery is exactly-once end to end when the
    sink is idempotent (the same contract as every Spark source)."""

    def __init__(self, options, schema_fields):
        self._path = _norm_path_opt(options.get("path"))
        if not self._path:
            raise ValueError("deltalite_cdf requires option 'path'")
        sv = options.get("startingVersion")
        latest = (_versions(self._path) or [-1])[-1]
        # default: only commits after stream start (Kafka 'latest' semantics);
        # startingVersion=N delivers N and everything after it
        self._initial = int(sv) - 1 if sv is not None else latest
        # maxVersionsPerBatch (Delta's maxFilesPerTrigger analog): cap how
        # many commits one micro-batch spans, bounding batch state/memory on
        # a long backlog — the planner still enumerates each commit exactly
        # once, just across more batches
        mv = options.get("maxVersionsPerBatch")
        self._max_versions = int(mv) if mv is not None else None
        if self._max_versions is not None and self._max_versions < 1:
            raise ValueError("maxVersionsPerBatch must be >= 1")
        self._last_planned = self._initial
        self._fields = schema_fields  # [(logical, physical, simpleString)]

    def initialOffset(self) -> dict:
        return {"v": self._initial}

    def latestOffset(self) -> dict:
        latest = (_versions(self._path) or [self._initial])[-1]
        if self._max_versions is None:
            return {"v": latest}
        # rate-limited: advance at most N commits past the last batch's end.
        # Spark may probe latestOffset before the restored start is known
        # (the checkpointed offset replays through partitions(start, end)),
        # so track our own high-water mark; availableNow reruns drain the
        # backlog N commits per batch.
        vs = [v for v in _versions(self._path) if v > self._last_planned]
        end = vs[self._max_versions - 1] if len(vs) >= self._max_versions else latest
        end = max(end, self._last_planned)
        self._last_planned = end
        return {"v": end}

    def _phys_fields(self) -> list[tuple[str, str, str]]:
        return list(self._fields)

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # sync the rate-limit mark with the (possibly checkpoint-restored)
        # window so a restarted stream never plans an end behind its start
        self._last_planned = max(self._last_planned, int(end["v"]))
        from pyspark_cdc_engine import log as txlog

        root = Path(self._path)
        log_dir = root / "_log"
        out: list[InputPartition] = []
        start_v, end_v = int(start["v"]), int(end["v"])
        vs = txlog.versions(log_dir)
        # Seed the replay at the window start: one checkpoint-backed snapshot
        # read (at most `interval` doc replays) instead of walking the whole
        # log on EVERY micro-batch — the planner's cost is O(window), not
        # O(history).
        oldest = _suffix_start(vs) if vs else 0
        seed = max((u for u in vs if oldest <= u <= start_v), default=None)
        if seed is None and vs and oldest > 0:
            # log retention (cleanup_log) pruned the window's start: the
            # pre-state at start_v is unreconstructible, and seeding from {}
            # (or from a doomed mid-cleanup prefix doc below the gap) would
            # replay wrong state. Fail the stream loudly — restart from a
            # fresh snapshot, the Delta failOnDataLoss contract.
            raise ValueError(
                f"CDF stream start v{start_v} is below the oldest retained "
                f"commit v{oldest} (log retention pruned earlier history); "
                f"restart from a fresh snapshot"
            )
        carry = (
            txlog.carry_of(txlog.state_at(log_dir, seed))
            if seed is not None
            else {}
        )
        prev_live = set(carry.get("live") or [])
        prev_dv = set(carry.get("dv_files") or [])
        for v in vs:
            if v <= start_v:
                continue
            if v > end_v:
                break
            commit = txlog.apply_doc(carry, txlog.raw_doc(log_dir, v))
            carry = txlog.carry_of(commit)
            op = commit["operation"]
            cts = float(commit.get("timestamp") or 0.0)
            live = set(commit["live"])
            dvs = set(commit.get("dv_files") or [])
            added = [d for d in commit["live"] if d not in prev_live]
            new_dvs = [r for r in (commit.get("dv_files") or []) if r not in prev_dv]
            if op in ("append", "overwrite"):
                if op == "overwrite":
                    # Delta-CDF overwrite semantics: every pre-overwrite live
                    # row is a logical delete (rows a prior DV tombstoned were
                    # already delivered as deletes — emit their complement)
                    removed = sorted(d for d in prev_live if d not in live)
                    excluded = (
                        _dv_positions(root, sorted(prev_dv)) if prev_dv else {}
                    )
                    for f in [
                        f for d in removed for f in _dir_files(root, d)
                    ]:
                        if f in excluded:
                            import pyarrow.parquet as pq

                            n = pq.ParquetFile(f).metadata.num_rows
                            idx = sorted(set(range(n)) - excluded[f])
                            if idx:
                                out.append(_CdfSlice(
                                    [f], {f: idx}, self._phys_fields(),
                                    "delete", v, commit_ts=cts,
                                ))
                        else:
                            out.append(_CdfSlice(
                                [f], None, self._phys_fields(), "delete", v,
                                commit_ts=cts,
                            ))
                if added:
                    out.append(_CdfSlice(
                        [f for d in added for f in _dir_files(root, d)],
                        None, self._phys_fields(), "insert", v, commit_ts=cts,
                    ))
            elif op == "delete" and commit.get("dv_delete"):
                for sl in self._tombstone_slices(root, new_dvs, "delete", v, cts):
                    out.append(sl)
            elif op == "update" and commit.get("dv_update"):
                for sl in self._tombstone_slices(
                    root, new_dvs, "update_preimage", v, cts
                ):
                    out.append(sl)
                if added:
                    out.append(_CdfSlice(
                        [f for d in added for f in _dir_files(root, d)],
                        None, self._phys_fields(), "update_postimage", v,
                        commit_ts=cts,
                    ))
            elif op == "merge" and commit.get("dv_merge"):
                # merge-on-read MERGE keeps its four outputs' identities in
                # the commit — every change row is enumerable executor-side
                for key, tag in (("dv_merge_delete_dvs", "delete"),
                                 ("dv_merge_update_dvs", "update_preimage")):
                    for sl in self._tombstone_slices(
                        root, commit.get(key) or [], tag, v, cts
                    ):
                        out.append(sl)
                for key, tag in (("dv_merge_insert_dirs", "insert"),
                                 ("dv_merge_update_dirs", "update_postimage")):
                    rels = commit.get(key) or []
                    if rels:
                        out.append(_CdfSlice(
                            [f for d in rels for f in _dir_files(root, d)],
                            None, self._phys_fields(), tag, v, commit_ts=cts,
                        ))
            elif commit.get("cdc_dirs"):
                # CDF-materialized cow DML (DeltaliteTable.enable_cdf): the
                # commit's change rows are ordinary parquet files carrying
                # their own per-row __change_type — enumerable executor-side
                # like any data file, which is exactly why Delta's
                # enableChangeDataFeed writes them
                for d in commit["cdc_dirs"]:
                    # finish a crashed writer's publish (commit linked, move
                    # from _staging pending) so the feed stays atomic with
                    # the rewrite
                    dest = root / d
                    staged = root / "_staging" / d
                    if not dest.exists() and staged.exists():
                        dest.parent.mkdir(parents=True, exist_ok=True)
                        import os as _os

                        _os.replace(staged, dest)
                files = [
                    f for d in commit["cdc_dirs"] for f in _dir_files(root, d)
                ]
                if not files:
                    # silently skipping would LOSE this commit's changes from
                    # every replica downstream — fail like Delta's
                    # failOnDataLoss does
                    raise RuntimeError(
                        f"deltalite_cdf: commit {v} references change-data "
                        f"dirs {commit['cdc_dirs']} with no parquet files on "
                        f"disk — change rows for this commit are gone "
                        f"(vacuumed or partially copied); refusing to "
                        f"silently drop them"
                    )
                out.append(_CdfSlice(
                    files, None, self._phys_fields(), None, v,
                    commit_ts=cts,
                ))
            elif op in _SKIP_OPS:
                pass  # physical reorganization / metadata: no logical change
            elif op == "restore":
                # a RESTORE is a logical rewind whose change set needs
                # prev-state scans and DV position-diffs — enumerable by the
                # batch-side reader (DeltaliteTable.read_changes), not by
                # this executor-side one. Silently skipping (pre-r8) made
                # replicas diverge; refuse loudly instead.
                raise RuntimeError(
                    f"deltalite_cdf: commit {v} is a RESTORE — its change "
                    f"set cannot be enumerated executor-side. Use the "
                    f"metadata-only stream with batch-side reads "
                    f"(replicate_stream) or "
                    f"restart the consumer from a fresh snapshot past this "
                    f"version."
                )
            else:
                raise RuntimeError(
                    f"deltalite_cdf: commit {v} is a copy-on-write {op!r} — "
                    f"its change set is defined by a SQL predicate and cannot "
                    f"be enumerated executor-side. Run DELETE/UPDATE with "
                    f"mode='dv' for streamable changes, enable CDF "
                    f"materialization (enable_cdf) before cow DML, or "
                    f"restart the consumer from a fresh snapshot past this "
                    f"version."
                )
            prev_live, prev_dv = live, dvs
        return out

    # one micro-batch never needs more tombstone tasks than this per commit;
    # a slice carries MANY files (take dict is per-file), so packing trades
    # nothing but task-scheduling overhead
    _MAX_TOMBSTONE_SLICES = 8

    def _tombstone_slices(
        self, root: Path, dv_rels: list[str], tag: str, v: int,
        commit_ts: float = 0.0,
    ) -> Iterator[_CdfSlice]:
        """Tombstoned positions grouped per file from the commit's new
        sidecars (driver-side read of a tiny parquet — the same
        metadata-scale read as log parsing), PACKED into at most
        ``_MAX_TOMBSTONE_SLICES`` slices: one Python task per file made
        micro-batches over wide tables pay hundreds of worker spin-ups for
        a few thousand rows."""
        by_file = sorted(_dv_positions(root, dv_rels).items())
        if not by_file:
            return
        per = -(-len(by_file) // self._MAX_TOMBSTONE_SLICES)
        for i in range(0, len(by_file), per):
            chunk = by_file[i:i + per]
            yield _CdfSlice(
                [fp for fp, _ in chunk],
                {fp: sorted(idx) for fp, idx in chunk},
                self._phys_fields(), tag, v,
                commit_ts=commit_ts,
            )

    def read(self, partition: _CdfSlice):
        # Arrow batches whenever every output type maps (the fast path —
        # columnar end to end); tuple rows only for exotic types. The choice
        # is a pure function of the slice's field types, so it is consistent
        # across every partition and batch of the stream.
        if all(_arrow_type(t) is not None for _, t in partition.phys_fields):
            return _read_slice_arrow(partition)
        return _read_slice(partition)

    def commit(self, end: dict) -> None:
        pass  # the log keeps everything; nothing to release


def _strip_scheme(p: str) -> str:
    """Recorded ``_metadata.file_path`` -> raw filesystem path: drop the
    scheme AND percent-decode (Spark records the java.net.URI-quoted form,
    e.g. ``file:/tmp/my%20tables/...``). Every consumer compares these keys
    against raw ``rglob``/``str(Path)`` paths or opens them with pyarrow —
    leaving the quoting in place silently missed every lookup for table
    paths needing encoding."""
    import urllib.parse

    return urllib.parse.unquote(
        p[len("file:"):] if p.startswith("file:") else p
    )


class _MetaSlice(InputPartition):
    """Metadata-only mode: ONE slice per micro-batch carrying the window's
    commit versions — a single executor task, minimal Python roundtrips."""

    def __init__(self, versions: list[int]) -> None:
        self.versions = versions


class DeltaliteCdfMetaStreamReader(DeltaliteCdfStreamReader):
    """``metadataOnly`` mode: offsets/rate-limiting identical to the full
    reader, but a micro-batch carries ONE ROW PER COMMIT VERSION instead of
    the change rows. The consumer (``replicate_stream``)
    derives its version window from the batch and reads the actual change
    data JVM-side via ``DeltaliteTable.read_changes`` — the 100 TB shape:
    Structured Streaming keeps the checkpoint/exactly-once bookkeeping while
    the data plane stays in Spark's vectorized parquet reader instead of
    crossing Python per row. Planning never enumerates data files, and
    commit-type refusal is deferred to the batch-side reader (which can also
    replay cow predicates — something the executor-side reader cannot)."""

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        self._last_planned = max(self._last_planned, int(end["v"]))
        vs = _versions(self._path)
        start_v = int(start["v"])
        oldest = _suffix_start(vs) if vs else 0
        if vs and oldest > 0 and start_v < oldest:
            # same failOnDataLoss guard as the full reader (partitions()
            # above), keyed on the CONTIGUOUS suffix (a mid-cleanup prefix
            # below a gap is doomed history): log retention pruned the
            # window's start, so versions in (start_v, oldest) are gone.
            # Without this the pruned window would just yield fewer meta
            # rows and the batch-side read_changes (whose window is derived
            # from the SURVIVING versions) would never see the loss.
            raise ValueError(
                f"CDF stream start v{start_v} is below the oldest retained "
                f"commit v{oldest} (log retention pruned earlier history); "
                f"restart from a fresh snapshot"
            )
        window = [v for v in vs if start_v < v <= int(end["v"])]
        return [_MetaSlice(window)] if window else []

    def read(self, partition: _MetaSlice):
        for v in partition.versions:
            yield (v,)


class DeltaliteCdfBatchReader(DataSourceReader):
    """BATCH Change Data Feed read — the SQL-only user's distributed
    surface, Delta's ``table_changes(tbl, from, to)`` analog
    (db/query_scd1_table.sql:157-158)::

        CREATE TEMPORARY VIEW changes
        USING deltalite_cdf
        OPTIONS (path '/path/to/table',
                 startingVersion '0', endingVersion '3');
        SELECT * FROM changes;

    Window semantics mirror Delta's table_changes: ``startingVersion`` is
    INCLUSIVE (default 0 = genesis), ``endingVersion`` inclusive and
    clamped to the latest commit (default latest) — i.e. exactly
    ``DeltaliteTable.read_changes(startingVersion - 1, endingVersion)``.
    Planning and slice reads are the streaming reader's own (one plan pass
    over the window's commits, change rows enumerated executor-side as
    Arrow batches), so the same commit-type contract applies: DV DML,
    append/overwrite, and CDF-materialized cow DML stream; a RESTORE or a
    bare cow rewrite in the window refuses loudly — use the Python API
    (``read_changes``) whose JVM data path derives those diffs."""

    def __init__(self, options, fields) -> None:
        path = _norm_path_opt(options.get("path"))
        if not path:
            raise ValueError("deltalite_cdf requires option 'path'")
        vs = _versions(path)
        latest = vs[-1] if vs else -1
        sv = options.get("startingVersion")
        ev = options.get("endingVersion")
        self._start = int(sv) if sv is not None else 0
        self._end = min(int(ev), latest) if ev is not None else latest
        # delegate planning/reading to the streaming reader: one contract,
        # one implementation. startingVersion=N delivers N and after, so
        # the half-open stream window starts at N-1.
        self._inner = DeltaliteCdfStreamReader(
            {"path": path, "startingVersion": str(self._start)}, fields
        )

    def partitions(self) -> Sequence[InputPartition]:
        out = list(
            self._inner.partitions(
                {"v": self._start - 1}, {"v": self._end}
            )
        )
        # Spark maps an EMPTY partition list to a single read(None) call —
        # represent the empty window as one zero-file slice instead, which
        # both read paths drain to zero rows
        return out or [_CdfSlice([], None, [], "insert", -1)]

    def read(self, partition: _CdfSlice):
        return self._inner.read(partition)


class DeltaliteCdfDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _table_fields(self):
        path = _norm_path_opt(self.options.get("path"))
        if not path:
            raise ValueError("deltalite_cdf requires option 'path'")
        vs = _versions(path)
        if not vs:
            raise ValueError(f"not a deltalite table (no _log): {path}")
        commit = _read_commit(path, vs[-1])
        if not commit.get("schema"):
            raise ValueError(
                "deltalite_cdf requires a schema-carrying table (any table "
                "written by this library's append/overwrite)"
            )
        schema = StructType.fromJson(json.loads(commit["schema"]))
        mapping = commit.get("column_mapping") or {}
        return schema, [
            (f.name, mapping.get(f.name, f.name), f.dataType.simpleString())
            for f in schema.fields
        ]

    def _metadata_only(self) -> bool:
        return str(self.options.get("metadataOnly", "")).lower() in ("1", "true")

    def schema(self) -> StructType:
        if self._metadata_only():
            return StructType(
                [StructField("_commit_version", IntegerType(), True)]
            )
        schema, _ = self._table_fields()
        return StructType(
            list(schema.fields)
            + [
                # nullable=True: the Arrow batches the executor yields carry
                # nullable fields (pa.field default), and the values are
                # never null anyway
                StructField("_change_type", StringType(), True),
                StructField("_commit_version", IntegerType(), True),
                StructField("_commit_timestamp", TimestampType(), True),
            ]
        )

    def streamReader(self, schema) -> DeltaliteCdfStreamReader:
        if self._metadata_only():
            return DeltaliteCdfMetaStreamReader(self.options, [])
        _, fields = self._table_fields()
        return DeltaliteCdfStreamReader(self.options, fields)

    def reader(self, schema) -> DeltaliteCdfBatchReader:
        if self._metadata_only():
            raise ValueError(
                "metadataOnly is a streaming-replication option; batch "
                "consumers read the change rows directly"
            )
        _, fields = self._table_fields()
        return DeltaliteCdfBatchReader(self.options, fields)


def register_cdf_source(spark) -> None:
    spark.dataSource.register(DeltaliteCdfDataSource)


def read_change_stream(
    spark,
    table_path: str,
    starting_version: int | None = None,
    max_versions_per_batch: int | None = None,
    metadata_only: bool = False,
):
    """Convenience: ``spark.readStream.format("deltalite_cdf")`` with the
    options wired. ``starting_version=None`` streams only commits made after
    the stream starts; ``starting_version=N`` replays from commit N.
    ``max_versions_per_batch`` bounds how many commits one micro-batch spans
    (Delta's ``maxFilesPerTrigger`` analog) — a consumer bootstrapping
    against a long history processes it in bounded slices instead of one
    giant batch. ``metadata_only=True`` streams one ``_commit_version`` row
    per commit instead of change rows — the JVM-data-plane replication shape
    (see :class:`DeltaliteCdfMetaStreamReader`)."""
    register_cdf_source(spark)
    reader = spark.readStream.format(FORMAT_NAME).option("path", table_path)
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    if max_versions_per_batch is not None:
        reader = reader.option("maxVersionsPerBatch", str(max_versions_per_batch))
    if metadata_only:
        reader = reader.option("metadataOnly", "true")
    return reader.load()
