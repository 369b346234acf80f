"""deltalite — a minimal transaction-log table format on parquet.

The reference stores everything in Delta Lake (SURVEY §1.1, §2.12). Delta jars are not
available in this environment, so the engine ships its own thin log-structured format
with the subset of semantics the reference actually uses:

- append (SCD2 ``order_stream`` sink — TransactionalCdcProcessingApp.scala:75-79)
- overwrite (bootstrap ``saveAsTable`` — ScdType1MergeApp.scala:74-80)
- MERGE with ordered when-matched clauses + conditional insert (ScdType1MergeApp.scala:95-132)
- time travel / history / restore / vacuum / compact (db/table_maintenance.sql, db/query_table.sql:174-178)

Layout::

    <root>/
      _log/00000000000000000007.json               # DELTA-ENCODED commit: its own
                                                   #  add/remove dirs + changed
                                                   #  metadata only
      _log/00000000000000000020.checkpoint.parquet # full state every N commits
      _log/_last_checkpoint                        # {"version": 20}
      data/<version>-<uuid8>/part-*.parquet

Commits are delta-encoded (Delta-style — :mod:`pyspark_cdc_engine.log`): each
JSON doc records only that commit's added/removed dirs, stats for the added
dirs, and carried metadata that changed, so commit size is independent of
table size and total log volume grows linearly with history. Every
``engine.log-checkpoint-interval`` commits a parquet checkpoint materializes
the reconstructed state and ``_last_checkpoint`` points at it — reading a
snapshot costs one checkpoint read plus at most one interval of tiny JSON
docs, never a full replay. OCC via exclusive link(2) of the version file
gives multi-writer safety; blind-append retries and reserved-range identity
allocation build on it.

Scale notes (100 TB design point):
- Readers get plain multi-path parquet scans → Spark's vectorized reader, predicate
  pushdown and column pruning all apply unchanged.
- Every write records per-dir min/max stats in its commit (Delta's add-file stats
  analog, harvested from the freshly staged footers), and partitioned writes publish
  ONE live entry PER PARTITION DIR — so ``merge(prune_on=key)`` skips every dir whose
  key range cannot touch the source batch using the log alone: untouched partition
  dirs are never listed, read, or rewritten, and no parquet footer is ever reopened.
- For dirs the merge can't prune, copy-on-write applies — the same asymptotic cost
  Delta pays when every file matches.
- Appends never rewrite; ``compact`` (OPTIMIZE analog) coalesces small streaming
  commits into target-size files.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import urllib.parse
import uuid
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_cdc_engine import log as txlog
from pyspark_cdc_engine.log import ConcurrentWriteError


class NoChangesInWindow(ValueError):
    """:meth:`DeltaliteTable.read_changes` found commits in the requested
    window but none carried logical changes (compact/zorder/schema-only/...).

    A distinct type so change-feed consumers can treat it as a benign
    empty batch while letting every OTHER ``ValueError`` — above all the
    retention-pruned 'change feed unavailable' refusal, which signals
    permanent data loss — propagate loudly (the Delta ``failOnDataLoss``
    contract)."""


class RetentionPrunedWindow(ValueError):
    """:meth:`DeltaliteTable.read_changes` was asked for a window whose start
    precedes the oldest retained commit — log retention (``cleanup_log``)
    pruned part of the requested feed, so the changes are permanently
    unreconstructable.

    A distinct type so incremental maintainers (:mod:`incremental`,
    :mod:`operators.dedup_incremental`) can catch exactly this case and fall
    back to a full rebuild, while genuine metadata/schema ``ValueError``\\ s
    keep propagating instead of being silently converted into expensive
    rebuilds that advance the watermark over a real bug. Still a
    ``ValueError`` subclass, so replication sinks that treat any
    non-:class:`NoChangesInWindow` failure as fatal (the ``failOnDataLoss``
    contract) are unchanged."""


def _commit_path(log_dir: Path, version: int) -> Path:
    return txlog.commit_path(log_dir, version)


def _log_checkpoint_interval() -> int:
    """Commits between parquet log checkpoints (0 disables). Delta's default
    is 10; 20 keeps small streaming tables lean while still bounding replay."""
    try:
        from pyspark_cdc_engine.config import get_config

        return get_config().get_int("engine.log-checkpoint-interval", 20)
    except Exception:  # config layer unavailable (bare protocol tests)
        return 20


# Shape of a data dir component: `<version:010d>-<uuid8>` (see _write_data_dir).
_DATA_DIR_RE = re.compile(r"^\d{10}-[0-9a-f]{8}$")


@dataclass
class MergeClause:
    """One WHEN MATCHED / WHEN NOT MATCHED clause, in declaration order.

    ``assignments`` maps output column -> SQL expression over ``target.*`` /
    ``source.*`` (string exprs, same contract as Delta's updateExpr/insertExpr —
    ScdType1MergeApp.scala:101-131). ``kind="delete"`` is the
    whenMatchedDelete analog: a matched row whose first-fired clause is a
    delete is dropped from the output.

    First-fired semantics are defined in one place, the merge's clause
    classifier (:class:`_MergeClassifier`): matched rows take the first
    update/delete clause in declaration order whose ``condition`` is TRUE,
    unmatched source rows the first such insert clause; a NULL condition
    means not fired."""

    kind: str  # "update" | "insert" | "delete"
    condition: str | None = None  # SQL over target./source.; None = always
    assignments: dict[str, str] | None = None  # None for insert => insertAll


@dataclass
class DeltaliteTable:
    """Handle to one deltalite table rooted at ``path``."""

    spark: SparkSession
    path: str

    @property
    def _root(self) -> Path:
        return Path(self.path)

    @property
    def _log_dir(self) -> Path:
        return self._root / "_log"

    # ---------------------------------------------------------------- log I/O
    def _versions(self) -> list[int]:
        return txlog.versions(self._log_dir)

    def latest_version(self) -> int:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"not a deltalite table: {self.path}")
        return vs[-1]

    def exists(self) -> bool:
        return bool(self._versions())

    def _read_commit(self, version: int) -> dict:
        """Full reconstructed SNAPSHOT at ``version`` — live dirs, carried
        metadata (schema, constraints, column mapping, DVs, ...), per-dir
        stats, plus the commit's own per-commit fields. On disk each commit
        is delta-encoded (add/remove + changed metadata only, Delta-style);
        reconstruction reads the nearest parquet checkpoint plus at most
        ``engine.log-checkpoint-interval`` tiny JSON docs (:mod:`..log`)."""
        return txlog.state_at(self._log_dir, version)

    def _raw_commit(self, version: int) -> dict:
        """The on-disk delta-encoded doc: this commit's own actions only."""
        return txlog.raw_doc(self._log_dir, version)

    def _snapshot(self) -> tuple[int, dict]:
        """(version, commit doc) of the latest commit, read ONCE.

        Every mutator reads its table state through one snapshot and passes the
        snapshot version to :meth:`_write_commit`, so the commit it links is
        exactly ``snapshot + 1`` — a writer that raced past us makes our link(2)
        fail with ConcurrentWriteError instead of silently dropping their data
        (the lost-update/TOCTOU hole a late re-listing of versions would open).
        Returns ``(-1, {})`` for a not-yet-created table."""
        vs = self._versions()
        if not vs:
            return -1, {}
        return vs[-1], self._read_commit(vs[-1])

    def _write_commit(
        self,
        operation: str,
        live_dirs: list[str],
        extra: dict | None = None,
        base_version: int | None = None,
        base_commit: dict | None = None,
    ) -> int:
        """Link commit ``base_version + 1``; raise ConcurrentWriteError if taken.

        ``base_version`` is the snapshot the caller's reads were based on
        (``-1`` for a fresh table). ``None`` re-lists the log at link time —
        legacy behavior kept only for direct protocol tests; real mutators all
        pin their snapshot.

        The on-disk doc is DELTA-ENCODED (:func:`..log.encode_commit`): only
        this commit's add/remove dirs, stats for the added dirs, carried
        metadata that changed, and per-commit fields — commit size is
        independent of table size. Carried metadata a caller omits from
        ``extra`` (constraints, column mapping, DVs, CDF flag, generated /
        identity specs, partition spec, schema) rides forward automatically
        through replay. A parquet checkpoint of the full state is cut every
        ``engine.log-checkpoint-interval`` commits so snapshot reads never
        replay more than one interval."""
        if base_version is None:
            base_version = (self._versions() or [-1])[-1]
        if base_version >= 0 and base_commit is None:
            base_commit = self._read_commit(base_version)
        version = base_version + 1
        doc, new_state = txlog.encode_commit(
            base_commit or {}, operation, list(live_dirs), extra, version,
            timestamp=time.time(),
        )
        # link(2) fails with EEXIST if the version was committed concurrently
        # — atomic optimistic concurrency, the same protocol Delta uses via
        # exclusive log-file creation (rename() would silently overwrite).
        txlog.link_commit(self._log_dir, version, doc)
        txlog.after_commit(
            self._log_dir, version, new_state, _log_checkpoint_interval()
        )
        return version

    @staticmethod
    def _mapping(commit: dict | None) -> dict[str, str]:
        """Logical-name -> physical-name map of a commit (column mapping,
        ALTER TABLE RENAME/DROP COLUMN support). Identity for unmapped names."""
        return dict((commit or {}).get("column_mapping") or {})

    @staticmethod
    def _to_physical(df: DataFrame, mapping: dict[str, str] | None) -> DataFrame:
        if not mapping:
            return df
        return df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )

    def _write_data_dir(
        self,
        df: DataFrame,
        version_hint: int,
        partition_by: list[str] | None = None,
        mapping: dict[str, str] | None = None,
    ) -> str:
        """Write ``df`` to a STAGED dir under ``_staging/`` and return the
        ``data/...`` path the commit will reference. The dir is renamed into
        ``data/`` only after the commit file links (:meth:`_publish`), so
        ``data/`` never holds uncommitted rows — a crashed writer or an
        OCC-losing writer cannot leak duplicate/uncommitted files into
        :meth:`read_stream`'s ``data/*`` glob.

        ``mapping`` — the table's column mapping; files on disk always carry
        PHYSICAL column names (rename/drop are log-only, existing parquet
        stays valid), readers translate back (:meth:`_read_dirs`)."""
        df = self._to_physical(df, mapping)
        rel = f"data/{version_hint:010d}-{uuid.uuid4().hex[:8]}"
        staged = self._staged_path(rel)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(staged))
        return rel

    def _staged_path(self, rel: str) -> Path:
        """Staging location mirroring ``rel``'s path under ``data/``."""
        return self._root / "_staging" / rel.removeprefix("data/")

    def _staged_rels(self, rel: str, partition_by: list[str] | None) -> list[str]:
        """Expand a staged partitioned write into one rel PER PARTITION LEAF
        DIR (``data/<v>-<id>/k=v[/k2=v2...]``). Each leaf becomes its own live
        entry with its own write-time stats, so a later merge keeps untouched
        partition dirs verbatim — never read, never rewritten — exactly like
        Delta tracks add-files per partition. Unpartitioned writes stay one
        rel; an empty partitioned write (no leaves) falls back to the parent
        dir so the commit still references a published path."""
        if not partition_by:
            return [rel]
        staged = self._staged_path(rel)
        leaves = [staged]
        for col in partition_by:
            leaves = [
                p
                for d in leaves
                for p in sorted(d.iterdir())
                if p.is_dir() and p.name.startswith(f"{col}=")
            ]
        if not leaves:
            return [rel]
        return [f"{rel}/{p.relative_to(staged)}" for p in leaves]

    # Delta indexes the first 32 columns for data skipping
    # (dataSkippingNumIndexedCols); 8 covers every key this engine merges on.
    _STATS_MAX_COLS = 8

    def _staged_stats(
        self, rels: list[str], force_cols: tuple[str, ...] = ()
    ) -> dict[str, dict[str, list]]:
        """Write-time per-dir min/max stats, harvested from the freshly staged
        parquet FOOTERS (one metadata read per file, amortized into the write)
        and recorded in the commit — the same add-file stats Delta keeps in its
        log. Merges then prune dirs from the log alone; footers are never
        reopened. Only JSON-faithful scalar types are kept (int/float/str/bool)
        so log round-trips compare exactly."""
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover
            return {}
        out: dict[str, dict[str, list]] = {}
        for rel in rels:
            root = self._staged_path(rel)
            lo_hi: dict[str, list] = {}
            dropped: set[str] = set()
            for f in sorted(root.rglob("*.parquet")):
                md = pq.ParquetFile(f).metadata
                for rg in range(md.num_row_groups):
                    row_group = md.row_group(rg)
                    for i in range(md.num_columns):
                        col = row_group.column(i)
                        name = col.path_in_schema
                        if i >= self._STATS_MAX_COLS and name not in force_cols:
                            continue  # index first N cols + any named keys
                        if "." in name or name in dropped:
                            continue  # nested leaves: not mergeable per column
                        st = col.statistics
                        if (
                            st is None
                            or not st.has_min_max
                            or not isinstance(st.min, (int, float, str, bool))
                            or not isinstance(st.max, (int, float, str, bool))
                        ):
                            dropped.add(name)
                            lo_hi.pop(name, None)
                            continue
                        cur = lo_hi.get(name)
                        if cur is None:
                            lo_hi[name] = [st.min, st.max]
                        else:
                            cur[0] = min(cur[0], st.min)
                            cur[1] = max(cur[1], st.max)
            if lo_hi:
                out[rel] = lo_hi
        return out

    def _read_dirs(
        self,
        dirs: list[str],
        schema_json: str | None,
        partition_by: list[str] | None,
        mapping: dict[str, str] | None = None,
        dv_rels: list[str] | None = None,
        keep_pos: bool = False,
    ) -> DataFrame:
        """Read a set of data dirs under the LOG schema. Partitioned dirs carry
        their partition-column values in ``key=value`` subdir names, so each
        dir is scanned with itself as ``basePath`` (recovering the columns) and
        the scans are unioned by name — partition pruning then applies per
        scan (PartitionFilters), which is the entire point: a filter on the
        partition column never lists, opens, or reads a non-matching
        directory.

        ``mapping`` (logical -> physical, from the commit's column mapping):
        files hold PHYSICAL names, so the scan schema is the log schema with
        fields renamed to physical, and the result projects back to logical.
        A column dropped from the log schema simply has no field in the scan
        schema — its bytes in old files are never read (column pruning), the
        Delta DROP COLUMN semantics.

        ``dv_rels`` — the commit's DELETION VECTORS (merge-on-read deletes,
        :meth:`delete` with ``mode="dv"``): each is a parquet of
        (file_path, row_index) tombstones. The scan attaches the parquet
        metadata position columns and anti-joins the tombstones — rows a DV
        marks never surface, without any file having been rewritten. DV rows
        whose file no longer exists (later compact/DML rewrote it) simply
        never match — carrying a DV list across rewrites is always sound.
        ``keep_pos`` additionally surfaces ``__fp``/``__ri`` (file path, row
        index) in the result — the DV WRITE path uses it to tombstone rows."""
        want_pos = keep_pos or bool(dv_rels)
        schema = None
        if schema_json:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(schema_json))
        phys_schema = None
        if schema is not None and mapping:
            from pyspark.sql.types import StructField, StructType

            phys_schema = StructType(
                [
                    StructField(mapping.get(f.name, f.name), f.dataType, f.nullable)
                    for f in schema.fields
                ]
            )
        read_schema = phys_schema if phys_schema is not None else schema

        pos_cols = ["__fp", "__ri"]

        def _with_pos(df: DataFrame) -> DataFrame:
            if not want_pos:
                return df
            return df.select(
                "*",
                F.col("_metadata.file_path").alias("__fp"),
                F.col("_metadata.row_index").alias("__ri"),
            )

        def _apply_dv(df: DataFrame) -> DataFrame:
            if not dv_rels:
                return df
            dv = self.spark.read.parquet(*[str(self._root / r) for r in dv_rels])
            out = df.join(
                dv,
                (df["__fp"] == dv["file_path"]) & (df["__ri"] == dv["row_index"]),
                "left_anti",
            )
            return out if keep_pos else out.drop(*pos_cols)

        def _to_logical(df: DataFrame) -> DataFrame:
            if phys_schema is None:
                return df
            extra_cols = [c for c in pos_cols if c in df.columns]
            return df.select(
                *[
                    F.col(mapping.get(f.name, f.name)).alias(f.name)
                    for f in schema.fields
                ],
                *extra_cols,
            )

        if not partition_by:
            reader = self.spark.read
            if read_schema is not None:
                reader = reader.schema(read_schema)
            return _to_logical(_apply_dv(_with_pos(reader.parquet(*dirs))))
        # Group dirs by basePath — the prefix above the first `key=value`
        # component (per-partition-dir live entries), or the dir itself
        # (legacy whole-dir entries, which contain the key=value subdirs).
        # One scan per group keeps the plan compact: sibling partition dirs
        # of the same write share a single FileScan with PartitionFilters.
        # Partition components are searched only BELOW the `<version>-<uuid8>`
        # data dir, never in the absolute prefix — a table rooted under a
        # directory whose own name contains '=' (/data/run=5/tbl) must not
        # shift basePath above the table root.
        groups: dict[str, list[str]] = {}
        for d in dirs:
            parts = Path(d).parts
            vidx = next(
                (i for i, comp in enumerate(parts) if _DATA_DIR_RE.match(comp)),
                None,
            )
            start = vidx + 1 if vidx is not None else 1
            cut = next(
                (i for i in range(start, len(parts)) if "=" in parts[i]),
                len(parts),
            )
            base = str(Path(*parts[:cut])) if cut < len(parts) else d
            groups.setdefault(base, []).append(d)
        frames = []
        for base, ds in groups.items():
            reader = self.spark.read.option("basePath", base)
            if read_schema is not None:
                reader = reader.schema(read_schema)
            df = _with_pos(reader.parquet(*ds))
            if read_schema is not None:
                # partition discovery appends physical-only dir columns (e.g.
                # zorder's __zr range buckets) even with an explicit schema —
                # the LOG schema is the contract, so project down to it
                df = df.select(
                    *[f.name for f in read_schema.fields],
                    *(pos_cols if want_pos else []),
                )
            frames.append(df)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return _to_logical(_apply_dv(out))

    def _publish(self, rel: str) -> None:
        """Atomically move a staged data dir into ``data/`` (post-commit)."""
        staged = self._staged_path(rel)
        dest = self._root / rel
        dest.parent.mkdir(parents=True, exist_ok=True)
        os.replace(staged, dest)

    def _discard_staged(self, rel: str) -> None:
        """Drop a staged dir after a failed/lost commit (nothing published).

        ``data/`` rels share a per-write ``<version>-<uuid>`` top, so removing
        the top is safe. Non-data rels (``_change_data/...``) live under a
        SHARED top — remove only the exact staged dir, never the parent, or a
        losing writer would wipe a concurrent writer's in-flight staging."""
        if not rel.startswith("data/"):
            shutil.rmtree(self._staged_path(rel), ignore_errors=True)
            return
        top = rel.removeprefix("data/").split("/", 1)[0]
        shutil.rmtree(self._root / "_staging" / top, ignore_errors=True)

    def _ensure_published(self, commit: dict | list[str]) -> None:
        """Crash recovery: a writer that died between link(2) and publish left a
        committed version whose dir still sits in ``_staging/`` — finish the
        move. Best-effort, idempotent, only touches table-relative dirs.

        Accepts the commit dict (repairs live data dirs AND the commit's
        ``cdc_dirs`` change-data rels, keeping the 'change rows atomic with
        the rewrite' invariant across that crash window) or a bare live list
        (legacy callers)."""
        if isinstance(commit, dict):
            rels = list(commit.get("live") or []) + list(
                commit.get("cdc_dirs") or []
            )
        else:
            rels = list(commit)
        for rel in rels:
            if (
                rel.startswith(("data/", "_change_data/"))
                and not (self._root / rel).exists()
                and self._staged_path(rel).exists()
            ):
                self._publish(rel)

    def _commit_staged(
        self,
        operation: str,
        live_dirs: list[str],
        staged_rels: str | list[str],
        extra: dict | None,
        base_version: int,
        base_commit: dict | None = None,
        stats_cols: tuple[str, ...] = (),
        keep_staged_on_conflict: bool = False,
    ) -> int:
        """Commit-then-publish for writes carrying new data dir(s); the staged
        dirs are discarded (never published) if another writer won the version
        — unless ``keep_staged_on_conflict``, where the caller owns them (the
        append conflict-retry relinks the SAME staged data against the new
        base instead of rewriting it). Write-time footer stats for the new
        dirs are recorded in the commit so later merges prune from the log
        without reopening footers."""
        if isinstance(staged_rels, str):
            staged_rels = [staged_rels]
        extra = dict(extra or {})
        cm = self._mapping(base_commit)
        # footer stats only for data dirs — change-data files (cdc_dirs) are
        # feed payload, never a prune target, so they carry no dir_stats
        stats = self._staged_stats(
            [r for r in staged_rels if r.startswith("data/")],
            force_cols=tuple(cm.get(c, c) for c in stats_cols),
        )
        if stats:
            extra["dir_stats"] = {**extra.get("dir_stats", {}), **stats}
        try:
            v = self._write_commit(operation, live_dirs, extra, base_version, base_commit)
        except ConcurrentWriteError:
            if not keep_staged_on_conflict:
                for rel in staged_rels:
                    self._discard_staged(rel)
            raise
        for rel in staged_rels:
            self._publish(rel)
        # after per-partition publishes the staged parent only holds _SUCCESS;
        # never remove a dir that still has data files (interrupted publish —
        # _ensure_published finishes the move on the next read). Only data/
        # tops are swept: they are per-write unique, while non-data rels
        # (_change_data/) share their top with concurrent writers' staging —
        # publishing already moved OUR dir out, and vacuum ages the rest.
        for top in {
            r.removeprefix("data/").split("/", 1)[0]
            for r in staged_rels
            if r.startswith("data/")
        }:
            leftover = self._root / "_staging" / top
            if leftover.exists() and not any(leftover.rglob("*.parquet")):
                shutil.rmtree(leftover, ignore_errors=True)
        return v

    # ----------------------------------------------------------------- reads
    def scan(
        self,
        key_bounds: dict[str, tuple] | None = None,
        where: str | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Data-skipping read (Delta's stats-based file skipping, at dir
        granularity): ``key_bounds`` maps column -> ``(lo, hi)`` (either end
        ``None`` for open); any live dir whose logged write-time [min, max]
        for that column cannot intersect the range is SKIPPED — never listed,
        never opened. The structured form is sound by construction (interval
        disjointness), unlike rewriting arbitrary SQL. ``where`` then applies
        as an ordinary filter, giving Spark's row-group-level pushdown the
        remainder. After ``zorder_by(key)``, a narrow ``scan(key_bounds=
        {key: (a, b)})`` touches only the overlapping range dirs — the read
        analog of the pruned merge."""
        v = self.latest_version() if version is None else version
        commit = self._read_commit(v)
        self._ensure_published(commit)
        live = list(commit["live"])
        for col, (lo, hi) in (key_bounds or {}).items():
            keep = []
            for rel in live:
                bounds = self._dir_key_bounds(rel, col, commit)
                try:
                    disjoint = bounds is not None and (
                        (hi is not None and bounds[0] > hi)
                        or (lo is not None and bounds[1] < lo)
                    )
                except TypeError:  # cross-type comparison: keep conservatively
                    disjoint = False
                if not disjoint:
                    keep.append(rel)
            live = keep
        if not live:
            return self.read(version=v).limit(0)
        df = self._read_dirs(
            [str(self._root / d) for d in live],
            commit.get("schema"),
            commit.get("partition_by"),
            commit.get("column_mapping"),
            dv_rels=commit.get("dv_files"),
        )
        # re-apply the bounds as row filters (dir stats prune dirs, not rows)
        for col, (lo, hi) in (key_bounds or {}).items():
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        if where is not None:
            df = df.filter(where)
        return df

    def read(self, version: int | None = None) -> DataFrame:
        """Batch read; ``version`` = time travel (VERSION AS OF analog).

        If the commit carries a schema (written by every append/overwrite since
        schema-evolution support), the reader is driven by the LOG schema —
        files predating an added column surface it as nulls, and no footer
        merging ever happens (same design as Delta: metadata in the log, not
        in 100k parquet footers)."""
        v = self.latest_version() if version is None else version
        commit = self._read_commit(v)
        self._ensure_published(commit)
        dirs = [str(self._root / d) for d in commit["live"]]
        if not dirs:
            raise ValueError(f"empty table at version {v}")
        return self._read_dirs(
            dirs,
            commit.get("schema"),
            commit.get("partition_by"),
            commit.get("column_mapping"),
            dv_rels=commit.get("dv_files"),
        )

    def live_data_dirs(self, version: int | None = None) -> list[str]:
        """Absolute paths of the data dirs live at ``version`` (default: latest).

        The interchange escape hatch (see README "deltalite vs. Delta Lake"):
        each dir holds plain parquet any engine can read; this is the snapshot
        a non-deltalite reader should consume instead of globbing ``data/``
        (which may contain superseded or vacuum-pending dirs)."""
        v = self.latest_version() if version is None else version
        commit = self._read_commit(v)
        self._ensure_published(commit)
        return [str(self._root / d) for d in commit["live"]]

    def read_stream(self) -> DataFrame:
        """Streaming read of an append-only deltalite table (Delta streaming
        source analog, S3): a file stream over the data dirs. Exact change feed
        for append-only tables (each commit adds a new dir); tables mutated by
        merge/compact would re-deliver rewritten files — don't stream those.
        The ``data/*`` glob sees COMMITTED dirs only: writers stage under
        ``_staging/`` and publish after the commit links, so crashed or
        OCC-losing writers can't feed uncommitted rows into the stream."""
        commit = self._read_commit(self.latest_version())
        if commit.get("partition_by"):
            raise ValueError(
                "read_stream is not supported on partitioned tables: the "
                "data/* file glob cannot recover partition-dir columns. "
                "Stream the unpartitioned upstream table instead."
            )
        if commit.get("dv_files"):
            raise ValueError(
                "read_stream on a table with active deletion vectors would "
                "re-deliver tombstoned rows (the file glob cannot apply "
                "them); run compact() to materialize the DVs first"
            )
        schema = self.read().schema  # logical
        mapping = self._mapping(commit)
        if not mapping:
            return (
                self.spark.readStream.schema(schema)
                .parquet(str(self._root / "data" / "*"))
            )
        # files carry physical names: scan physical, project back to logical
        from pyspark.sql.types import StructField, StructType

        phys = StructType(
            [
                StructField(mapping.get(f.name, f.name), f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        return (
            self.spark.readStream.schema(phys)
            .parquet(str(self._root / "data" / "*"))
            .select(
                *[
                    F.col(mapping.get(f.name, f.name)).alias(f.name)
                    for f in schema.fields
                ]
            )
        )

    def _version_at_or_before(self, ts: float) -> int:
        best = None
        for v in self._versions():
            # timestamps are per-commit: the raw doc suffices, no replay
            if self._raw_commit(v)["timestamp"] <= ts:
                best = v
        if best is None:
            raise ValueError(f"no version at or before {ts}")
        return best

    def read_as_of_timestamp(self, ts: float) -> DataFrame:
        """TIMESTAMP AS OF analog: last version committed at or before ``ts``."""
        return self.read(version=self._version_at_or_before(ts))

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY analog (newest first)."""
        return [self._read_commit(v) for v in reversed(self._versions())]

    def read_changes(
        self,
        starting_version: int,
        ending_version: int | None = None,
        strict: bool = False,
    ) -> DataFrame:
        """Change Data Feed analog (``table_changes(t, from, to)`` —
        db/query_scd1_table.sql:157-158): rows added by each commit in
        ``(starting_version, ending_version]``, tagged with ``_change_type``
        ('insert') and ``_commit_version``. DELETE commits additionally emit
        their removed rows with ``_change_type='delete'`` — reconstructed
        exactly by replaying the recorded predicate over the pre-delete dirs
        the commit rewrote (the rows filtered out are precisely the deleted
        set). OVERWRITE commits past the feed's start emit every
        pre-overwrite live row as a ``delete`` alongside the new data's
        ``insert`` rows — Delta's CDF overwrite semantics — so a replica
        applying the feed converges to the post-overwrite snapshot instead
        of silently keeping replaced rows.
        UPDATE commits emit Delta-CDF-style ``update_preimage`` /
        ``update_postimage`` row pairs, reconstructed the same way: the
        recorded predicate replays over the rewritten dirs' PRE-update bytes
        (matched rows = pre-images), and the recorded SET expressions applied
        to those rows are, by the determinism of the rewrite itself, exactly
        the post-images. Merge-on-read MERGE commits (``mode="dv"``) emit
        all four image kinds exactly — the commit keeps its delete/update
        sidecars and update/insert image dirs separate, so deletes and
        pre-images are position-joins against the pre-merge bytes and
        post-images/inserts are the appended dirs verbatim. On a
        CDF-ENABLED table (:meth:`enable_cdf`) every cow DML commit instead
        carries MATERIALIZED change-data files (``cdc_dirs``), read verbatim
        — including cow MERGE, which otherwise contributes nothing (its
        images dissolve into the rewrite). RESTORE commits (r8) derive their
        exact diff like Delta CDF does from the restore's add/remove:
        re-added dirs insert, removed dirs' previously-visible rows delete,
        and still-live dirs position-diff their DV visibility (re-surfaced
        rows insert, newly-tombstoned rows delete). Remaining rewriting
        commits (compact/zorder, cow merge without CDF) contribute nothing:
        physical reorganizations aren't logical changes. Cow MERGE without
        CDF is the exception that IS a logical change the feed cannot see —
        ``strict=True`` (what the replication sinks pass) raises instead of
        silently omitting it; :meth:`enable_cdf` on the source makes merges
        replicable.

        Raises :class:`NoChangesInWindow` (a ``ValueError`` subclass) when
        the window holds commits but none carried logical changes — callers
        that poll windows treat it as an empty batch while the retention
        refusal above stays a hard ``ValueError``.

        Every slice is read under the END version's schema + column mapping
        (not each commit's own): physical names are stable across renames, so
        a feed spanning a RENAME COLUMN surfaces one consistent set of
        logical names — the current ones — instead of failing to union
        per-commit frames with mismatched columns."""
        end = self.latest_version() if ending_version is None else ending_version
        oldest = self._oldest_retained()
        if oldest > 0 and starting_version < oldest:
            # a pruned log can't reconstruct the pre-state at starting_version;
            # treating it as genesis would re-emit the whole boundary snapshot
            # as inserts — raise instead (Delta's logRetentionDuration contract)
            raise RetentionPrunedWindow(
                f"change feed from version {starting_version} is unavailable: "
                f"log retention pruned versions < {oldest} "
                f"(cleanup_log); restart the consumer from a fresh snapshot"
            )
        # an end beyond the latest commit clamps (the pre-r5 iteration did so
        # implicitly): watermark pollers pass target versions that may not
        # exist yet
        end_commit = self._read_commit(min(end, self.latest_version()))
        frames = []
        if starting_version in self._versions():
            start_commit = self._read_commit(starting_version)
            prev_commit: dict | None = start_commit
            prev_live: set[str] = set(start_commit["live"])
            prev_dv: list[str] = list(start_commit.get("dv_files") or [])
        else:
            prev_commit, prev_live, prev_dv = None, set(), []
        unreadable_merges: list[int] = []
        for v in self._versions():
            if v <= starting_version or v > end:
                continue
            commit = self._read_commit(v)
            added = [d for d in commit["live"] if d not in prev_live]
            read_schema = end_commit.get("schema") or commit.get("schema")
            read_mapping = (
                end_commit.get("column_mapping")
                if end_commit.get("schema")
                else commit.get("column_mapping")
            )
            if commit["operation"] in ("append", "overwrite") and added:
                df = self._read_dirs(
                    [str(self._root / d) for d in added],
                    read_schema,
                    commit.get("partition_by"),
                    read_mapping,
                )
                frames.append(
                    df.withColumn("_change_type", F.lit("insert")).withColumn(
                        "_commit_version", F.lit(v)
                    )
                )
            if commit["operation"] == "overwrite" and prev_commit is not None:
                # Delta-CDF overwrite semantics: every pre-overwrite live row
                # is a logical delete (plus the inserts above). Removed dirs
                # were written under the PREVIOUS commit's schema/mapping —
                # read them there (prior DVs applied: tombstoned rows were
                # already reported deleted), then project to the end names by
                # stable physical identity.
                removed = [d for d in prev_live if d not in set(commit["live"])]
                if removed:
                    pre = self._read_dirs(
                        [str(self._root / d) for d in removed],
                        prev_commit.get("schema"),
                        prev_commit.get("partition_by"),
                        prev_commit.get("column_mapping"),
                        dv_rels=prev_dv,
                    )
                    to = end_commit if end_commit.get("schema") else prev_commit
                    frames.append(
                        self._project_to_schema(pre, prev_commit, to)
                        .withColumn("_change_type", F.lit("delete"))
                        .withColumn("_commit_version", F.lit(v))
                    )
            elif commit["operation"] == "restore" and prev_commit is not None:
                # RESTORE is a LOGICAL change (the snapshot rewinds), not a
                # physical reorganization — Delta's CDF derives its rows from
                # the restore's add/remove actions and so do we (pre-r8 this
                # commit contributed nothing and streaming replicas silently
                # diverged across a restore). Three sources of change:
                # re-added dirs (visible rows insert), removed dirs (rows
                # visible under the PREV state delete), and still-live dirs
                # whose DV visibility changed (position-diff: re-surfaced
                # rows insert, newly-tombstoned rows delete).
                to = end_commit if end_commit.get("schema") else commit
                if added:
                    img = self._read_dirs(
                        [str(self._root / d) for d in added],
                        commit.get("schema"),
                        commit.get("partition_by"),
                        commit.get("column_mapping"),
                        dv_rels=commit.get("dv_files"),
                    )
                    frames.append(
                        self._project_to_schema(img, commit, to)
                        .withColumn("_change_type", F.lit("insert"))
                        .withColumn("_commit_version", F.lit(v))
                    )
                removed = [d for d in prev_live if d not in set(commit["live"])]
                if removed:
                    pre = self._read_dirs(
                        [str(self._root / d) for d in removed],
                        prev_commit.get("schema"),
                        prev_commit.get("partition_by"),
                        prev_commit.get("column_mapping"),
                        dv_rels=prev_dv,
                    )
                    frames.append(
                        self._project_to_schema(pre, prev_commit, to)
                        .withColumn("_change_type", F.lit("delete"))
                        .withColumn("_commit_version", F.lit(v))
                    )
                shared = [d for d in commit["live"] if d in prev_live]
                cur_dv = list(commit.get("dv_files") or [])
                if shared and set(cur_dv) != set(prev_dv):
                    base_rows = self._read_dirs(
                        [str(self._root / d) for d in shared],
                        commit.get("schema"),
                        commit.get("partition_by"),
                        commit.get("column_mapping"),
                        keep_pos=True,
                    )

                    def _ts(rels):
                        if not rels:
                            return None
                        return self.spark.read.parquet(
                            *[str(self._root / r) for r in rels]
                        )

                    pts, cts = _ts(prev_dv), _ts(cur_dv)
                    for was, now, tag in ((pts, cts, "insert"),
                                          (cts, pts, "delete")):
                        # insert: tombstoned before, visible now;
                        # delete: visible before, tombstoned now
                        if was is None:
                            continue
                        diff = was if now is None else was.join(
                            now, ["file_path", "row_index"], "left_anti"
                        )
                        rows = base_rows.join(
                            diff,
                            (base_rows["__fp"] == diff["file_path"])
                            & (base_rows["__ri"] == diff["row_index"]),
                            "left_semi",
                        ).drop("__fp", "__ri")
                        frames.append(
                            self._project_to_schema(rows, commit, to)
                            .withColumn("_change_type", F.lit(tag))
                            .withColumn("_commit_version", F.lit(v))
                        )
            elif commit.get("cdc_dirs"):
                # CDF-materialized cow DML (enable_cdf): the commit's change
                # rows were written as change-data files atomically with the
                # rewrite — read them verbatim, no predicate replay. This is
                # the ONLY enumeration of cow MERGE changes (without CDF its
                # images dissolve into the rewrite).
                frames.append(
                    self._read_cdc(commit, end_commit).withColumn(
                        "_commit_version", F.lit(v)
                    )
                )
            elif (
                commit["operation"] == "delete"
                and commit.get("delete_where")
                and commit.get("dv_delete")
            ):
                # merge-on-read delete: live dirs unchanged; the newly
                # tombstoned rows are exactly (predicate-matching rows not
                # already tombstoned BEFORE this commit) — read the same dirs
                # under the PRIOR commit's DV set and replay the predicate
                new_dv = [
                    r for r in (commit.get("dv_files") or [])
                    if r not in set(prev_dv)
                ]
                if new_dv:
                    pre = self._read_dirs(
                        [str(self._root / d) for d in commit["live"]],
                        commit.get("schema"),
                        commit.get("partition_by"),
                        commit.get("column_mapping"),
                        dv_rels=prev_dv,
                    ).filter(commit["delete_where"])
                    pre = self._project_to_schema(
                        pre, commit, end_commit if end_commit.get("schema") else commit
                    )
                    frames.append(
                        pre.withColumn("_change_type", F.lit("delete"))
                        .withColumn("_commit_version", F.lit(v))
                    )
            elif commit["operation"] == "delete" and commit.get("delete_where"):
                replaced = [d for d in prev_live if d not in set(commit["live"])]
                if replaced:
                    # the predicate was recorded against THIS commit's logical
                    # names — evaluate it under them (a later rename would make
                    # end-schema evaluation unresolvable, or worse, bind a
                    # reused name to the wrong column), then project to the
                    # END version's names by stable physical identity
                    pre = self._read_dirs(
                        [str(self._root / d) for d in replaced],
                        commit.get("schema"),
                        commit.get("partition_by"),
                        commit.get("column_mapping"),
                        dv_rels=prev_dv,  # carried DVs: rows already gone
                    ).filter(commit["delete_where"])
                    pre = self._project_to_schema(
                        pre, commit, end_commit if end_commit.get("schema") else commit
                    )
                    frames.append(
                        pre.withColumn("_change_type", F.lit("delete"))
                        .withColumn("_commit_version", F.lit(v))
                    )
            elif (
                commit["operation"] == "update"
                and commit.get("update_where")
                and commit.get("dv_update")
            ):
                # merge-on-read update: pre-images = predicate replay over the
                # PRE-update dirs under the prior DV set; post-images = the
                # commit's appended dir, verbatim
                added = [d for d in commit["live"] if d not in prev_live]
                old = [d for d in commit["live"] if d in prev_live]
                to = end_commit if end_commit.get("schema") else commit
                if added and old:
                    pre = self._read_dirs(
                        [str(self._root / d) for d in old],
                        commit.get("schema"),
                        commit.get("partition_by"),
                        commit.get("column_mapping"),
                        dv_rels=prev_dv,
                    ).filter(commit["update_where"])
                    post = self._read_dirs(
                        [str(self._root / d) for d in added],
                        commit.get("schema"),
                        commit.get("partition_by"),
                        commit.get("column_mapping"),
                    )
                    for img, tag in ((pre, "update_preimage"),
                                     (post, "update_postimage")):
                        frames.append(
                            self._project_to_schema(img, commit, to)
                            .withColumn("_change_type", F.lit(tag))
                            .withColumn("_commit_version", F.lit(v))
                        )
            elif commit["operation"] == "update" and commit.get("update_where"):
                replaced = [d for d in prev_live if d not in set(commit["live"])]
                if replaced:
                    # predicate + SET were recorded against THIS commit's
                    # logical names (same binding rule as delete replay)
                    matched = self._read_dirs(
                        [str(self._root / d) for d in replaced],
                        commit.get("schema"),
                        commit.get("partition_by"),
                        commit.get("column_mapping"),
                        dv_rels=prev_dv,  # tombstoned rows were never updated
                    ).filter(commit["update_where"])
                    upd = commit["update_set"]
                    post = matched.select(
                        *[
                            F.expr(upd[c]).cast(matched.schema[c].dataType).alias(c)
                            if c in upd
                            else F.col(c)
                            for c in matched.columns
                        ]
                    )
                    to = end_commit if end_commit.get("schema") else commit
                    for img, tag in ((matched, "update_preimage"),
                                     (post, "update_postimage")):
                        frames.append(
                            self._project_to_schema(img, commit, to)
                            .withColumn("_change_type", F.lit(tag))
                            .withColumn("_commit_version", F.lit(v))
                        )
            elif commit["operation"] == "merge" and commit.get("dv_merge"):
                # merge-on-read MERGE: the commit kept its four outputs'
                # identities — deletes/pre-images are the rows at the new
                # sidecars' positions (read the PRE-merge dirs under the
                # prior DV set and position-join), post-images/inserts are
                # the appended image dirs verbatim
                to = end_commit if end_commit.get("schema") else commit
                old = [d for d in commit["live"] if d in prev_live]
                base_rows = None
                for key, tag in (("dv_merge_delete_dvs", "delete"),
                                 ("dv_merge_update_dvs", "update_preimage")):
                    rels = commit.get(key) or []
                    if not rels or not old:
                        continue
                    if base_rows is None:
                        base_rows = self._read_dirs(
                            [str(self._root / d) for d in old],
                            commit.get("schema"),
                            commit.get("partition_by"),
                            commit.get("column_mapping"),
                            dv_rels=prev_dv,
                            keep_pos=True,
                        )
                    sc = self.spark.read.parquet(
                        *[str(self._root / r) for r in rels]
                    )
                    rows = base_rows.join(
                        sc,
                        (base_rows["__fp"] == sc["file_path"])
                        & (base_rows["__ri"] == sc["row_index"]),
                        "inner",
                    ).drop("file_path", "row_index", "__fp", "__ri")
                    frames.append(
                        self._project_to_schema(rows, commit, to)
                        .withColumn("_change_type", F.lit(tag))
                        .withColumn("_commit_version", F.lit(v))
                    )
                for key, tag in (("dv_merge_insert_dirs", "insert"),
                                 ("dv_merge_update_dirs", "update_postimage")):
                    rels = commit.get(key) or []
                    if not rels:
                        continue
                    img = self._read_dirs(
                        [str(self._root / d) for d in rels],
                        commit.get("schema"),
                        commit.get("partition_by"),
                        commit.get("column_mapping"),
                    )
                    frames.append(
                        self._project_to_schema(img, commit, to)
                        .withColumn("_change_type", F.lit(tag))
                        .withColumn("_commit_version", F.lit(v))
                    )
            elif commit["operation"] == "merge":
                # cow MERGE without materialized CDF: its logical changes
                # dissolved into the rewrite and cannot be enumerated
                unreadable_merges.append(v)
            prev_commit = commit
            prev_live = set(commit["live"])
            prev_dv = list(commit.get("dv_files") or [])
        if strict and unreadable_merges:
            raise ValueError(
                f"change feed over ({starting_version}, {end}] is incomplete: "
                f"copy-on-write MERGE commit(s) {unreadable_merges} carry no "
                f"change-data files — their changes cannot be enumerated. "
                f"Run enable_cdf() on the source (or merge with mode='dv') "
                f"so merges materialize CDF, then restart the consumer from "
                f"a fresh snapshot"
            )
        if not frames:
            raise NoChangesInWindow(
                f"no logical changes in ({starting_version}, {end}]"
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        # Delta CDF's third metadata column: the commit's wall-clock time.
        # _commit_timestamp is a pure function of _commit_version, so one map
        # literal over the final union tags every row — no per-frame edits.
        ts_by_v = {
            v: float(self._raw_commit(v)["timestamp"])
            for v in self._versions()
            if starting_version < v <= end
        }
        ts_map = F.create_map(
            *[F.lit(x) for v, t in sorted(ts_by_v.items()) for x in (v, t)]
        )
        return out.withColumn(
            "_commit_timestamp",
            F.timestamp_seconds(ts_map[F.col("_commit_version")]),
        )

    def _project_to_schema(self, df: DataFrame, from_commit: dict, to_commit: dict) -> DataFrame:
        """Rename/project a frame read under ``from_commit``'s logical names
        to ``to_commit``'s, matching columns by their STABLE PHYSICAL names
        (column mapping): renamed columns carry over, columns added later
        surface as typed nulls, columns dropped later are projected away.
        A ``_change_type`` column (materialized change-data reads, where the
        type varies per row) passes through untouched."""
        if not from_commit.get("schema") or not to_commit.get("schema") or (
            from_commit.get("schema") == to_commit.get("schema")
            and from_commit.get("column_mapping") == to_commit.get("column_mapping")
        ):
            return df
        from pyspark.sql.types import StructType

        schema_from = StructType.fromJson(json.loads(from_commit["schema"]))
        schema_to = StructType.fromJson(json.loads(to_commit["schema"]))
        map_from = self._mapping(from_commit)
        map_to = self._mapping(to_commit)
        logical_from_by_phys = {
            map_from.get(f.name, f.name): f.name for f in schema_from.fields
        }
        cols = []
        for f in schema_to.fields:
            src = logical_from_by_phys.get(map_to.get(f.name, f.name))
            if src is not None:
                cols.append(F.col(src).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        passthrough = [c for c in ("_change_type",) if c in df.columns]
        return df.select(*cols, *passthrough)

    # ------------------------------------------------------- change data feed
    def cdf_enabled(self, commit: dict | None = None) -> bool:
        """Whether Delta-style CDF materialization is on for this table."""
        if commit is None:
            _, commit = self._snapshot()
        return bool(commit.get("cdf"))

    def enable_cdf(self) -> int:
        """``ALTER TABLE ... SET TBLPROPERTIES (delta.enableChangeDataFeed =
        true)`` analog. From this commit on, every COPY-ON-WRITE DML
        (delete/update/merge with ``mode="cow"``) additionally writes its
        change rows as Delta-style change-data files (``_change_data/``,
        physical column names + a ``__change_type`` discriminator), committed
        atomically with the rewrite under the commit's ``cdc_dirs`` key.
        :meth:`read_changes` and the streaming ``deltalite_cdf`` source then
        read those files VERBATIM — no predicate replay — which is what makes
        cow DML streamable/replicable (previously only merge-on-read DML
        was). Write cost ∝ changed rows, the same trade Delta's
        enableChangeDataFeed makes. DV-mode DML needs no change files (its
        commits already enumerate their change set positionally) and is
        unaffected."""
        base, commit = self._snapshot()
        if commit.get("cdf"):
            return base
        extra: dict = {"cdf": True}
        if commit.get("schema"):
            extra["schema"] = commit["schema"]
        return self._write_commit("set_cdf", commit["live"], extra, base, commit)

    def _stage_cdc_dir(
        self, changes: DataFrame, version_hint: int, mapping: dict[str, str] | None
    ) -> str:
        """Stage a change-data file set (table columns under PHYSICAL names +
        ``__change_type``) for a cow DML commit; published with the rewrite
        by :meth:`_commit_staged` so the change rows are atomic with the
        commit that caused them."""
        rel = f"_change_data/{version_hint:010d}-{uuid.uuid4().hex[:8]}"
        self._to_physical(changes, mapping).write.mode("overwrite").parquet(
            str(self._staged_path(rel))
        )
        return rel

    def _read_cdc(self, commit: dict, end_commit: dict) -> DataFrame:
        """Read a commit's materialized change-data files back under the END
        version's logical names, ``_change_type`` attached per row."""
        self._ensure_published(commit)  # finish a crashed writer's cdc publish
        missing = [
            r for r in commit["cdc_dirs"] if not (self._root / r).exists()
        ]
        if missing:
            raise FileNotFoundError(
                f"commit {commit.get('version')} references change-data dirs "
                f"that do not exist on disk: {missing} — the feed would "
                f"silently lose this commit's changes (vacuumed too "
                f"aggressively, or a partial copy of the table)"
            )
        raw = self.spark.read.parquet(
            *[str(self._root / r) for r in commit["cdc_dirs"]]
        )
        from pyspark.sql.types import StructType

        mapping = self._mapping(commit)
        schema = StructType.fromJson(json.loads(commit["schema"]))
        df = raw.select(
            *[
                F.col(mapping.get(f.name, f.name)).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ],
            F.col("__change_type").alias("_change_type"),
        )
        to = end_commit if end_commit.get("schema") else commit
        return self._project_to_schema(df, commit, to)

    def clone_to(self, dest_path: str) -> "DeltaliteTable":
        """SHALLOW CLONE analog (db/table_maintenance.sql:85-92): the clone's
        first commit references the source's live data dirs by absolute path —
        zero data copied. Same caveat as Delta: VACUUM on the source can
        invalidate the clone."""
        dest = DeltaliteTable(self.spark, dest_path)
        if dest.exists():
            raise ValueError(f"clone destination already exists: {dest_path}")
        src_commit = self._read_commit(self.latest_version())
        live_abs = [str(self._root / d) for d in src_commit["live"]]
        extra = {"cloned_from": self.path}
        if src_commit.get("dv_files"):
            # like Delta, a shallow clone carries the source's deletion
            # vectors: sidecars are referenced by ABSOLUTE path (the same
            # scheme as the cloned data dirs — `root / abs` resolves to abs),
            # and the tombstones' recorded file_paths already point into the
            # source's files, which are exactly what the clone reads. Later
            # DML on the clone appends its own (relative) sidecars; compact
            # materializes and cuts the dependence on the source's _dv.
            extra["dv_files"] = [
                str(self._root / r) for r in src_commit["dv_files"]
            ]
        if src_commit.get("schema"):
            extra["schema"] = src_commit["schema"]
        if src_commit.get("partition_by"):
            extra["partition_by"] = src_commit["partition_by"]
        # table metadata travels with the clone (Delta clones copy table
        # properties/constraints): column mapping, CHECK constraints, the CDF
        # flag, generated-column specs, and identity watermarks (the clone
        # keeps allocating after the source's high — uniqueness per table)
        for cm_key in (
            "column_mapping", "retired_physical", "constraints",
            "cdf", "generated", "identity",
        ):
            if src_commit.get(cm_key):
                extra[cm_key] = src_commit[cm_key]
        dest._write_commit("shallow_clone", live_abs, extra, base_version=-1)
        return dest

    def analyze(self, columns: list[str] | None = None) -> dict:
        """ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS] analog
        (db/table_maintenance.sql:38-41): row count + per-column min/max/ndv,
        recorded in the log (operation='analyze', live set unchanged) so later
        readers — and table_health tooling — can consult them."""
        df = self.read()
        stats: dict = {"num_rows": df.count()}
        if columns:
            aggs = []
            for c in columns:
                aggs += [
                    F.min(c).alias(f"{c}__min"),
                    F.max(c).alias(f"{c}__max"),
                    F.approx_count_distinct(c).alias(f"{c}__ndv"),
                ]
            row = df.agg(*aggs).first().asDict()
            stats["columns"] = {
                c: {
                    "min": row[f"{c}__min"],
                    "max": row[f"{c}__max"],
                    "ndv": row[f"{c}__ndv"],
                }
                for c in columns
            }
        base, commit = self._snapshot()
        extra: dict = {"stats": stats}
        if commit.get("schema"):
            extra["schema"] = commit["schema"]
        self._write_commit("analyze", commit["live"], extra, base, commit)
        return stats

    # ------------------------------------------------------------- schema log
    def schema(self):
        """The log schema at the latest version, or None for pre-evolution
        tables (those read with file-footer schemas)."""
        from pyspark.sql.types import StructType

        commit = self._read_commit(self.latest_version())
        return (
            StructType.fromJson(json.loads(commit["schema"]))
            if commit.get("schema")
            else None
        )

    _WIDENING_RANK = {  # safe implicit write casts (Delta-style)
        "tinyint": 0, "smallint": 1, "int": 2, "bigint": 3,
        "float": 10, "double": 11,
    }

    def _evolved_schema(self, df: DataFrame, merge_schema: bool, commit: dict | None = None):
        """Schema enforcement + evolution (Delta mergeSchema/autoMerge analog,
        db/schema_evolution.sql:115-127): same-name fields must keep their type
        (narrower numerics are safely widened on write); new columns require
        ``merge_schema=True`` and are appended. Returns (log schema, df cast to
        it, column-mapping update or None) — files on disk always match the
        log schema exactly.

        A merge-schema column whose name collides with a PHYSICAL name still
        present in old files (a renamed-away or dropped column) gets a fresh
        generated physical name — the same guard :meth:`add_column` applies —
        so old bytes can never resurface under the new logical column and the
        scan schema never holds duplicate physical fields."""
        current = self.schema() or self.read().schema
        cur_fields = {f.name: f for f in current.fields}
        rank = self._WIDENING_RANK
        new_fields, casts = [], {}
        for f in df.schema.fields:
            if f.name in cur_fields:
                cur_t = cur_fields[f.name].dataType
                if f.dataType != cur_t:
                    a, b = f.dataType.simpleString(), cur_t.simpleString()
                    # same-family widening only (int→bigint, float→double);
                    # cross-family (bigint→double) is lossy and rejected
                    widenable = (
                        a in rank and b in rank
                        and rank[a] < rank[b]
                        and (rank[a] < 10) == (rank[b] < 10)
                    )
                    if not widenable:
                        raise ValueError(
                            f"schema enforcement: column {f.name} is {b}, got {a}"
                        )
                    casts[f.name] = b
            else:
                new_fields.append(f)
        if new_fields and not merge_schema:
            raise ValueError(
                "schema enforcement: new columns "
                f"{[f.name for f in new_fields]} require merge_schema=True"
            )
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            list(current.fields)
            + [StructField(f.name, f.dataType, True) for f in new_fields]
        )
        if casts:
            df = df.select(
                *[
                    F.col(c).cast(casts[c]).alias(c) if c in casts else F.col(c)
                    for c in df.columns
                ]
            )
        cm_update = None
        if new_fields:
            mapping = self._mapping(commit)
            phys_in_use = (
                {mapping.get(f.name, f.name) for f in current.fields}
                | set(mapping.values())
                | set((commit or {}).get("retired_physical") or [])
            )
            for f in new_fields:
                if f.name in phys_in_use:
                    mapping[f.name] = f"col-{uuid.uuid4().hex[:8]}"
                    cm_update = mapping
        return schema, df, cm_update

    # ----------------------------------------------------------- constraints
    def constraints(self) -> dict[str, str]:
        """Declared CHECK constraints (name -> SQL predicate) at latest version."""
        if not self.exists():
            return {}
        return self._read_commit(self.latest_version()).get("constraints", {})

    def add_constraint(self, name: str, predicate: str) -> int:
        """ALTER TABLE ADD CONSTRAINT ... CHECK analog (Delta table
        constraints; mirrors the reference's Oracle CHECK domains,
        db/oracle-ddl.sql:14-16). Validates existing data, then records the
        predicate in the log — every later append/merge re-validates."""
        base, commit = self._snapshot()
        existing = commit.get("constraints", {})
        if name in existing:
            raise ValueError(f"constraint exists: {name}")
        self._validate({name: predicate}, self.read(version=base))
        extra = {"constraints": {**existing, name: predicate}}
        if commit.get("schema"):
            extra["schema"] = commit["schema"]
        return self._write_commit("add_constraint", commit["live"], extra, base, commit)

    def drop_constraint(self, name: str) -> int:
        base, commit = self._snapshot()
        constraints = dict(commit.get("constraints", {}))
        constraints.pop(name, None)
        extra = {"constraints": constraints}
        if commit.get("schema"):
            extra["schema"] = commit["schema"]
        return self._write_commit("drop_constraint", commit["live"], extra, base, commit)

    # ------------------------------------------------------ generated columns
    def generated_columns(self) -> dict[str, str]:
        """Declared generated columns (name -> SQL expression) at latest
        version (Delta's GENERATED ALWAYS AS (...) analog)."""
        if not self.exists():
            return {}
        return self._read_commit(self.latest_version()).get("generated", {})

    def _apply_generated(self, df: DataFrame, gen: dict[str, str]) -> DataFrame:
        """Compute any ABSENT generated column from its expression (writes
        may omit them, Delta semantics); provided columns pass through and
        are enforced by the auto-registered ``gen_<name>`` CHECK constraint
        instead (a provided value that disagrees with the expression fails
        the write — Delta's generation-expression check)."""
        for name, expr in (gen or {}).items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
        return df

    @staticmethod
    def _gen_constraints(gen: dict[str, str]) -> dict[str, str]:
        # null-safe equality: a generated value of NULL (null inputs) is
        # consistent with a provided NULL
        return {f"gen_{n}": f"{n} <=> ({e})" for n, e in (gen or {}).items()}

    # ------------------------------------------------------- identity columns
    def identity_columns(self) -> dict[str, dict]:
        """Declared identity columns (name -> {start, step, high}) at latest
        version — Delta's GENERATED ALWAYS AS IDENTITY analog. ``high`` is
        the allocation watermark: the largest value any committed write has
        assigned."""
        if not self.exists():
            return {}
        return self._read_commit(self.latest_version()).get("identity", {})

    def _assign_identity(self, df: DataFrame, ident: dict[str, dict]) -> DataFrame:
        """Assign identity values to a write frame. GENERATED ALWAYS
        semantics: a write PROVIDING the column is refused (Delta's
        contract); omitted columns get ``high + step * (mono_id + 1)`` —
        monotonically increasing and unique, with GAPS allowed (the same
        guarantee Delta gives: mono ids are sparse across partitions, and
        the committed watermark advances to the max actually written, read
        from the staged parquet footers)."""
        for name, spec in (ident or {}).items():
            if name in df.columns:
                raise ValueError(
                    f"identity column {name} is GENERATED ALWAYS — explicit "
                    f"values are not accepted; remove it from the write"
                )
            base = spec.get("high", spec.get("start", 1) - spec.get("step", 1))
            step = spec.get("step", 1)
            df = df.withColumn(
                name,
                (
                    F.lit(int(base)).cast("long")
                    + (F.monotonically_increasing_id() + 1) * F.lit(int(step))
                ),
            )
        return df

    def _reserve_identity_range(
        self, df: DataFrame, retries: int
    ) -> tuple[dict[str, int] | None, DataFrame]:
        """Reserved-range identity allocation (Delta's high-water-mark
        protocol, the shape that lets two CONCURRENT appenders both succeed
        with disjoint ids): before any data is staged, advance the
        watermark by the batch's row count in a tiny metadata-only
        ``identity_reserve`` commit (OCC-retried — nothing staged yet, a
        lost race costs one snapshot re-read). The batch then assigns
        DENSELY from the reserved base, so its values are fully determined
        and a later blind re-link of the data commit cannot collide with a
        rival's allocation. A writer that crashes after reserving leaves a
        GAP — exactly Delta's allowance. Returns ``(bases, persisted_df)``;
        bases is None for an empty batch (nothing to reserve). On ANY raise
        the persisted df is unpersisted here — the caller's finally only
        covers the success paths, and a leak per lost reservation race would
        accumulate cached blocks under concurrent appenders."""
        df = df.persist()
        try:
            n = df.count()
            if n == 0:
                return None, df
            for _ in range(retries + 3):
                rb, rcommit = self._snapshot()
                rident = rcommit.get("identity") or {}
                bases: dict[str, int] = {}
                reserved: dict[str, dict] = {}
                for name, spec in rident.items():
                    step = int(spec.get("step", 1))
                    base = int(
                        spec.get("high", int(spec.get("start", 1)) - step)
                    )
                    bases[name] = base
                    reserved[name] = {**spec, "high": base + n * step}
                extra: dict = {"identity": reserved}
                if rcommit.get("schema"):
                    extra["schema"] = rcommit["schema"]
                try:
                    self._write_commit(
                        "identity_reserve", rcommit["live"], extra, rb, rcommit
                    )
                    return bases, df
                except ConcurrentWriteError:
                    continue
            raise ConcurrentWriteError(
                "identity reservation kept losing the commit race — retry "
                "the append under lower write concurrency"
            )
        except BaseException:
            df.unpersist()
            raise

    def _assign_identity_dense(
        self, df: DataFrame, ident: dict[str, dict], bases: dict[str, int]
    ) -> DataFrame:
        """Dense 1..n assignment from a RESERVED base: per-partition row
        index (monotonically_increasing_id's low 33 bits) plus broadcast
        cumulative partition offsets — values stay inside the reserved
        range, unlike the sparse fast path. ``df`` must be persisted (the
        offset count and the write must see identical partitioning)."""
        for name in ident:
            if name in df.columns:
                raise ValueError(
                    f"identity column {name} is GENERATED ALWAYS — explicit "
                    f"values are not accepted; remove it from the write"
                )
        counts = (
            df.groupBy(F.spark_partition_id().alias("__pid"))
            .count()
            .collect()
        )
        offs: list = []
        acc = 0
        for r in sorted(counts, key=lambda r: r["__pid"]):
            offs += [F.lit(int(r["__pid"])), F.lit(acc)]
            acc += r["count"]
        off_map = F.create_map(*offs)
        pid = F.spark_partition_id().cast("long")
        idx = F.monotonically_increasing_id() - F.shiftleft(pid, 33)
        pos = off_map[F.spark_partition_id()].cast("long") + idx + 1  # 1..n
        for name, spec in ident.items():
            step = int(spec.get("step", 1))
            df = df.withColumn(
                name,
                F.lit(int(bases[name])).cast("long") + pos * F.lit(step),
            )
        return df

    def _advance_identity(
        self, ident: dict[str, dict], staged_rels: list[str],
        mapping: dict[str, str] | None,
    ) -> dict[str, dict]:
        """New identity spec with watermarks advanced to the max value the
        staged files actually contain (footer stats — no data read). An
        empty write leaves the watermark unchanged."""
        if not ident:
            return ident
        phys = {
            (mapping or {}).get(n, n): n for n in ident
        }
        stats = self._staged_stats(staged_rels, force_cols=tuple(phys))
        out = {n: dict(s) for n, s in ident.items()}
        for rel_stats in stats.values():
            for p, (lo, hi) in rel_stats.items():
                n = phys.get(p)
                if n is not None:
                    cur = out[n].get("high")
                    out[n]["high"] = hi if cur is None else max(cur, hi)
        return out

    def _validate(self, constraints: dict[str, str], df: DataFrame) -> None:
        """One scan validates all predicates (aggregated violation counts)."""
        if not constraints:
            return
        aggs = [
            F.sum(F.when(~F.expr(pred), 1).otherwise(0)).alias(n)
            for n, pred in constraints.items()
        ]
        row = df.agg(*aggs).first()
        bad = {n: row[n] for n in constraints if row[n]}
        if bad:
            raise ValueError(f"CHECK constraint violation(s): {bad}")

    # ---------------------------------------------------------------- writes
    def last_txn_version(self, txn_app: str) -> int | None:
        """Highest txn version committed under ``txn_app``, or None.

        Read from the latest snapshot's carried cumulative ``txn_high`` map
        (Delta's SetTransaction-in-checkpoint analog): replay folds every
        commit's ``txn`` marker into it, legacy snapshot docs included, and
        it survives :meth:`cleanup_log` pruning the commits that recorded
        the markers. No commit doc is re-read, so the cost does not grow
        with table history."""
        return (self._read_commit(self.latest_version()).get("txn_high") or {}).get(
            txn_app
        )

    def append(
        self,
        df: DataFrame,
        merge_schema: bool = False,
        txn_app: str | None = None,
        txn_version: int | None = None,
        partition_by: list[str] | None = None,
        retries: int = 0,
    ) -> int:
        """Append; with (txn_app, txn_version) the write is IDEMPOTENT — the
        Delta txnAppId/txnVersion pattern that makes foreachBatch exactly-once:
        a retried micro-batch (same version) is skipped instead of
        double-appended. Returns the committed (or already-current) version.

        ``partition_by`` sets the table's Hive-style partition spec on first
        write; later appends inherit it from the log (passing a conflicting
        spec raises — partition evolution is an overwrite-only operation).

        ``retries``: blind-append conflict resolution (Delta WriteSerializable
        semantics). When another writer wins the version race, the staged data
        dirs are KEPT and re-linked against the new base — no rewrite of the
        data — provided every interleaved commit is itself a plain append with
        unchanged schema/constraints/partition spec; anything else (overwrite,
        restore, merge, concurrent schema change) still raises
        ConcurrentWriteError because blind re-linking could bury its effect."""
        base, commit = self._snapshot()
        if txn_app is not None and txn_version is not None and base >= 0:
            last = self.last_txn_version(txn_app)
            if last is not None and txn_version <= last:
                return base  # replayed batch: no-op
        spec = commit.get("partition_by") if base >= 0 else partition_by
        if base >= 0 and partition_by is not None and list(partition_by) != list(spec or []):
            raise ValueError(
                f"table is partitioned by {spec}; append cannot change the "
                f"spec to {partition_by} — use overwrite(partition_by=...)"
            )
        ident = commit.get("identity") or {}
        dense_bases: dict[str, int] | None = None
        reserved_mode = False
        persisted: DataFrame | None = None
        if ident and retries > 0 and base >= 0:
            # concurrent-append mode: reserve the id range FIRST (its own
            # tiny OCC commit), then allocate densely inside it — the data
            # commit below can then blind-relink past rival appends without
            # any possibility of id collision
            dense_bases, df = self._reserve_identity_range(df, retries)
            reserved_mode = True  # empty batch: nothing allocated, relink safe
            persisted = df
            base, commit = self._snapshot()
            ident = commit.get("identity") or {}
        if base >= 0:
            df = self._apply_generated(df, commit.get("generated") or {})
            if dense_bases is not None:
                df = self._assign_identity_dense(df, ident, dense_bases)
            else:
                df = self._assign_identity(df, ident)
            schema, df, cm_update = self._evolved_schema(df, merge_schema, commit)
            self._validate(commit.get("constraints", {}), df)
        else:
            schema, cm_update = df.schema, None
        prev = commit.get("live", [])
        try:
            rel = self._write_data_dir(
                df, base + 1, partition_by=spec,
                mapping=(cm_update or self._mapping(commit)) if base >= 0 else None,
            )
        finally:
            if persisted is not None:
                persisted.unpersist()  # staged to disk; reservation cache done
        rels = self._staged_rels(rel, spec)
        extra: dict = {"schema": schema.json()}
        if ident:
            extra["identity"] = self._advance_identity(
                ident, rels, cm_update or self._mapping(commit)
            )
        if cm_update is not None:
            extra["column_mapping"] = cm_update
        if spec:
            extra["partition_by"] = list(spec)
        if txn_app is not None and txn_version is not None:
            extra["txn"] = {"app": txn_app, "version": txn_version}
        attempt = 0
        while True:
            try:
                return self._commit_staged(
                    "append", [*prev, *rels], rels, extra, base, commit,
                    keep_staged_on_conflict=attempt < retries,
                )
            except ConcurrentWriteError:
                if attempt >= retries:
                    raise
                attempt += 1
                new_base, new_commit = self._snapshot()

                def _conflict(reason: str):
                    for r in rels:
                        self._discard_staged(r)
                    return ConcurrentWriteError(
                        f"append retry abandoned at version {new_base}: {reason}"
                    )

                if ident and not reserved_mode:
                    # sparse fast-path appends allocate from the shared
                    # watermark — staged values may collide; blind
                    # re-linking is unsound. (The reserved-range mode above
                    # never lands here un-reserved: retries > 0 implies a
                    # reservation.)
                    raise _conflict(
                        "identity allocation raced another writer — re-run "
                        "the append to allocate from the new watermark"
                    )
                for v in range(base + 1, new_base + 1):
                    if self._raw_commit(v).get("operation") not in (
                        "append", "identity_reserve",
                    ):
                        raise _conflict(
                            f"interleaved non-append commit at version {v}"
                        )
                if new_commit.get("schema") != commit.get("schema"):
                    raise _conflict("schema changed concurrently")
                if new_commit.get("constraints", {}) != commit.get("constraints", {}):
                    raise _conflict("constraints changed concurrently")
                if list(new_commit.get("partition_by") or []) != list(spec or []):
                    raise _conflict("partition spec changed concurrently")
                if ident:
                    # our ids are safe (reserved range), but the WATERMARK we
                    # are about to commit must not regress below a rival's
                    # later reservation/append — merge to the max per column
                    new_ident = new_commit.get("identity") or {}
                    if set(new_ident) != set(ident) or any(
                        int(new_ident[n].get("step", 1))
                        != int(ident[n].get("step", 1))
                        for n in ident
                    ):
                        raise _conflict("identity spec changed concurrently")
                    extra["identity"] = {
                        n: {
                            **s,
                            "high": max(
                                int(s.get("high", 0)),
                                int(new_ident[n].get("high", 0)),
                            ),
                        }
                        for n, s in extra["identity"].items()
                    }
                if txn_app is not None and txn_version is not None:
                    last = self.last_txn_version(txn_app)
                    if last is not None and txn_version <= last:
                        for r in rels:
                            self._discard_staged(r)
                        return new_base  # another replica landed our batch
                prev = new_commit.get("live", [])
                base, commit = new_base, new_commit

    def overwrite(
        self,
        df: DataFrame,
        txn_app: str | None = None,
        txn_version: int | None = None,
        partition_by: list[str] | None = None,
        generated: dict[str, str] | None = None,
        identity: dict[str, dict] | None = None,
    ) -> int:
        """Replace the table contents. ``(txn_app, txn_version)`` makes the
        overwrite idempotent exactly like :meth:`append` — a replayed bootstrap
        batch (crash after commit, before checkpoint) is detected and skipped
        instead of relying on downstream merge clauses being coincidentally
        idempotent.

        ``partition_by`` (re)declares the partition spec — overwrite is the
        partition-evolution path. ``None`` inherits the current spec; ``[]``
        explicitly de-partitions.

        ``generated`` declares GENERATED ALWAYS AS columns (Delta's generated
        columns): ``{name: sql_expr}``. A write that omits the column gets it
        COMPUTED from the expression; a write that provides it is checked
        against the expression by an auto-registered ``gen_<name>`` CHECK
        constraint (null-safe equality), so inconsistent values fail loudly —
        exactly Delta's contract. The spec rides the log forward: later
        appends compute/validate without restating it; a generated column in
        ``partition_by`` gives derived-partition pruning (the
        date-from-timestamp pattern). ``None`` keeps the current spec, ``{}``
        explicitly drops generation (the constraints remain until dropped).

        ``identity`` declares GENERATED ALWAYS AS IDENTITY columns:
        ``{name: {"start": s, "step": k}}`` (k >= 1). Writes must OMIT the
        column (ALWAYS semantics — explicit values are refused); each write
        is assigned monotonically increasing unique values, gaps allowed,
        and the commit records the advanced allocation watermark (Delta's
        identity high-water-mark protocol). The counter survives later
        overwrites — identity counters never reset. Concurrent appends to an
        identity table abort their blind-relink retry (allocation races are
        unsound to replay); re-run to allocate from the new watermark.
        UPDATE of an identity column and MERGE insert clauses on identity
        tables are refused, Delta's restrictions."""
        base, commit = self._snapshot()
        if txn_app is not None and txn_version is not None and base >= 0:
            last = self.last_txn_version(txn_app)
            if last is not None and txn_version <= last:
                return base  # replayed batch: no-op
        spec = commit.get("partition_by") if partition_by is None and base >= 0 else partition_by
        mapped = self._mapping(commit)
        if spec and any(c in mapped for c in spec):
            # a renamed column's files carry its PHYSICAL name; partitionBy on
            # the logical name would split the write surface in two. Loud
            # rejection beats silently broken partition dirs.
            raise ValueError(
                f"cannot partition by renamed column(s) "
                f"{[c for c in spec if c in mapped]}: partition values are "
                f"directory names bound to physical columns — rename back "
                f"first, or rewrite under the physical name"
            )
        gen = (
            dict(generated)
            if generated is not None
            else dict(commit.get("generated") or {})
        )
        ident = (
            {n: dict(s) for n, s in identity.items()}
            if identity is not None
            else {n: dict(s) for n, s in (commit.get("identity") or {}).items()}
        )
        for n, s in ident.items():
            if int(s.get("step", 1)) < 1:
                raise ValueError(f"identity column {n}: step must be >= 1")
            if spec and n in spec:
                # partition values live in dir NAMES, not parquet columns —
                # footer stats would never see them and the allocation
                # watermark would silently freeze, reusing values next append
                raise ValueError(
                    f"identity column {n} cannot be a partition column "
                    f"(no footer stats to advance the allocation watermark)"
                )
        merged_constraints = dict(commit.get("constraints", {}))
        if gen:
            df = self._apply_generated(df, gen)
            merged_constraints.update(self._gen_constraints(gen))
        if ident:
            df = self._assign_identity(df, ident)
        if base >= 0 or (gen and merged_constraints):
            self._validate(merged_constraints, df)
        # Overwrite replaces every live file, so the mapping is PRUNED to the
        # new schema's logical names (dangling entries for vanished columns
        # would otherwise collide with a later add_column of the same name —
        # two logicals on one physical, every read failing) and the retired
        # set resets — no old file remains whose bytes a name-reuse could
        # resurrect. An entry is also dropped when its physical name is
        # claimed by another (identity-named) column of the new frame, which
        # would write duplicate physical fields into one parquet schema.
        new_names = set(df.columns)
        pruned = {
            logical: phys
            for logical, phys in mapped.items()
            if logical in new_names and not (phys in new_names and phys != logical)
        }
        rel = self._write_data_dir(
            df, base + 1, partition_by=spec,
            mapping=pruned if base >= 0 else None,
        )
        rels = self._staged_rels(rel, spec)
        extra: dict = {
            "schema": df.schema.json(),
            "partition_by": list(spec or []),
            "column_mapping": pruned,
            "retired_physical": [],
            # no pre-overwrite file survives, so carried deletion vectors are
            # inert — reset them (like compact) so vacuum can age the sidecars
            "dv_files": [],
        }
        if gen or generated is not None:
            extra["generated"] = gen
            extra["constraints"] = merged_constraints
        if ident or identity is not None:
            extra["identity"] = self._advance_identity(
                ident, rels, pruned if base >= 0 else None
            )
        if txn_app is not None and txn_version is not None:
            extra["txn"] = {"app": txn_app, "version": txn_version}
        return self._commit_staged("overwrite", rels, rels, extra, base, commit)

    def add_column(self, name: str, data_type: str) -> int:
        """ALTER TABLE ADD COLUMN analog (db/schema_evolution.sql:9-12): a
        log-only commit — existing files surface the new column as nulls.

        If ``name`` collides with a PHYSICAL name still present in old files
        (a renamed-away or dropped column), the new column gets a fresh
        generated physical name — old bytes can never resurface under the new
        logical column (the reason Delta's column mapping never reuses
        physical names)."""
        from pyspark.sql.types import StructField, StructType, _parse_datatype_string

        base, commit = self._snapshot()
        current = self.schema() or self.read().schema
        if name in {f.name for f in current.fields}:
            raise ValueError(f"column exists: {name}")
        evolved = StructType(
            list(current.fields)
            + [StructField(name, _parse_datatype_string(data_type), True)]
        )
        mapping = self._mapping(commit)
        phys_in_use = (
            {mapping.get(f.name, f.name) for f in current.fields}
            | set(mapping.values())
            | set(commit.get("retired_physical") or [])
        )
        extra: dict = {"schema": evolved.json(), "added_column": name}
        if name in phys_in_use:
            mapping[name] = f"col-{uuid.uuid4().hex[:8]}"
            extra["column_mapping"] = mapping
        return self._write_commit("add_column", commit["live"], extra, base, commit)

    def _check_column_unreferenced(self, commit: dict, name: str) -> None:
        """Reject log-only schema changes that would break recorded SQL state:
        CHECK constraints reference columns by name in free-form predicates."""
        for cname, pred in (commit.get("constraints") or {}).items():
            if re.search(rf"\b{re.escape(name)}\b", pred):
                raise ValueError(
                    f"column {name} is referenced by constraint {cname} "
                    f"({pred!r}); drop the constraint first"
                )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE ... RENAME COLUMN analog (db/schema_evolution.sql:30-31,
        requires delta.columnMapping.mode=name in Delta — deltalite's column
        mapping is always name-based): a LOG-ONLY commit. The field is renamed
        in the log schema and the mapping records logical ``new`` -> physical
        ``old`` (or old's prior physical), so every existing parquet file
        stays valid — readers scan physical names and project back
        (:meth:`_read_dirs`); writers translate before writing
        (:meth:`_write_data_dir`)."""
        from pyspark.sql.types import StructField, StructType

        base, commit = self._snapshot()
        current = self.schema() or self.read().schema
        names = [f.name for f in current.fields]
        if old not in names:
            raise ValueError(f"no such column: {old}")
        if new in names:
            raise ValueError(f"column exists: {new}")
        if old in (commit.get("partition_by") or []):
            raise ValueError(
                f"cannot rename partition column {old}: partition values are "
                f"directory names — rewrite via overwrite(partition_by=...)"
            )
        self._check_column_unreferenced(commit, old)
        mapping = self._mapping(commit)
        phys = mapping.pop(old, old)
        if phys != new:
            mapping[new] = phys
        else:
            mapping.pop(new, None)  # renamed back to its physical name
        evolved = StructType(
            [
                StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in current.fields
            ]
        )
        return self._write_commit(
            "rename_column",
            commit["live"],
            {
                "schema": evolved.json(),
                "column_mapping": mapping,
                "renamed_column": {"from": old, "to": new},
            },
            base,
            commit,
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE ... DROP COLUMN analog (db/schema_evolution.sql:40):
        LOG-ONLY — the column leaves the schema and the mapping; its bytes
        stay in existing files but the explicit scan schema never reads them
        (the Delta semantics: "removes the column from the schema, not from
        the underlying Parquet files"). The physical name is retired so a
        later ``add_column`` with the same name cannot resurrect old bytes."""
        from pyspark.sql.types import StructType

        base, commit = self._snapshot()
        current = self.schema() or self.read().schema
        names = [f.name for f in current.fields]
        if name not in names:
            raise ValueError(f"no such column: {name}")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        if name in (commit.get("partition_by") or []):
            raise ValueError(f"cannot drop partition column {name}")
        self._check_column_unreferenced(commit, name)
        mapping = self._mapping(commit)
        phys = mapping.pop(name, name)
        retired = list(commit.get("retired_physical") or [])
        if phys not in retired:
            retired.append(phys)
        evolved = StructType([f for f in current.fields if f.name != name])
        return self._write_commit(
            "drop_column",
            commit["live"],
            {
                "schema": evolved.json(),
                "column_mapping": mapping,
                "retired_physical": retired,
                "dropped_column": name,
            },
            base,
            commit,
        )

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF analog: re-commit an old snapshot."""
        base = self.latest_version()
        commit = self._read_commit(version)
        extra = {
            "restored_from": version,
            "partition_by": commit.get("partition_by") or [],
            "column_mapping": commit.get("column_mapping") or {},
            "retired_physical": commit.get("retired_physical") or [],
            "dv_files": commit.get("dv_files") or [],
        }
        if commit.get("schema"):
            extra["schema"] = commit["schema"]
        if commit.get("dir_stats"):
            extra["dir_stats"] = commit["dir_stats"]
        return self._write_commit("restore", commit["live"], extra, base)

    @staticmethod
    def _partition_suffix(rel: str) -> str:
        """Logical partition suffix (k=v[/k2=v2...]) of a live entry, with the
        hidden ``__zr`` zorder range-bucket component stripped — ``__zr`` is a
        physical layout detail, never a partition value."""
        return "/".join(
            p for p in Path(rel).parts if "=" in p and not p.startswith("__zr=")
        )

    def _live_bytes(self, rels: list[str]) -> int:
        """Total on-disk bytes of the given live dirs (file stat only)."""
        return sum(
            f.stat().st_size
            for rel in rels
            for f in (self._root / rel).rglob("*.parquet")
        )

    def compact(
        self,
        target_partitions: int | None = None,
        where: str | None = None,
        target_mb: int | None = None,
    ) -> int:
        """OPTIMIZE analog (db/table_maintenance.sql:28-31). For a partitioned
        table this is PARTITION-SCOPED, the only shape that survives 100 TB:
        only partitions fragmented across >1 live dir (and matching ``where``,
        a SQL predicate over the partition columns — the ``OPTIMIZE ... WHERE``
        analog) are read and rewritten; every other partition's live entry and
        logged stats carry over untouched, no IO at all. Unpartitioned tables
        keep the whole-table rewrite.

        ``target_mb`` sizes the rewrite from ACTUAL bytes instead of a fixed
        partition count: output file count = ceil(rewritten_bytes /
        target_mb) — the action behind the reference's ≥128 MB average-file
        health heuristic (db/table_maintenance.sql:121-125;
        ``maintenance.table_health`` is the matching probe)."""
        if target_mb is not None and target_partitions is not None:
            raise ValueError("pass target_partitions or target_mb, not both")
        if target_mb is not None and target_mb <= 0:
            raise ValueError(f"target_mb must be positive, got {target_mb}")
        base, commit = self._snapshot()
        spec = commit.get("partition_by")
        live = list(commit["live"])
        # legacy whole-dir entries can't be regrouped per partition: fall back
        per_partition = bool(spec) and all(
            "=" in Path(r).parts[-1] for r in live
        )
        if not per_partition:
            if where is not None:
                raise ValueError("where= requires a partitioned table")
            if target_mb is not None:
                target_partitions = max(
                    1, -(-self._live_bytes(live) // (target_mb * 1024 * 1024))
                )
            df = self.read(version=base)  # applies DVs: the rewrite MATERIALIZES them
            if target_partitions:
                df = df.coalesce(target_partitions)
            rel = self._write_data_dir(
                df, base + 1, partition_by=spec, mapping=self._mapping(commit)
            )
            rels = self._staged_rels(rel, spec)
            return self._commit_staged(
                "compact", rels, rels,
                # full rewrite: every tombstoned row is gone from the new
                # files, so the DV list resets (streaming/export re-enabled)
                {"schema": df.schema.json(), "dv_files": []},
                base, commit,
            )

        # Group live entries by their LOGICAL partition suffix (k=v[/k2=v2...],
        # the hidden ``__zr`` range-bucket component stripped — zorder splits
        # one logical partition across many physical dirs). A group is
        # fragmented when its entries span >1 data-dir WRITE: one zorder's
        # range buckets alone are a deliberate layout (compacting them would
        # only undo the clustering), but buckets plus later appends — or plain
        # multi-append fragmentation — coalesce.
        groups: dict[str, list[str]] = {}
        for r in live:
            suffix = self._partition_suffix(r)
            groups.setdefault(suffix, []).append(r)
        selected = set(groups)
        if where is not None:
            selected = self._partitions_matching(where, groups, commit)
        rewrite = {
            s
            for s in selected
            if len({rel.split("/", 2)[1] for rel in groups[s]}) > 1
        }
        if not rewrite:
            return base  # nothing fragmented: no-op, no commit
        kept = [r for s, rels in groups.items() if s not in rewrite for r in rels]
        rewrite_rels = [r for s in rewrite for r in groups[s]]
        src_dirs = [str(self._root / r) for r in rewrite_rels]
        df = self._read_dirs(
            src_dirs, commit.get("schema"), spec, commit.get("column_mapping"),
            dv_rels=commit.get("dv_files"),
        )
        if target_mb is not None:
            target_partitions = max(
                1, -(-self._live_bytes(rewrite_rels) // (target_mb * 1024 * 1024))
            )
        if target_partitions:
            df = df.coalesce(target_partitions)
        rel = self._write_data_dir(
            df, base + 1, partition_by=spec, mapping=self._mapping(commit)
        )
        rels = self._staged_rels(rel, spec)
        extra = {
            "schema": df.schema.json(),
            "compacted_partitions": len(rewrite),
            "kept_partitions": len(groups) - len(rewrite),
        }
        return self._commit_staged("compact", [*kept, *rels], rels, extra, base, commit)

    def _partitions_matching(
        self, where: str, groups: dict[str, list[str]], commit: dict
    ) -> set[str]:
        """Evaluate a SQL predicate over partition VALUES (one tiny local row
        per partition — never touches data files) and return matching suffixes."""
        spec = commit["partition_by"]
        rows = []
        for suffix in groups:
            vals = dict(p.split("=", 1) for p in suffix.split("/"))
            rows.append((suffix, *[vals.get(c) for c in spec]))
        pf = self.spark.createDataFrame(
            rows, ["__suffix", *spec]
        )
        if commit.get("schema"):
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(commit["schema"]))
            for c in spec:
                if c in schema.fieldNames():
                    pf = pf.withColumn(c, F.col(c).cast(schema[c].dataType))
        return {r["__suffix"] for r in pf.filter(where).select("__suffix").collect()}

    _Z_BITS = 8  # per-key resolution of the z-curve (256 buckets per key)

    def _zvalue_expr(self, src: DataFrame, cols: list[str]):
        """Bit-interleaved z-value column for 2+ NUMERIC cluster keys, or
        ``None`` when a z-curve doesn't apply (single key / non-numeric).

        Each key is mapped to a ``_Z_BITS``-bit bucket by equal-width
        min/max scaling (bounds from one tiny aggregate — the same
        metadata-bounded driver read as IVF centroids; equal-DEPTH cutpoints
        via approxQuantile are the upgrade for heavily skewed keys), then the
        bucket bits interleave: bit i of key j lands at position
        ``i * n_keys + j``. Range-partitioning this value gives every output
        dir a bounded range in EVERY key — which is the entire point of
        Z-ordering over lexicographic sort."""
        from pyspark.sql.types import NumericType

        if len(cols) < 2:
            return None
        types = dict((f.name, f.dataType) for f in src.schema.fields)
        if not all(isinstance(types.get(c), NumericType) for c in cols):
            return None
        bounds = src.agg(
            *[F.min(c).alias(f"lo_{i}") for i, c in enumerate(cols)],
            *[F.max(c).alias(f"hi_{i}") for i, c in enumerate(cols)],
        ).first()
        # Spark's shiftleft wraps its shift amount mod 64: with many keys a
        # fixed per-key resolution would fold high-order bits back onto low
        # positions and quietly degrade the curve. Shrink per-key bits so the
        # interleaved value always fits 63 bits (sign bit untouched).
        bits = min(self._Z_BITS, 63 // len(cols))
        if bits < 1:
            return None  # >63 keys: lexicographic range path is better anyway
        n_b = (1 << bits) - 1
        z = F.lit(0).cast("long")
        for j, c in enumerate(cols):
            lo = float(bounds[f"lo_{j}"] or 0)
            hi = float(bounds[f"hi_{j}"] or 0)
            if hi <= lo:
                continue  # constant key contributes nothing to the curve
            bucket = F.least(
                F.lit(n_b),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col(c).cast("double") - lo) * (n_b + 1) / (hi - lo)
                    ).cast("int"),
                ),
            )
            bucket64 = bucket.cast("long")  # int shiftleft wraps at bit 31:
            # 4+ keys put bits at positions >= 31, so shift in 64-bit space
            for i in range(bits):
                z = z + F.shiftleft(
                    F.shiftright(bucket64, i).bitwiseAND(F.lit(1).cast("long")),
                    i * len(cols) + j,
                )
        return z

    def zorder_by(
        self,
        *cols: str,
        target_partitions: int | None = None,
        where: str | None = None,
    ) -> int:
        """OPTIMIZE ... ZORDER BY analog: range-cluster the live set on ``cols``.
        Each range bucket is published as its OWN data dir (a hidden ``__zr``
        physical partition, stripped from reads by the log schema), so the
        write-time per-dir stats become selective for the cluster keys — and a
        later ``merge(prune_on=key)`` skips every non-overlapping range dir
        from the log alone. This closes the Delta data-skipping loop: ZORDER a
        current-state table by its merge key and CDC merges rewrite only the
        key ranges a batch touches.
        ``where`` (SQL over the partition columns) scopes the rewrite to matching
        partitions of a partitioned table — non-matching partitions' live entries
        and logged stats carry over with zero IO, the only workable shape when a
        100 TB table needs one hot partition re-clustered."""
        base, commit = self._snapshot()
        spec = commit.get("partition_by")
        live = list(commit["live"])
        kept: list[str] = []
        src = self.read(version=base)
        extra: dict = {"zorder_cols": list(cols)}
        if where is not None:
            if not spec or not all("=" in Path(r).parts[-1] for r in live):
                raise ValueError("where= requires a partitioned table")
            groups: dict[str, list[str]] = {}
            for r in live:
                suffix = self._partition_suffix(r)
                groups.setdefault(suffix, []).append(r)
            selected = self._partitions_matching(where, groups, commit)
            if not selected:
                return base  # nothing matches: no-op
            kept = [r for s, rels in groups.items() if s not in selected for r in rels]
            src = self._read_dirs(
                [str(self._root / r) for s in selected for r in groups[s]],
                commit.get("schema"),
                spec,
                commit.get("column_mapping"),
                dv_rels=commit.get("dv_files"),
            )
            extra["zordered_partitions"] = len(selected)
        zv = self._zvalue_expr(src, list(cols))
        if zv is not None:
            # TRUE Z-curve for 2+ numeric keys: range-cluster on the
            # bit-interleaved z-value, so every published dir has a BOUNDED
            # range in EVERY key — scans/merges prune on any of them. Plain
            # lexicographic range order would leave the 2nd..nth keys
            # scattered across all dirs (zero pruning power).
            df = (
                src.withColumn("__zv", zv)
                .repartitionByRange(target_partitions or 8, "__zv")
                .drop("__zv")
                .withColumn("__zr", F.spark_partition_id())
            )
            extra["zorder_curve"] = "bit-interleaved"
        else:
            # single key, or non-numeric keys: linear range order IS optimal
            df = src.repartitionByRange(target_partitions or 8, *cols).withColumn(
                "__zr", F.spark_partition_id()
            )
        phys_spec = [*(spec or []), "__zr"]
        rel = self._write_data_dir(
            df, base + 1, partition_by=phys_spec, mapping=self._mapping(commit)
        )
        rels = self._staged_rels(rel, phys_spec)
        # the log schema omits __zr, so reads never surface it
        extra["schema"] = src.schema.json()
        if not kept:  # full rewrite materializes every deletion vector
            extra["dv_files"] = []
        return self._commit_staged(
            "zorder", [*kept, *rels], rels, extra, base, commit, stats_cols=tuple(cols)
        )

    def cleanup_log(
        self,
        retain_last: int = 50,
        retain_hours: float | None = None,
        dry_run: bool = False,
    ) -> list[str]:
        """Log retention (Delta's ``delta.logRetentionDuration`` metadata
        cleanup): prune commit docs and checkpoints older than the newest
        checkpoint that still leaves the last ``retain_last`` versions —
        and, when ``retain_hours`` is given, every commit younger than that
        window (both constraints apply, Delta's duration semantics keyed the
        same way :meth:`vacuum` keys data retention) — intact. The boundary
        checkpoint stays, so every retained version reconstructs exactly as
        before; time travel, ``read_changes``, CDF streams, and
        Delta-history export BELOW the boundary raise loudly instead of
        answering wrong. No-op (returns ``[]``) when no checkpoint is old
        enough. Data files are vacuum's business, not this method's — run
        :meth:`vacuum` for those."""
        cutoff = self.latest_version() - retain_last
        cvs = txlog.checkpoint_versions(self._log_dir)
        eligible = [c for c in cvs if c <= cutoff]
        if retain_hours is not None:
            wall_cutoff = time.time() - retain_hours * 3600
            # a checkpoint qualifies only once every pruned-away commit
            # (everything below it) is older than the window; its own doc's
            # timestamp upper-bounds them all
            eligible = [
                c
                for c in eligible
                if float(self._raw_commit(c)["timestamp"]) <= wall_cutoff
            ]
        keep_from = max(eligible, default=None)
        oldest = self._versions()[0]
        if keep_from is None or keep_from <= oldest:
            return []
        return txlog.cleanup(self._log_dir, keep_from, dry_run=dry_run)

    def _oldest_retained(self) -> int:
        """Oldest version from which history is CONTIGUOUSLY replayable: the
        start of the log's contiguous suffix. Normally ``versions[0]`` (0
        unless :meth:`cleanup_log` pruned history) — but a reader racing a
        cleanup mid-deletion (docs removed newest-first) can observe a
        genesis prefix ``{0..j}`` plus the retained suffix; treating vs[0]=0
        as 'nothing pruned' there would let change feeds silently compute
        diffs ACROSS the gap. The suffix start is what every retention guard
        must key on."""
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"not a deltalite table: {self.path}")
        return txlog.contiguous_suffix_start(vs)

    def vacuum(self, retain_hours: float = 168.0, dry_run: bool = False) -> list[str]:
        """Delete data dirs not referenced by any commit within the retention window
        nor by the latest snapshot (VACUUM ... RETAIN n HOURS [DRY RUN] analog)."""
        cutoff = time.time() - retain_hours * 3600
        # ONE linear replay collects every retained version's live dirs, DV
        # sidecars, and change-data dirs — per-version reconstruction here
        # would be quadratic in history length
        latest = self.latest_version()
        referenced: set[str] = set()
        referenced_dv: set[str] = set()
        referenced_cdc: set[str] = set()
        for v, state, _doc in txlog.replay_states(self._log_dir):
            if state["timestamp"] >= cutoff or v == latest:
                referenced.update(state["live"])
                referenced_dv.update(state.get("dv_files") or [])
                referenced_cdc.update(state.get("cdc_dirs") or [])
        data_root = self._root / "data"
        dead: list[str] = []
        if data_root.exists():
            for p in sorted(data_root.iterdir()):
                if not p.is_dir():
                    continue
                top_rel = f"data/{p.name}"
                if top_rel in referenced:
                    continue
                prefix = top_rel + "/"
                if not any(r.startswith(prefix) for r in referenced):
                    dead.append(top_rel)
                    continue
                # per-partition-dir live entries: some partition dirs under
                # this write are still referenced — delete only the dead ones
                for sub in sorted(d for d in p.rglob("*") if d.is_dir()):
                    rel = f"data/{sub.relative_to(data_root)}"
                    if rel in referenced or any(
                        r.startswith(rel + "/") for r in referenced
                    ):
                        continue
                    if any(rel.startswith(dr + "/") for dr in dead):
                        continue  # an ancestor is already being deleted
                    dead.append(rel)
        # abandoned staging dirs (writer crashed pre-commit / lost OCC without
        # cleanup) age out with the same retention window, keyed on mtime —
        # but never one backing a committed-yet-unpublished version
        staging_root = self._root / "_staging"
        if staging_root.exists():
            referenced_tops = {
                r.removeprefix("data/").split("/", 1)[0]
                for r in referenced
                if r.startswith("data/")
            }
            dead += [
                f"_staging/{p.name}"
                for p in sorted(staging_root.iterdir())
                if p.is_dir()
                and p.stat().st_mtime < cutoff
                and p.name not in referenced_tops
            ]
        # deletion-vector sidecars: referenced by dv_files of retained
        # commits; anything else (superseded by compact, or an orphan from a
        # lost commit race) ages out with the same retention window
        dv_root = self._root / "_dv"
        if dv_root.exists():
            dead += [
                f"_dv/{p.name}"
                for p in sorted(dv_root.iterdir())
                if p.is_dir()
                and p.stat().st_mtime < cutoff
                and f"_dv/{p.name}" not in referenced_dv
            ]
        # change-data files (CDF materialization): referenced by cdc_dirs of
        # retained commits; older feed windows age out with the same retention
        # — Delta's vacuum treats _change_data the same way
        cdc_root = self._root / "_change_data"
        if cdc_root.exists():
            dead += [
                f"_change_data/{p.name}"
                for p in sorted(cdc_root.iterdir())
                if p.is_dir()
                and p.stat().st_mtime < cutoff
                and f"_change_data/{p.name}" not in referenced_cdc
            ]
        if not dry_run:
            for rel in dead:
                shutil.rmtree(self._root / rel, ignore_errors=True)
        return dead

    def _dv_overlap(self, dv_rels: list[str], touched: set[str]) -> str | None:
        """Conflict probe: do these DV sidecars tombstone into any of the
        ``touched`` data dirs? Returns the overlapping dir rel, or the raw
        path when it cannot be mapped to this table at all (FAIL CLOSED: a
        correctness guard that can't classify a path must report conflict,
        never 'no overlap'), or None when provably disjoint. Each sidecar's
        ``file_path`` values map to the file's PARENT dir relative to the
        table root — the partition-LEAF rel for partitioned tables, exactly
        the shape ``live``/``touched`` entries use. Driver-side pyarrow read
        of the (tiny) sidecars only."""
        import pyarrow.parquet as pq

        # Spark records _metadata.file_path under the path it was GIVEN, so
        # accept both the non-resolved absolute root and the symlink-resolved
        # one (e.g. a table reached through a symlinked volume).
        roots = {str(Path(os.path.abspath(self._root))), str(self._root.resolve())}
        for rel in dv_rels:
            for f in sorted((self._root / rel).rglob("*.parquet")):
                col = pq.read_table(str(f), columns=["file_path"])["file_path"]
                for fp in set(col.to_pylist()):
                    # recorded paths are java.net.URI-quoted (space -> %20):
                    # decode before comparing against raw filesystem roots,
                    # else every path is 'unmappable' and the fail-closed
                    # branch degrades retries to always-refuse
                    p = urllib.parse.unquote(
                        re.sub(r"^[a-z][a-zA-Z0-9+.-]*:/+", "/", fp)
                    )
                    d = None
                    for root in roots:
                        if p.startswith(root):
                            d = str(Path(p[len(root):].lstrip("/")).parent)
                            break
                    if d is None:
                        return fp  # unmappable: fail closed
                    if d in touched:
                        return d
        return None

    # Interleaved operations a DML retry can tolerate (subject to the
    # file-overlap checks): data-changing commits whose effect on OTHER
    # files composes with ours, plus metadata-neutral bookkeeping. Anything
    # else (overwrite, restore, schema DDL, set_cdf, clone...) invalidates
    # the premise that re-linking our staged result is equivalent to a
    # serial re-run.
    _DML_COMPATIBLE_OPS = frozenset({
        "append", "identity_reserve", "refresh", "analyze",
        "delete", "update", "merge", "compact", "zorder",
    })

    def _dml_conflict_reason(
        self,
        base: int,
        base_commit: dict,
        new_base: int,
        new_commit: dict,
        touched: set[str],
    ) -> str | None:
        """Delta WriteSerializable conflict detection for a DML retry: None
        when every commit in ``(base, new_base]`` is file-level DISJOINT
        from ``touched`` (the dirs this DML read and/or replaced) and no
        carried metadata this DML depends on changed; else the reason to
        abort. Mirrors Delta's ConflictChecker: concurrent blind appends are
        always fine (our predicate simply doesn't see the new rows — the
        WriteSerializable history), concurrent DML/compaction is fine iff it
        rewrote/removed/tombstoned only files we didn't touch."""
        for key in ("constraints", "column_mapping", "partition_by",
                    "cdf", "generated", "identity"):
            if new_commit.get(key) != base_commit.get(key):
                return f"carried {key} changed concurrently"
        if self._dml_schema_conflict(base_commit, new_commit):
            return "carried schema changed concurrently"
        for v in range(base + 1, new_base + 1):
            doc = self._raw_commit(v)
            op = doc.get("operation")
            if "live" in doc:
                return f"snapshot-style commit at version {v}"
            if op not in self._DML_COMPATIBLE_OPS:
                return f"interleaved {op} commit at version {v}"
            overlap = set(doc.get("remove") or []) & touched
            if overlap:
                return (
                    f"version {v} ({op}) rewrote shared file "
                    f"{sorted(overlap)[0]}"
                )
            if "dv_files" in doc:
                # rival tombstones into a dir we read would be buried by our
                # rewrite (cow) or double-attributed (dv) — overlap = conflict
                prev_dv = set(
                    txlog.state_at(self._log_dir, v - 1).get("dv_files") or []
                )
                new_dvs = [r for r in doc["dv_files"] if r not in prev_dv]
                hit = self._dv_overlap(new_dvs, touched) if new_dvs else None
                if hit is not None:
                    return (
                        f"version {v} ({op}) tombstoned into shared file "
                        f"{hit}"
                    )
        return None

    @staticmethod
    def _dml_schema_conflict(base_commit: dict, new_commit: dict) -> bool:
        """Whether an interleaved commit's carried schema invalidates a DML's
        staged rewrite. Compared SEMANTICALLY, not as JSON text: rival DML
        re-records the schema with its output's nullability, which is
        equivalent layout-wise. Conflict = fields/types/order changed, or
        nullability got STRICTER (staged rows might hold nulls a new
        non-nullable field forbids); pure relaxation composes."""
        a, b = base_commit.get("schema"), new_commit.get("schema")
        if a == b:
            return False
        if a is None or b is None:
            return True
        from pyspark.sql.types import StructType

        sa = StructType.fromJson(json.loads(a))
        sb = StructType.fromJson(json.loads(b))
        if [(f.name, f.dataType) for f in sa.fields] != [
            (f.name, f.dataType) for f in sb.fields
        ]:
            return True
        return any(
            fa.nullable and not fb.nullable
            for fa, fb in zip(sa.fields, sb.fields)
        )

    @staticmethod
    def _dml_retries() -> int:
        """Conflict-retry budget for DELETE/UPDATE/MERGE under concurrent
        writers (Delta's WriteSerializable re-resolution). 0 restores the
        pre-r8 always-refuse behavior."""
        try:
            from pyspark_cdc_engine.config import get_config

            return get_config().get_int("engine.dml-conflict-retries", 3)
        except Exception:
            return 3

    def _dml_conflict_retry(
        self,
        op: str,
        attempt_commit,
        rebase,
        base: int,
        commit: dict,
        touched: set[str],
        staged: list[str],
        txn_app: str | None,
        txn_version: int | None,
    ) -> int:
        """THE WriteSerializable retry loop, shared by every DML commit path
        (cow delete/update via _dml_rewrite, DV delete/update, cow merge) so
        the conflict contract cannot drift between them.

        ``attempt_commit(base, commit, keep_staged)`` performs one commit
        attempt against the given snapshot and may raise
        ConcurrentWriteError; ``rebase(new_commit)`` updates the caller's
        closure state (kept list, carried schema, DV list) before a retry.
        On an idempotent-replay hit (another replica landed our txn) or an
        abandoned retry, ``staged`` dirs are discarded."""
        retries = self._dml_retries()
        attempt = 0
        while True:
            try:
                return attempt_commit(base, commit, attempt < retries)
            except ConcurrentWriteError:
                if attempt >= retries:
                    raise
                attempt += 1
                new_base, new_commit = self._snapshot()
                if txn_app is not None and txn_version is not None:
                    last = self.last_txn_version(txn_app)
                    if last is not None and txn_version <= last:
                        for r in staged:
                            self._discard_staged(r)
                        return new_base  # another replica landed our batch
                reason = self._dml_conflict_reason(
                    base, commit, new_base, new_commit, touched
                )
                if reason is not None:
                    for r in staged:
                        self._discard_staged(r)
                    raise ConcurrentWriteError(
                        f"{op} retry abandoned at version {new_base}: {reason}"
                    ) from None
                rebase(new_commit)
                base, commit = new_base, new_commit

    def _dml_rewrite(
        self,
        op: str,
        transform,
        op_extra: dict,
        prune_bounds: dict[str, tuple] | None,
        txn_app: str | None,
        txn_version: int | None,
        validate: bool = False,
        change_rows=None,
    ) -> int:
        """Shared DML scaffolding for :meth:`delete` / :meth:`update`: txn
        replay guard, snapshot, stats-based dir split, read of the rewrite
        set, ``transform`` over it, staged write + commit with carried stats.
        Keeping this in ONE place means the replay guard, the all-pruned
        early return, and the ``stats_cols`` wiring cannot drift between the
        two operations. ``change_rows`` (df -> change frame with a
        ``__change_type`` column) materializes the commit's change-data files
        when the table has CDF enabled (:meth:`enable_cdf`)."""
        if txn_app is not None and txn_version is not None:
            last = self.last_txn_version(txn_app)
            if last is not None and txn_version <= last:
                return self.latest_version()
        base, commit = self._snapshot()
        self._ensure_published(commit)
        live, kept = self._split_by_bounds(commit, prune_bounds)
        if not live:  # every dir pruned: nothing can match
            return base
        df = self._read_dirs(
            [str(self._root / d) for d in live],
            commit.get("schema"),
            commit.get("partition_by"),
            commit.get("column_mapping"),
            dv_rels=commit.get("dv_files"),  # tombstoned rows must not revive
        )
        out = transform(df)
        if validate:
            self._validate(commit.get("constraints", {}), out)
        rel = self._write_data_dir(
            out, base + 1,
            partition_by=commit.get("partition_by"),
            mapping=self._mapping(commit),
        )
        rels = self._staged_rels(rel, commit.get("partition_by"))
        extra: dict = {
            **op_extra,
            "schema": commit.get("schema") or out.schema.json(),
        }
        staged = list(rels)
        if change_rows is not None and commit.get("cdf"):
            cdc_rel = self._stage_cdc_dir(
                change_rows(df), base + 1, self._mapping(commit)
            )
            extra["cdc_dirs"] = [cdc_rel]
            staged.append(cdc_rel)
        if kept:
            extra["pruned_dirs_kept"] = len(kept)
        if txn_app is not None and txn_version is not None:
            extra["txn"] = {"app": txn_app, "version": txn_version}
        # WriteSerializable conflict re-resolution (Delta's OCC shape, the
        # r7 verdict ask): losing the version race aborts only when an
        # interleaved commit actually touched the dirs this DML read —
        # disjoint-file concurrent DML re-links the SAME staged rewrite
        # against the new snapshot. `touched` is the read+replace set; kept
        # (stats-pruned) dirs were never read, so rivals may do anything to
        # them.
        touched = set(live)
        state = {"kept": kept}

        def _attempt(b: int, c: dict, keep_staged: bool) -> int:
            return self._commit_staged(
                op, [*state["kept"], *rels], staged, extra, b, c,
                stats_cols=tuple(prune_bounds or ()),
                keep_staged_on_conflict=keep_staged,
            )

        def _rebase(new_commit: dict) -> None:
            state["kept"] = [
                d for d in new_commit["live"] if d not in touched
            ]
            if "pruned_dirs_kept" in extra:
                extra["pruned_dirs_kept"] = len(state["kept"])
            if new_commit.get("schema"):
                # the conflict check only admits semantically-equal or
                # RELAXED rival schemas; re-record the relaxed one — the
                # kept dirs now include rival rows its nullability covers
                extra["schema"] = new_commit["schema"]

        return self._dml_conflict_retry(
            op, _attempt, _rebase, base, commit, touched, staged,
            txn_app, txn_version,
        )

    def delete(
        self,
        where: str,
        prune_bounds: dict[str, tuple] | None = None,
        txn_app: str | None = None,
        txn_version: int | None = None,
        mode: str = "cow",
    ) -> int:
        """DELETE FROM ... WHERE analog (Delta's targeted delete).

        ``mode="cow"`` (default): copy-on-write of only the data dirs that
        COULD hold matching rows. ``mode="dv"``: DELETION VECTORS — Delta's
        merge-on-read delete. No data file is rewritten at all: the matched
        rows' (file, row_index) positions are written as a tombstone sidecar
        under ``_dv/`` and every reader anti-joins them out. THE 100 TB
        shape for selective deletes (GDPR erasure, spot corrections): a
        1-row delete from a 1 GB file costs one tiny parquet write instead
        of a 1 GB rewrite; ``compact()`` later materializes tombstones away.

        ``prune_bounds`` maps column -> (lo, hi) covering every row the
        predicate can match (the caller's promise, same contract as
        ``scan(key_bounds=...)``); any live dir whose logged write-time
        [min, max] cannot intersect is kept verbatim — never listed, read,
        or rewritten (cow) / never scanned for tombstones (dv). Sound for
        ANY ``where`` because kept dirs contain no matching rows by the
        bounds promise, and unmatched rows pass through a delete unchanged.
        Without bounds, every dir is processed (the whole-table delete).
        Rows where the predicate is NULL are KEPT (SQL delete semantics).
        ``(txn_app, txn_version)`` makes the delete idempotent under replay,
        like append/merge. Either mode is a non-append commit, so
        incremental consumers fall back to a rebuild; :meth:`read_changes`
        reconstructs the removed rows exactly in both modes."""
        if mode == "dv":
            return self._dv_delete(where, prune_bounds, txn_app, txn_version)
        if mode != "cow":
            raise ValueError(f"delete mode must be cow|dv, got {mode!r}")
        return self._dml_rewrite(
            "delete",
            lambda df: df.filter(f"NOT ({where}) OR ({where}) IS NULL"),
            {"delete_where": where},
            prune_bounds,
            txn_app,
            txn_version,
            change_rows=lambda df: df.filter(where).withColumn(
                "__change_type", F.lit("delete")
            ),
        )

    def _dv_delete(
        self,
        where: str,
        prune_bounds: dict[str, tuple] | None,
        txn_app: str | None,
        txn_version: int | None,
    ) -> int:
        """Merge-on-read delete (see :meth:`delete` mode="dv"): tombstone the
        matched row positions, touch no data file. Already-tombstoned rows
        are excluded from the scan (prior DVs apply), so a row is tombstoned
        at most once and the change feed can attribute each deleted row to
        exactly one commit."""
        if txn_app is not None and txn_version is not None:
            last = self.last_txn_version(txn_app)
            if last is not None and txn_version <= last:
                return self.latest_version()
        base, commit = self._snapshot()
        self._ensure_published(commit)
        live, _kept = self._split_by_bounds(commit, prune_bounds)
        prior = list(commit.get("dv_files") or [])
        extra: dict = {"delete_where": where, "dv_delete": True}
        if commit.get("schema"):
            extra["schema"] = commit["schema"]
        if txn_app is not None and txn_version is not None:
            extra["txn"] = {"app": txn_app, "version": txn_version}
        if not live:  # every dir stats-pruned: nothing can match
            return self._write_commit("delete", commit["live"], extra, base, commit)
        matched = (
            self._read_dirs(
                [str(self._root / d) for d in live],
                commit.get("schema"),
                commit.get("partition_by"),
                commit.get("column_mapping"),
                dv_rels=prior,
                keep_pos=True,
            )
            .filter(where)
            .select(
                F.col("__fp").alias("file_path"), F.col("__ri").alias("row_index")
            )
        )
        rel = self._write_dv_sidecar(matched, base + 1)
        extra["dv_rows_added"] = self._dv_rows([rel])
        # conflict re-resolution (shared _dml_conflict_retry contract): our
        # tombstones stay valid as long as no interleaved commit rewrote or
        # tombstoned into the dirs we scanned; the DV list and carried
        # schema rebase onto the new snapshot. A lost sidecar is inert
        # (never referenced), so nothing to discard on abort.

        def _attempt(b: int, c: dict, _keep: bool) -> int:
            extra["dv_files"] = [*(c.get("dv_files") or []), rel]
            return self._write_commit("delete", c["live"], extra, b, c)

        def _rebase(new_commit: dict) -> None:
            if new_commit.get("schema"):
                extra["schema"] = new_commit["schema"]

        return self._dml_conflict_retry(
            "delete", _attempt, _rebase, base, commit, set(live), [],
            txn_app, txn_version,
        )

    def _write_dv_sidecar(self, tombstones: DataFrame, version_hint: int) -> str:
        """Write a (file_path, row_index) tombstone parquet under ``_dv/`` and
        return its table-relative path. Written directly (not staged): an
        orphan DV dir from a lost commit race is never referenced by any
        commit, so it is inert — and vacuum ages it out."""
        rel = f"_dv/{version_hint:010d}-{uuid.uuid4().hex[:8]}"
        tombstones.write.mode("overwrite").parquet(str(self._root / rel))
        return rel

    def _dv_rows(self, dv_rels: list[str]) -> int:
        """Total tombstones across DV sidecars — parquet FOOTER metadata only,
        no data read (the health probe and commit stats both use this)."""
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover
            return -1
        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for rel in dv_rels
            for f in sorted((self._root / rel).rglob("*.parquet"))
        )

    def _dv_update(
        self,
        set: dict[str, str],
        where: str,
        prune_bounds: dict[str, tuple] | None,
        txn_app: str | None,
        txn_version: int | None,
    ) -> int:
        """Merge-on-read UPDATE (see :meth:`update` mode="dv"): tombstone the
        matched rows' positions AND append their updated images as a new data
        dir, in one commit — the Delta DV update shape. Unmatched rows in a
        10 GB file are never rewritten; the cost is proportional to the
        MATCHED row count, not the touched-file bytes."""
        if txn_app is not None and txn_version is not None:
            last = self.last_txn_version(txn_app)
            if last is not None and txn_version <= last:
                return self.latest_version()
        base, commit = self._snapshot()
        self._ensure_published(commit)
        live, _kept = self._split_by_bounds(commit, prune_bounds)
        prior = list(commit.get("dv_files") or [])
        extra: dict = {
            "update_where": where,
            "update_set": dict(set),
            "dv_update": True,
        }
        if commit.get("schema"):
            extra["schema"] = commit["schema"]
        if txn_app is not None and txn_version is not None:
            extra["txn"] = {"app": txn_app, "version": txn_version}
        if not live:  # every dir stats-pruned: nothing can match
            return self._write_commit("update", commit["live"], extra, base, commit)
        matched = self._read_dirs(
            [str(self._root / d) for d in live],
            commit.get("schema"),
            commit.get("partition_by"),
            commit.get("column_mapping"),
            dv_rels=prior,
            keep_pos=True,
        ).filter(where)
        dv_rel = self._write_dv_sidecar(
            matched.select(
                F.col("__fp").alias("file_path"), F.col("__ri").alias("row_index")
            ),
            base + 1,
        )
        data_cols = [c for c in matched.columns if c not in ("__fp", "__ri")]
        post = matched.select(
            *[
                F.expr(set[c]).cast(matched.schema[c].dataType).alias(c)
                if c in set
                else F.col(c)
                for c in data_cols
            ]
        )
        self._validate(commit.get("constraints", {}), post)
        rel = self._write_data_dir(
            post, base + 1,
            partition_by=commit.get("partition_by"),
            mapping=self._mapping(commit),
        )
        rels = self._staged_rels(rel, commit.get("partition_by"))
        extra["dv_rows_added"] = self._dv_rows([dv_rel])

        # same shared conflict re-resolution as _dv_delete; the post-image
        # data dir is staged, so it survives retries and discards on abort.
        # ({*live} literal: this method's SET-clause param shadows built-in
        # set)
        def _attempt(b: int, c: dict, keep_staged: bool) -> int:
            extra["dv_files"] = [*(c.get("dv_files") or []), dv_rel]
            return self._commit_staged(
                "update", [*c["live"], *rels], rels, extra, b, c,
                stats_cols=tuple(prune_bounds or ()),
                keep_staged_on_conflict=keep_staged,
            )

        def _rebase(new_commit: dict) -> None:
            if new_commit.get("schema"):
                extra["schema"] = new_commit["schema"]

        return self._dml_conflict_retry(
            "update", _attempt, _rebase, base, commit, {*live}, rels,
            txn_app, txn_version,
        )

    def update(
        self,
        set: dict[str, str],
        where: str,
        prune_bounds: dict[str, tuple] | None = None,
        txn_app: str | None = None,
        txn_version: int | None = None,
        mode: str = "cow",
    ) -> int:
        """UPDATE ... SET ... WHERE analog — by default the same stats-pruned
        copy-on-write as :meth:`delete`: only dirs whose logged key ranges
        can hold matching rows are rewritten; in them, rows where ``where``
        is TRUE get the ``set`` expressions (SQL over the row's columns)
        applied — CAST to the column's existing type, Delta semantics, so a
        widening expression can't write files the logged schema cannot read
        — and every other row passes through byte-identical. CHECK
        constraints validate the rewrite. Replay-idempotent via
        ``(txn_app, txn_version)``. Completes the Delta DML triad
        (UPDATE / DELETE / MERGE) on deltalite.

        ``mode="dv"``: merge-on-read — tombstone the matched positions and
        append only the updated images (one commit); cost scales with the
        MATCHED rows, not the touched-file bytes (see :meth:`_dv_update`)."""
        if self.exists():
            clash = sorted(set.keys() & self.identity_columns().keys())
            if clash:
                raise ValueError(
                    f"cannot UPDATE identity column(s) {clash} (GENERATED "
                    f"ALWAYS AS IDENTITY — Delta's restriction)"
                )
        if mode == "dv":
            return self._dv_update(set, where, prune_bounds, txn_app, txn_version)
        if mode != "cow":
            raise ValueError(f"update mode must be cow|dv, got {mode!r}")

        # GENERATED ALWAYS AS columns absent from SET are RECOMPUTED from the
        # updated row (Delta's UPDATE semantics) — without this, updating an
        # input of a generated column leaves a stale value that then fails
        # the auto-registered gen_ CHECK and refuses the whole update. Safe
        # to apply over unmatched rows too: their inputs are unchanged, so
        # the expression reproduces the existing value (the gen_ CHECK
        # guarantees it holds).
        regen = {
            c: expr
            for c, expr in (
                self.generated_columns() if self.exists() else {}
            ).items()
            if c not in set
        }

        def _regen(df: DataFrame) -> DataFrame:
            if not regen:
                return df
            return df.select(
                *[
                    F.expr(regen[c]).cast(df.schema[c].dataType).alias(c)
                    if c in regen
                    else F.col(c)
                    for c in df.columns
                ]
            )

        def _apply(df: DataFrame) -> DataFrame:
            cond = F.expr(where)
            return _regen(
                df.select(
                    *[
                        F.when(cond, F.expr(set[c]).cast(df.schema[c].dataType))
                        .otherwise(F.col(c))
                        .alias(c)
                        if c in set
                        else F.col(c)
                        for c in df.columns
                    ]
                )
            )

        def _changes(df: DataFrame) -> DataFrame:
            matched = df.filter(where)
            pre = matched.withColumn("__change_type", F.lit("update_preimage"))
            post = _regen(
                matched.select(
                    *[
                        F.expr(set[c]).cast(matched.schema[c].dataType).alias(c)
                        if c in set
                        else F.col(c)
                        for c in matched.columns
                    ]
                )
            ).withColumn("__change_type", F.lit("update_postimage"))
            return pre.unionByName(post)

        return self._dml_rewrite(
            "update",
            _apply,
            {"update_where": where, "update_set": dict(set)},
            prune_bounds,
            txn_app,
            txn_version,
            validate=True,
            change_rows=_changes,
        )

    def _split_by_bounds(
        self, commit: dict, prune_bounds: dict[str, tuple] | None
    ) -> tuple[list[str], list[str]]:
        """(rewrite, kept) partition of the live dirs by stats disjointness."""
        live = list(commit["live"])
        if not prune_bounds:
            return live, []
        rewrite, kept = [], []
        for d in live:
            disjoint = False
            for col, (lo, hi) in prune_bounds.items():
                bounds = self._dir_key_bounds(d, col, commit)
                try:
                    if bounds is not None and (
                        (hi is not None and bounds[0] > hi)
                        or (lo is not None and bounds[1] < lo)
                    ):
                        disjoint = True
                        break
                except TypeError:
                    pass
            (kept if disjoint else rewrite).append(d)
        return rewrite, kept

    def restore_to_timestamp(self, ts: float) -> int:
        """RESTORE TABLE ... TO TIMESTAMP AS OF analog: restore the last
        version committed at or before ``ts``."""
        return self.restore(self._version_at_or_before(ts))

    # ----------------------------------------------------------------- merge
    def _dir_key_bounds(self, rel: str, key: str, commit: dict | None = None):
        """(min, max) of ``key`` across a data dir — from, in order: the
        ``key=value`` component of the dir's own path (partition-dir entries),
        write-time stats recorded in the commit log (no file opened at all),
        dir-name listing for partition columns, then parquet FOOTER stats as
        the legacy fallback (metadata-only; pre-stats commits). ``key`` is a
        LOGICAL name; stats/footers/dirs carry physical names, so the commit's
        column mapping translates first."""
        key = self._mapping(commit).get(key, key)
        root = self._root / rel
        # a per-partition-dir live entry: its own path pins the key exactly
        for comp in Path(rel).parts:
            if comp.startswith(f"{key}="):
                v = comp.split("=", 1)[1]
                if re.search(r"[^A-Za-z0-9_.-]", v):
                    break  # URL-escaped value: fall through to other sources
                try:
                    return int(v), int(v)
                except ValueError:
                    return v, v
        logged = (commit or {}).get("dir_stats", {}).get(rel, {}).get(key)
        if logged is not None:
            return logged[0], logged[1]
        # partition column: its values are dir names, not footer stats
        part_dirs = sorted(root.glob(f"{key}=*"))
        if part_dirs:
            def parse(v: str):
                try:
                    return int(v)
                except ValueError:
                    return v
            raw = [p.name.split("=", 1)[1] for p in part_dirs]
            if any(re.search(r"[^A-Za-z0-9_.-]", v) for v in raw):
                return None  # URL-escaped values: dir-name order is unreliable
            vals = [parse(v) for v in raw]
            if len({type(v) for v in vals}) != 1:
                return None
            return min(vals), max(vals)
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover
            return None
        lo = hi = None
        for f in sorted(root.rglob("*.parquet")):
            md = pq.ParquetFile(f).metadata
            schema_names = {md.row_group(0).column(i).path_in_schema: i
                            for i in range(md.num_columns)} if md.num_row_groups else {}
            if key not in schema_names:
                return None
            ci = schema_names[key]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        return None if lo is None else (lo, hi)

    def _prune_merge_scan(
        self, source: DataFrame, prune_on: str | None, commit: dict
    ) -> tuple[list[str], list[str]]:
        """(scan, kept) live dirs for a merge: dirs whose ``prune_on`` stats
        cannot overlap the source's key range are kept unread. The min/max
        job runs only when there is more than one dir to choose from."""
        live = list(commit["live"])
        if prune_on is None or len(live) < 2:
            return live, []
        b = source.agg(
            F.min(prune_on).alias("lo"), F.max(prune_on).alias("hi")
        ).first()
        if b.lo is None:
            return live, []
        return self._split_by_bounds(commit, {prune_on: (b.lo, b.hi)})

    def merge(
        self,
        source: DataFrame,
        condition: str,
        clauses: list[MergeClause],
        broadcast_source: bool = False,
        prune_on: str | None = None,
        txn_app: str | None = None,
        txn_version: int | None = None,
        mode: str = "cow",
    ) -> int:
        """MERGE INTO with Delta semantics for the subset the reference uses
        (ScdType1MergeApp.scala:95-132): clauses evaluated in declaration order,
        first matching clause wins; unmatched-target rows pass through; unmatched
        source rows insert only if an insert clause's condition holds.

        Expressions in ``condition`` / clause conditions / assignments reference
        ``target.<col>`` and ``source.<col>`` exactly like Delta's string-expr API.

        ``prune_on`` names the equi-join key: data dirs whose footer min/max for
        that key cannot overlap the source batch's key range are kept as-is
        instead of rewritten (Delta's file-skipping merge). Exact because
        unmatched-target rows pass through a merge unchanged, and no row in a
        pruned dir — including null-keyed rows, which never equi-match — can
        match the source. A current-state table updated by small CDC batches
        rewrites only the touched fraction of its files.

        ``txn_app``/``txn_version`` make the merge idempotent under micro-batch
        replay (same pattern as :meth:`append`).

        ``mode="dv"``: merge-on-read — matched rows an update/delete clause
        fires on are TOMBSTONED in place (deletion-vector sidecars) and only
        the update/insert images are appended; no pre-existing file is
        rewritten, completing the DV DML triad (see :meth:`_dv_merge`)."""
        ident_cols = self.identity_columns()
        if ident_cols:
            if any(c.kind == "insert" for c in clauses):
                raise ValueError(
                    "MERGE insert clauses are not supported on a table with "
                    "GENERATED ALWAYS AS IDENTITY columns (no allocation path "
                    "inside the merge) — append the new rows instead"
                )
            # mirror the update() guard: an update-clause assignment must not
            # overwrite a GENERATED ALWAYS AS IDENTITY column either
            clash = sorted(
                {
                    k
                    for c in clauses
                    if c.kind == "update" and c.assignments
                    for k in c.assignments
                }
                & set(ident_cols)
            )
            if clash:
                raise ValueError(
                    f"cannot MERGE-update identity column(s) {clash} "
                    f"(GENERATED ALWAYS — values are system-assigned)"
                )
        if mode == "dv":
            return self._dv_merge(
                source, condition, clauses, broadcast_source, prune_on,
                txn_app, txn_version,
            )
        if mode != "cow":
            raise ValueError(f"merge mode must be cow|dv, got {mode!r}")
        if txn_app is not None and txn_version is not None:
            last = self.last_txn_version(txn_app)
            if last is not None and txn_version <= last:
                return self.latest_version()  # replayed batch: no-op
        base, commit = self._snapshot()
        self._ensure_published(commit)
        live, kept = self._prune_merge_scan(source, prune_on, commit)
        if live:
            target_df = self._read_dirs(
                [str(self._root / d) for d in live],
                commit.get("schema"),
                commit.get("partition_by"),
                commit.get("column_mapping"),
                dv_rels=commit.get("dv_files"),  # tombstoned rows must not revive
            )
        else:  # every dir pruned — merge against an empty target
            target_df = self.read(version=base).limit(0)
        classified = _MergeClassifier.build(
            target_df, source, condition, clauses, target_df.columns,
            broadcast_source,
        )
        merged = classified.rows()
        self._validate(commit.get("constraints", {}), merged)
        rel = self._write_data_dir(
            merged, base + 1,
            partition_by=commit.get("partition_by"),
            mapping=self._mapping(commit),
        )
        rels = self._staged_rels(rel, commit.get("partition_by"))
        extra = {"condition": condition, "schema": merged.schema.json()}
        staged = list(rels)
        if commit.get("cdf"):
            cdc_rel = self._stage_cdc_dir(
                classified.changes(), base + 1, self._mapping(commit)
            )
            extra["cdc_dirs"] = [cdc_rel]
            staged.append(cdc_rel)
        if kept:
            extra["pruned_dirs_kept"] = len(kept)
        if txn_app is not None and txn_version is not None:
            extra["txn"] = {"app": txn_app, "version": txn_version}
        # shared WriteSerializable conflict re-resolution: a file-skipping
        # merge losing the race to a rival that touched only PRUNED dirs
        # re-links its staged rewrite (two CDC appliers on disjoint key
        # ranges compose); any overlap aborts.
        touched = set(live)
        state = {"kept": kept}

        def _attempt(b: int, c: dict, keep_staged: bool) -> int:
            return self._commit_staged(
                "merge", [*state["kept"], *rels], staged, extra, b, c,
                stats_cols=(prune_on,) if prune_on else (),
                keep_staged_on_conflict=keep_staged,
            )

        def _rebase(new_commit: dict) -> None:
            state["kept"] = [d for d in new_commit["live"] if d not in touched]
            if "pruned_dirs_kept" in extra:
                extra["pruned_dirs_kept"] = len(state["kept"])
            if new_commit.get("schema"):
                # per-field nullability UNION of our merge output and the
                # rival's (the check admits only equal-or-relaxed rivals;
                # kept dirs now hold rows under the rival's claims)
                from pyspark.sql.types import StructField, StructType

                ours = StructType.fromJson(json.loads(extra["schema"]))
                theirs = StructType.fromJson(json.loads(new_commit["schema"]))
                extra["schema"] = StructType([
                    StructField(a.name, a.dataType,
                                a.nullable or b.nullable, a.metadata)
                    for a, b in zip(ours.fields, theirs.fields)
                ]).json()

        return self._dml_conflict_retry(
            "merge", _attempt, _rebase, base, commit, touched, staged,
            txn_app, txn_version,
        )

    def _dv_merge(
        self,
        source: DataFrame,
        condition: str,
        clauses: list[MergeClause],
        broadcast_source: bool,
        prune_on: str | None,
        txn_app: str | None,
        txn_version: int | None,
    ) -> int:
        """Merge-on-read MERGE (see :meth:`merge` mode="dv"): the Delta
        DV-merge shape. One commit records

        - a DELETE sidecar tombstoning matched rows whose first-satisfied
          clause is a delete,
        - an UPDATE sidecar + an appended update-image dir for matched rows
          whose first-satisfied clause is an update,
        - an appended insert-image dir for unmatched source rows an insert
          clause accepts,

        and nothing else — unmatched target rows in a 10 GB file are never
        rewritten; cost scales with the AFFECTED row count. The four outputs
        keep their identities in the commit (``dv_merge_{delete,update}_dvs``,
        ``dv_merge_{update,insert}_dirs``) so the change feed and the
        streaming CDF source emit exact delete / update_preimage /
        update_postimage / insert rows for the commit — a DV merge is fully
        replicable, unlike the copy-on-write merge whose images dissolve into
        the rewrite.

        ``prune_on`` only narrows the SCAN here (which dirs can hold matched
        rows) — no dir is ever rewritten either way. Clause semantics are
        identical to the cow path, which shares the one clause classifier
        (:class:`_MergeClassifier`); images are cast to the LOG schema's
        column types (a widening assignment cannot brick the table — DML
        type safety, same rule as :meth:`update`)."""
        if txn_app is not None and txn_version is not None:
            last = self.last_txn_version(txn_app)
            if last is not None and txn_version <= last:
                return self.latest_version()
        base, commit = self._snapshot()
        self._ensure_published(commit)
        prior = list(commit.get("dv_files") or [])
        scan, _ = self._prune_merge_scan(source, prune_on, commit)
        if scan:
            target_df = self._read_dirs(
                [str(self._root / d) for d in scan],
                commit.get("schema"),
                commit.get("partition_by"),
                commit.get("column_mapping"),
                dv_rels=prior,
                keep_pos=True,
            )
        else:  # every dir stats-pruned: only inserts can result
            target_df = (
                self.read(version=base)
                .limit(0)
                .withColumn("__fp", F.lit(None).cast("string"))
                .withColumn("__ri", F.lit(None).cast("long"))
            )
        pos_cols = ("__fp", "__ri")
        data_cols = [c for c in target_df.columns if c not in pos_cols]
        classified = _MergeClassifier.build(
            target_df, source, condition, clauses, data_cols, broadcast_source,
            carry=pos_cols,
        )
        # unmatched target rows — the overwhelming majority at scale — exit
        # the plan before any downstream work; every output below reads this
        # persisted join
        j = classified.joined = classified.joined.filter("source IS NOT NULL")

        extra: dict = {"condition": condition, "dv_merge": True}
        if commit.get("schema"):
            extra["schema"] = commit["schema"]
        if txn_app is not None and txn_version is not None:
            extra["txn"] = {"app": txn_app, "version": txn_version}

        j.persist()
        try:
            pos = lambda df: df.select(  # noqa: E731
                F.col("__fp").alias("file_path"), F.col("__ri").alias("row_index")
            ).distinct()
            # one aggregate decides which of the four outputs exist (instead
            # of three isEmpty actions); the writes below each reuse the
            # persisted join
            flags = j.selectExpr(*[
                f"bool_or({classified.fires(k)}) AS {k}"
                for k in ("delete", "update", "insert")
            ]).first()
            new_dvs: list[str] = []
            if flags.delete:
                rel = self._write_dv_sidecar(
                    pos(j.filter(classified.fires("delete"))), base + 1
                )
                new_dvs.append(rel)
                extra["dv_merge_delete_dvs"] = [rel]
            upd_rels: list[str] = []
            if flags.update:
                rel = self._write_dv_sidecar(
                    pos(j.filter(classified.fires("update"))), base + 1
                )
                new_dvs.append(rel)
                extra["dv_merge_update_dvs"] = [rel]
                images = classified.images("update")
                self._validate(commit.get("constraints", {}), images)
                drel = self._write_data_dir(
                    images, base + 1,
                    partition_by=commit.get("partition_by"),
                    mapping=self._mapping(commit),
                )
                upd_rels = self._staged_rels(drel, commit.get("partition_by"))
            ins_rels: list[str] = []
            if flags.insert:
                images = classified.images("insert")
                self._validate(commit.get("constraints", {}), images)
                drel = self._write_data_dir(
                    images, base + 1,
                    partition_by=commit.get("partition_by"),
                    mapping=self._mapping(commit),
                )
                ins_rels = self._staged_rels(drel, commit.get("partition_by"))
        finally:
            j.unpersist()
        if upd_rels:
            extra["dv_merge_update_dirs"] = upd_rels
        if ins_rels:
            extra["dv_merge_insert_dirs"] = ins_rels
        extra["dv_files"] = [*prior, *new_dvs]
        if new_dvs:
            extra["dv_rows_added"] = self._dv_rows(new_dvs)
        new_rels = [*upd_rels, *ins_rels]
        if not new_rels:
            return self._write_commit("merge", commit["live"], extra, base, commit)
        return self._commit_staged(
            "merge", [*commit["live"], *new_rels], new_rels, extra, base, commit,
            stats_cols=(prune_on,) if prune_on else (),
        )


def _ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


@dataclass
class _MergeClassifier:
    """The one MERGE clause classifier, shared by the copy-on-write rows,
    their change rows and the deletion-vector merge.

    ``joined`` is the full outer join of the target and source rows, each
    side packed into one struct (``target`` / ``source``) so that
    ``target.x`` / ``source.x`` in Delta-style string expressions resolve as
    plain field accesses, plus the ``carry`` columns of the target and
    ``__clause``: the index into ``clauses`` of the first clause in
    declaration order whose condition is TRUE. Matched rows test the
    update/delete conditions, unmatched source rows the insert conditions; a
    SQL ``CASE`` counts a NULL condition as not fired. A matched row that no
    clause fires on and an unmatched target row get ``PASS`` (they pass
    through); an unmatched source row no insert accepts gets NULL.

    ``column_sql`` holds one SQL expression per output column:
    ``CASE __clause WHEN i THEN <assignment of clause i> ... ELSE
    target.<col> END``. Each condition and assignment is SQL text parsed
    once per merge; no Column cascade is built per output column."""

    PASS = -1

    joined: DataFrame
    clauses: list[MergeClause]
    out_cols: list[str]
    column_sql: list[str]
    target_df: DataFrame

    @classmethod
    def build(
        cls,
        target_df: DataFrame,
        source: DataFrame,
        condition: str,
        clauses: list[MergeClause],
        out_cols: list[str],
        broadcast_source: bool = False,
        carry: tuple[str, ...] = (),
    ) -> "_MergeClassifier":
        packed = ", ".join(
            _ident(c) for c in target_df.columns if c not in carry
        )
        t = target_df.selectExpr(
            f"struct({packed}) AS target", *[_ident(c) for c in carry]
        )
        s = source.selectExpr(
            f"struct({', '.join(_ident(c) for c in source.columns)}) AS source"
        )
        if broadcast_source:
            s = F.broadcast(s)

        def first_fired(kinds: tuple[str, ...], otherwise: str) -> str:
            whens = " ".join(
                f"WHEN {'TRUE' if c.condition is None else f'({c.condition})'}"
                f" THEN {i}"
                for i, c in enumerate(clauses)
                if c.kind in kinds
            )
            return f"CASE {whens} ELSE {otherwise} END" if whens else otherwise

        clause = (
            f"CASE WHEN source IS NULL THEN {cls.PASS}"
            f" WHEN target IS NOT NULL"
            f" THEN {first_fired(('update', 'delete'), str(cls.PASS))}"
            f" ELSE {first_fired(('insert',), 'NULL')} END"
        )
        joined = t.join(s, F.expr(condition), "full_outer").selectExpr(
            "*", f"{clause} AS __clause"
        )

        # An insert clause's unassigned columns (every column, for insertAll)
        # take the source column of the same name, or NULL when the source
        # does not carry it (the union operator's typed-null-pad convention).
        src_cols = set(source.columns)
        column_sql = []
        for col in out_cols:
            whens = []
            for i, c in enumerate(clauses):
                assigned = (c.assignments or {}).get(col)
                if c.kind == "insert" and assigned is None:
                    assigned = (
                        f"source.{_ident(col)}" if col in src_cols else "NULL"
                    )
                if c.kind in ("update", "insert") and assigned is not None:
                    whens.append(f"WHEN {i} THEN ({assigned})")
            passed = f"target.{_ident(col)}"
            column_sql.append(
                f"CASE __clause {' '.join(whens)} ELSE {passed} END"
                if whens else passed
            )
        return cls(joined, clauses, out_cols, column_sql, target_df)

    def fires(self, *kinds: str) -> str:
        """SQL predicate: the row's first-fired clause is of one of ``kinds``."""
        idx = [str(i) for i, c in enumerate(self.clauses) if c.kind in kinds]
        return f"__clause IN ({', '.join(idx)})" if idx else "FALSE"

    def rows(self) -> DataFrame:
        """The merged table: every joined row but the deleted ones and the
        unmatched source rows no insert clause accepts."""
        return self.joined.filter(
            f"__clause IS NOT NULL AND NOT {self.fires('delete')}"
        ).selectExpr(*[
            f"{sql} AS {_ident(col)}"
            for sql, col in zip(self.column_sql, self.out_cols)
        ])

    def _post_images(self) -> list[str]:
        return [f"{sql} AS __post{i}" for i, sql in enumerate(self.column_sql)]

    def _cast(self, prefix: str) -> list[Column]:
        # generated names keep F.col clear of any quoting in the real ones
        types = {f.name: f.dataType for f in self.target_df.schema.fields}
        return [
            F.col(f"{prefix}{i}").cast(types[col]).alias(col)
            for i, col in enumerate(self.out_cols)
        ]

    def images(self, *kinds: str) -> DataFrame:
        """Post-images of the rows whose first-fired clause is of one of
        ``kinds``, cast to the target's column types."""
        return (
            self.joined.filter(self.fires(*kinds))
            .selectExpr(*self._post_images())
            .select(*self._cast("__post"))
        )

    def changes(self) -> DataFrame:
        """Delta-CDF change rows, tagged in ``__change_type``: a first-fired
        delete gives a ``delete`` pre-image, an update an
        ``update_preimage`` + ``update_postimage`` pair, an accepted unmatched
        source row an ``insert``. Images are cast to the target's column
        types; one pass over the join."""
        imgs = (
            self.joined.filter(self.fires("delete", "update", "insert"))
            .selectExpr(
                "__clause",
                *[
                    f"target.{_ident(c)} AS __pre{i}"
                    for i, c in enumerate(self.out_cols)
                ],
                *self._post_images(),
            )
            .select(
                "__clause",
                F.struct(*self._cast("__pre")).alias("__pre"),
                F.struct(*self._cast("__post")).alias("__post"),
            )
        )
        tagged = ", ".join(
            f"IF({self.fires(kind)}, named_struct('r', {img}, 't', '{tag}'), NULL)"
            for kind, img, tag in (
                ("delete", "__pre", "delete"),
                ("update", "__pre", "update_preimage"),
                ("update", "__post", "update_postimage"),
                ("insert", "__post", "insert"),
            )
        )
        return (
            imgs.selectExpr(f"explode(array({tagged})) AS c")
            .filter("c IS NOT NULL")
            .selectExpr("c.r.*", "c.t AS __change_type")
        )


def merge_dataframes(
    target_df: DataFrame,
    source: DataFrame,
    condition: str,
    clauses: list[MergeClause],
    out_cols: list[str],
    broadcast_source: bool = False,
    emit: str = "rows",
) -> DataFrame:
    """Pure-DataFrame MERGE: full-outer join target/source as structs, classify
    every joined row by its first-fired clause, and project the output columns
    from that classification. Usable standalone (tested against a SQL oracle)
    and by :meth:`DeltaliteTable.merge`.

    First-fired semantics are defined by one classifier
    (:class:`_MergeClassifier`): the first clause in declaration order whose
    condition is TRUE wins, and a NULL condition counts as not fired. The
    whole merge is SQL expressions over ``target.x`` / ``source.x`` field
    accesses, so it stays inside whole-stage codegen (no UDFs).

    ``emit="rows"`` (default) returns the merged table contents.
    ``emit="changes"`` returns the merge's CHANGE rows instead — first-fired
    delete clause → ``delete`` pre-image; first-fired update clause →
    ``update_preimage`` + ``update_postimage`` pair; accepted unmatched-source
    row → ``insert``; untouched rows → nothing — tagged in a
    ``__change_type`` column. Rows and changes read the same classification,
    which keeps the change rows consistent with the committed rewrite by
    construction; CDF materialization (:meth:`DeltaliteTable.enable_cdf`)
    depends on it.
    """
    if emit not in ("rows", "changes"):
        raise ValueError(f"emit must be rows|changes, got {emit!r}")
    classified = _MergeClassifier.build(
        target_df, source, condition, clauses, out_cols, broadcast_source
    )
    return classified.rows() if emit == "rows" else classified.changes()
