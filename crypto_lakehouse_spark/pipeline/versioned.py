"""Versioned lakehouse tables: manifest-based snapshots over immutable
parquet files — the Spark-first analog of the reference's Iceberg
capabilities (time travel README.md:157, schema evolution README.md:159,
maintenance compaction.py:30-79) without an external table-format
runtime.

Design (the same shape Delta/Iceberg use, minimized):
- Data files are IMMUTABLE. Every commit writes new part files into the
  table's partition directories under a commit-unique name prefix.
- A manifest `_manifests/v{N}.json` lists the exact file set of
  version N. Reads resolve a manifest and hand Spark that file list
  with `basePath`, so partition columns come from the `col=value`
  directory layout and partition pruning still works.
- Manifests also record per-file column min/max harvested from the
  parquet footers at commit time (no extra data read) — `read(...,
  between=...)` skips provably-disjoint files before Spark ever lists
  them, the Delta/Iceberg data-skipping mechanism; pair with a
  range-sorted or Z-ordered write layout to make the ranges tight.
- Logical deletes (overwrite/merge/compact) just produce a manifest
  that omits files; bytes stay on disk for older versions until
  `expire_snapshots`, whose orphan scan is the
  `remove_orphan_files` analog (reference compaction.py:66-79).

Commit protocol: data files first, manifest last via atomic
hard-link publish — a crashed writer leaves orphan data files
(cleaned by `expire_snapshots`), never a corrupt table. Readers only
ever see fully-committed versions. Concurrent writers use optimistic
concurrency (the Delta/Iceberg model): every commit declares the
snapshot version it read, and publishing manifest v(N+1) is a
compare-and-swap — `os.link` fails atomically if another writer got
there first, raising `CommitConflictError`; the loser's staged data
files are orphans, the table is never corrupt, and the caller retries
from the fresh snapshot. (The reference delegates this to
Nessie/Iceberg; orchestration/dags/bronze_to_silver.py:42 is
single-writer hourly batch, but the engine guarantee must not depend
on the scheduler.)

Merge semantics follow Delta COW MERGE (reference
bronze_to_silver.py:156-188): matched rows replaced, unmatched
inserted; only touched partitions rewrite. The source side of that
contract (computed once, unique on the keys, NULL-safe partition
pruning, no matched key moved out of its partition) is the one
implementation in `tables.py` (`merge_source`, `prune_to_partitions`),
shared with `LakehouseTable.merge`.

At 100 TB: manifests hold file paths (KBs per thousand files), never
data; the planner cost is listing strings. Reads of version N scan
only N's files; compaction rewrites one partition's small files into
one; nothing ever rewrites the whole table except an explicit full
overwrite.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from crypto_lakehouse_spark.tables import (
    backfill_added_columns,
    merge_source,
    prune_to_partitions,
)

_MANIFEST_DIR = "_manifests"


class CommitConflictError(RuntimeError):
    """Another writer committed since this writer read its snapshot.

    Optimistic-concurrency loser signal (Delta ConcurrentWriteException
    analog): nothing was published, staged data files are orphans
    (cleaned by expire_snapshots), and the operation can be retried
    against the new current snapshot."""


class VersionedTable:
    """Parquet table with manifest snapshots, time travel, and
    Iceberg-style maintenance (compact / expire / orphan cleanup)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_by: list[str] | None = None,
        bloom_columns: list[str] | None = None,
        row_tracking: bool = False,
        generated_columns: dict[str, dict] | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.partition_by = partition_by or []
        # Generated columns (Delta GENERATED ALWAYS AS analog):
        # {name: {"expr": sql, "type": dtype}}. Declared at CREATE
        # here (recorded into the v0 manifest; add_generated_column
        # declares later) so a generated column can be a PARTITION
        # column — the Delta pattern `PARTITIONED BY (date GENERATED
        # ALWAYS AS (CAST(ts AS DATE)))`: writes compute it before
        # partitionBy, and filters on it prune via partition dirs.
        self._generated_init = {
            k: dict(v) for k, v in (generated_columns or {}).items()
        }
        # Delta row-tracking analog (fresh-base + materialization
        # model): every NEW data file is assigned a base row id at
        # commit time and a row's stable id is
        # `coalesce(materialized __row_id, base + row_index)`; COW
        # rewrites materialize surviving rows' ids into a physical
        # `__row_id` column so ids survive compaction/DML. The flag
        # only matters at ENABLE time — once any manifest carries a
        # `row_tracking` block, later writers maintain it regardless
        # of their constructor flag.
        self.row_tracking = row_tracking
        # Delta/Iceberg bloom-filter-index analog: for each declared
        # column, every NEW file gets a per-file Bloom filter built at
        # write time (one pyarrow single-column read) and stored in the
        # manifest; `files_for_scan(point=...)` then prunes files for
        # point lookups where min/max can't (high-cardinality,
        # randomly-laid-out keys). ~1 KiB per file per column.
        self.bloom_columns = bloom_columns or []
        self._last_write_stats: dict[str, dict] = {}
        # Schema of the most recent _write_files df in this process;
        # rides the manifest (like Delta's log schema) so an
        # all-files-deleted or never-populated snapshot still reads
        # back as an EMPTY TYPED frame instead of failing.
        self._last_write_schema: dict | None = None
        os.makedirs(os.path.join(self.path, _MANIFEST_DIR), exist_ok=True)

    # -- manifest bookkeeping ----------------------------------------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, _MANIFEST_DIR, f"v{version:06d}.json")

    def versions(self) -> list[int]:
        d = os.path.join(self.path, _MANIFEST_DIR)
        return sorted(
            int(n[1:-5]) for n in os.listdir(d) if n.startswith("v") and n.endswith(".json")
        )

    def current_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _load(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        """Commit log, oldest first (Delta DESCRIBE HISTORY analog)."""
        return [
            {"version": v, **{k: m[k] for k in ("op", "ts", "n_files")}}
            for v in self.versions()
            for m in [self._load(v)]
        ]

    # How many times a benign loser re-reads the head and retries its
    # CAS before giving up (pathological: >5 writers racing the same
    # table faster than a manifest read).
    _REBASE_ATTEMPTS = 5

    def _commit(
        self,
        files: list[str],
        op: str,
        base: int | None = None,
        added_columns: dict[str, dict] | None = None,
        constraints: dict[str, str] | None = None,
        txn: tuple[str, int] | None = None,
        conflict: dict | None = None,
        column_mapping: dict[str, str] | None = None,
        deletion_vectors: dict[str, list[str]] | None = None,
        dropped_columns: dict[str, str] | None = None,
        row_tracking_seed: dict | None = None,
        equality_deletes: list[dict] | None = None,
        clustering: dict | None = None,
        generated_columns: dict[str, dict] | None = None,
    ) -> int:
        """Publish the next version via compare-and-swap, with
        commit-time REBASE for benign conflict classes (the
        Delta/Iceberg concurrency model, VERDICT r6 item 2).

        `conflict` declares this commit's conflict class so a CAS
        loser can decide whether re-publishing against the new head is
        sound without recomputing:

        - ``{"class": "append", "added": [...], "partitions": [...]}``
          — blind insert: reads nothing, removes nothing. Rebases over
          ANY intervening append or partitioned commit (Delta lets
          blind appends through even against concurrent deletes).
        - ``{"class": "partitioned", "added": [...], "removed": [...],
          "partitions": [...]}`` — a partition-pruned rewrite (MERGE
          with partition columns in the keys). Rebases iff every
          intervening commit is itself append/partitioned AND its
          partition set is DISJOINT from ours AND every file we remove
          is still in the head manifest; otherwise the update it was
          computed against has changed — lost update — and the
          conflict error stands.
        - ``None`` (or class "full") — overwrite/compact/restore/
          row-level DML (whose predicate reads every partition)/
          metadata changes: conflicts with everything, the
          pre-existing manifest-coarse behavior.

        The rebased file set is `head_files - removed + added`;
        constraints/added-column/txn metadata re-derive from the head
        (intervening metadata commits are class "full", so a rebase
        never silently carries a stale schema or constraint set). At
        many-writer scale this is what lets the reference's hourly
        jobs and a daily maintenance pass share one table without a
        retry storm — only true lost-update shapes surface errors."""
        attempts = 0
        while True:
            try:
                return self._publish(
                    files,
                    op,
                    base,
                    added_columns,
                    constraints,
                    txn,
                    conflict,
                    column_mapping,
                    deletion_vectors,
                    dropped_columns,
                    row_tracking_seed,
                    equality_deletes,
                    clustering,
                    generated_columns,
                )
            except CommitConflictError:
                cls = (conflict or {}).get("class", "full")
                if cls == "full" or attempts >= self._REBASE_ATTEMPTS:
                    raise
                attempts += 1
                head = self.current_version()
                start = -1 if base is None else base
                for v in range(start + 1, head + 1):
                    mc = self._load(v).get("conflict") or {"class": "full"}
                    if mc["class"] == "full":
                        raise  # intervening full-table/metadata commit
                    if cls != "append" and (
                        set(mc.get("partitions") or [])
                        & set(conflict.get("partitions") or [])
                    ):
                        raise  # same-partition rewrite race: lost update
                head_m = self._load(head)
                removed = set(conflict.get("removed") or [])
                if not removed <= set(head_m["files"]):
                    raise  # a file we rewrite was itself rewritten
                if txn is not None:
                    last = head_m.get("txns", {}).get(txn[0])
                    if last is not None and txn[1] <= last:
                        return head  # another writer landed our txn id
                files = [
                    f for f in head_m["files"] if f not in removed
                ] + list(conflict.get("added") or [])
                base = head

    def _publish(
        self,
        files: list[str],
        op: str,
        base: int | None = None,
        added_columns: dict[str, dict] | None = None,
        constraints: dict[str, str] | None = None,
        txn: tuple[str, int] | None = None,
        conflict: dict | None = None,
        column_mapping: dict[str, str] | None = None,
        deletion_vectors: dict[str, list[str]] | None = None,
        dropped_columns: dict[str, str] | None = None,
        row_tracking_seed: dict | None = None,
        equality_deletes: list[dict] | None = None,
        clustering: dict | None = None,
        generated_columns: dict[str, dict] | None = None,
    ) -> int:
        """One CAS publish attempt of version base+1.

        `base` is the snapshot version the writer READ before computing
        its output (None = writer saw an empty table). If any other
        writer published base+1 first, the hard-link publish fails
        atomically and CommitConflictError is raised — the optimistic
        half of optimistic concurrency; nothing partial is ever
        visible.
        """
        version = 0 if base is None else base + 1
        # File-level column stats (Delta/Iceberg data-skipping analog):
        # stats for newly written files come from `_write_files`'s
        # footer scan; carried-over files keep the stats recorded at
        # their original commit (files are immutable, so stats are too).
        prev = self._load(base) if base is not None else {}
        prev_stats = prev.get("stats", {})
        stats = {
            f: s
            for f in files
            for s in [self._last_write_stats.get(f, prev_stats.get(f))]
            if s
        }
        # Row tracking (Delta base-row-id model): every file UNKNOWN to
        # the seed map gets a fresh base from the monotone `next`
        # counter, advanced by the file's footer row count — so
        # `base + row_index` never collides across files, even for
        # rewritten files whose carried rows hold materialized ids
        # (their index positions still consume the range). `seed`
        # defaults to the previous snapshot's map; restore/clone pass
        # the TARGET snapshot's block so re-published files keep the
        # bases they were first committed under. Once present, the
        # block is maintained forever (a writer without the
        # constructor flag must not silently drop ids).
        # `clustering={}` explicitly CLEARS the block (restore to a
        # pre-clustering snapshot); None inherits from prev.
        cluster_src = (
            clustering if clustering is not None else prev.get("clustering")
        )
        cluster_block = (
            {
                **cluster_src,
                "clustered": sorted(
                    set(cluster_src.get("clustered", [])) & set(files)
                ),
            }
            if cluster_src
            else None
        )
        row_tracking = None
        seed = row_tracking_seed or prev.get("row_tracking")
        if self.row_tracking or seed:
            known = dict(prev.get("row_tracking", {}).get("bases", {}))
            if row_tracking_seed:
                known.update(row_tracking_seed.get("bases", {}))
            nxt = max(
                (seed or {}).get("next", 0),
                prev.get("row_tracking", {}).get("next", 0),
            )
            bases: dict[str, int] = {}
            for f in sorted(files):
                if f in known:
                    bases[f] = known[f]
                else:
                    bases[f] = nxt
                    nxt += self._file_rows(f)
            row_tracking = {"next": nxt, "bases": bases}
        manifest = {
            "version": version,
            "op": op,
            "ts": time.time(),
            "n_files": len(files),
            "files": sorted(files),
            "stats": stats,
            # Base schema rides the manifest chain (Delta records the
            # same in its log): written fresh when this commit produced
            # files, carried forward otherwise. Lets read() return an
            # empty TYPED frame for a zero-file snapshot.
            "table_schema": (
                self._last_write_schema
                if self._last_write_schema is not None
                else prev.get("table_schema")
            ),
            # Schema-evolution metadata rides the manifest chain: each
            # commit carries forward the declared added columns.
            "added_columns": (
                added_columns
                if added_columns is not None
                else prev.get("added_columns", {})
            ),
            # RENAME COLUMN metadata (Delta columnMapping name-mode
            # analog): logical name -> stable physical name. Files
            # always store physical names; reads rename physical ->
            # logical per the manifest of the version being read, so
            # old files stay readable and time travel crosses renames.
            "column_mapping": (
                column_mapping
                if column_mapping is not None
                else prev.get("column_mapping", {})
            ),
            # CHECK constraints and per-app transaction watermarks ride
            # the manifest chain the same way.
            "constraints": (
                constraints
                if constraints is not None
                else prev.get("constraints", {})
            ),
            "txns": {
                **prev.get("txns", {}),
                **({txn[0]: txn[1]} if txn else {}),
            },
            # DROP COLUMN metadata: logical name -> the physical name
            # it occupied at drop time. Carried verbatim — reads of
            # THIS version exclude both names; pre-drop versions read
            # their own manifests and still see the column.
            "dropped_columns": (
                dropped_columns
                if dropped_columns is not None
                else prev.get("dropped_columns", {})
            ),
            # Deletion vectors (Delta DV analog): data file ->
            # positional sidecar file(s) under _dv/. Carried forward
            # like other metadata, but FILTERED to files still in this
            # manifest — a commit that rewrites or drops a data file
            # takes its DV with it (the rewrite read the reconciled
            # rows, so the deletions are baked into the new file).
            "deletion_vectors": {
                f: sorted(v)
                for f, v in (
                    deletion_vectors
                    if deletion_vectors is not None
                    else prev.get("deletion_vectors", {})
                ).items()
                if v and f in set(files)
            },
            # Generated columns (Delta GENERATED ALWAYS AS analog):
            # name -> {"expr", "type"}; writes compute-or-validate,
            # reads backfill files that predate the declaration.
            "generated_columns": (
                generated_columns
                if generated_columns is not None
                else prev.get("generated_columns", self._generated_init)
            ),
            # Equality deletes (Iceberg v2 equality-delete-file
            # analog): each entry is {"cols", "file", "applies_to"} —
            # a sidecar of delete-value tuples that suppresses
            # matching rows in exactly the data files listed. The
            # explicit coverage list IS the Iceberg sequence-number
            # rule made concrete: files appended AFTER the delete are
            # never covered. Carried forward with applies_to filtered
            # to surviving files (a rewrite read reconciled rows, so
            # its new files must not be covered); fully-uncovered
            # entries drop out.
            "equality_deletes": [
                {**e, "applies_to": kept}
                for e in (
                    equality_deletes
                    if equality_deletes is not None
                    else prev.get("equality_deletes", [])
                )
                for kept in [sorted(set(e["applies_to"]) & set(files))]
                if kept
            ],
            # Clustering state (Delta liquid-clustering analog): the
            # cluster columns, the recorded z-space bounds, and which
            # files are ALREADY clustered — carried with "clustered"
            # filtered to surviving files, so rewrites shrink it and
            # optimize_incremental knows exactly what is new.
            **({"clustering": cluster_block} if cluster_block else {}),
            # Row-tracking block (None for untracked tables keeps old
            # manifests byte-compatible).
            **({"row_tracking": row_tracking} if row_tracking else {}),
            # This commit's own conflict class, so LATER losers can
            # classify it when deciding whether to rebase over it.
            # Absent (older manifests) reads as {"class": "full"}.
            "conflict": {
                "class": (conflict or {}).get("class", "full"),
                "partitions": sorted(
                    (conflict or {}).get("partitions") or []
                ),
            },
        }
        tmp = self._manifest_path(version) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            # CAS publish: os.link fails with EEXIST if the version
            # already exists — atomic on POSIX, unlike os.rename which
            # silently replaces (last-writer-wins corruption).
            os.link(tmp, self._manifest_path(version))
        except FileExistsError:
            raise CommitConflictError(
                f"{self.path}: version {version} was committed by another "
                f"writer after this writer read v{base}; retry from the "
                "current snapshot"
            ) from None
        finally:
            os.remove(tmp)
        return version

    # -- column mapping (RENAME COLUMN) -------------------------------------
    def _column_mapping(self, version: int | None = None) -> dict[str, str]:
        """logical -> physical name map recorded at `version` (default:
        current); {} for unevolved tables and pre-mapping manifests."""
        cur = self.current_version()
        if cur is None:
            return {}
        return self._load(cur if version is None else version).get(
            "column_mapping", {}
        )

    @staticmethod
    def _apply_column_mapping(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
        """Physical -> logical renames on a scanned frame. Safe as a
        plain rename sequence: rename_column() rejects any logical name
        that collides with another column's physical name, so no
        intermediate state can hold duplicate column names."""
        for logical, physical in mapping.items():
            if physical in df.columns and logical != physical:
                df = df.withColumnRenamed(physical, logical)
        return df

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN (Delta columnMapping name-mode
        analog): a METADATA-ONLY commit — no data file is touched.
        Every column keeps a stable PHYSICAL name (the name it was
        first written under); this commit records logical->physical in
        the manifest's `column_mapping`, writes after the rename keep
        storing the physical name, and reads rename physical->logical
        using the manifest of the version being read — so pre-rename
        files stay readable and time travel across the rename returns
        each version's own column names.

        Restrictions (fail fast, same spirit as Delta's):
        - partition columns cannot be renamed (their physical names
          are baked into `col=value` directory layout);
        - the new name may not collide with another column's physical
          name (a later write would then hold duplicate physical
          columns — Delta avoids this with UUID physical names; this
          implementation keeps human-readable physical names and
          rejects the collision instead);
        - CHECK constraints referencing the old name must be dropped
          first (their exprs are SQL text over logical names)."""
        import re

        cur = self.current_version()
        if cur is None:
            raise ValueError(f"{self.path}: no committed version to evolve")
        if new in ("_row_id", "__row_id"):
            raise ValueError(
                f"{self.path}: column name {new!r} is reserved for row "
                "tracking"
            )
        cols = self.read().columns
        if old not in cols:
            raise ValueError(f"{self.path}: no column {old!r} to rename")
        if new in cols:
            raise ValueError(f"{self.path}: column {new!r} already exists")
        if old in self.partition_by:
            raise ValueError(
                f"{self.path}: cannot rename partition column {old!r}: "
                "its physical name is baked into the col=value directory "
                "layout; rewrite the table to re-partition instead"
            )
        m = self._load(cur)
        for cname, expr in m.get("constraints", {}).items():
            if re.search(rf"\b{re.escape(old)}\b", expr):
                raise ValueError(
                    f"{self.path}: constraint {cname!r} ({expr}) references "
                    f"{old!r}; drop it before renaming and re-add against "
                    "the new name"
                )
        for e in m.get("equality_deletes", []):
            if old in e["cols"]:
                raise ValueError(
                    f"{self.path}: outstanding equality delete "
                    f"({e['file']}) references {old!r}; run optimize() "
                    "to fold it in before renaming"
                )
        for gname, gspec in m.get("generated_columns", {}).items():
            if gname == old or re.search(
                rf"\b{re.escape(old)}\b", gspec["expr"]
            ):
                raise ValueError(
                    f"{self.path}: generated column {gname!r} "
                    f"({gspec['expr']}) involves {old!r}; generated "
                    "declarations are name-bound and cannot follow a "
                    "rename"
                )
        mapping = dict(m.get("column_mapping", {}))
        physical = mapping.pop(old, old)
        phys_names = set(mapping.values())
        # Dropped columns' names (logical and physical) stay reserved:
        # renaming onto one would resurrect the stale data on read.
        phys_names |= set(m.get("dropped_columns", {}))
        phys_names |= set(m.get("dropped_columns", {}).values())
        schema = m.get("table_schema")
        if schema:
            phys_names |= {f["name"] for f in schema.get("fields", [])}
        if new in phys_names and new != physical:
            raise ValueError(
                f"{self.path}: cannot rename {old!r} to {new!r}: {new!r} is "
                "another column's physical storage name; a write after the "
                "rename would hold duplicate physical columns"
            )
        if new != physical:
            mapping[new] = physical
        added = dict(m.get("added_columns", {}))
        if old in added:
            added[new] = added.pop(old)
        return self._commit(
            m["files"],
            f"rename_column({old}->{new})",
            base=cur,
            added_columns=added,
            column_mapping=mapping,
        )

    # -- writes ------------------------------------------------------------
    def _write_files(self, df: DataFrame) -> list[str]:
        """Write `df` as immutable part files inside the table layout;
        return their table-relative paths. Files land in standard
        `col=value` partition dirs so partition discovery/pruning work,
        under a commit-unique name prefix so they never collide.
        Logical columns are renamed back to their stable PHYSICAL
        names first (column mapping), so file schemas stay uniform
        across renames."""
        for logical, physical in self._column_mapping().items():
            if logical in df.columns and logical != physical:
                df = df.withColumnRenamed(logical, physical)
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        w = df.write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(staging)

        prefix = uuid.uuid4().hex[:8]
        moved: list[str] = []
        for root, _dirs, names in os.walk(staging):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                rel_dir = os.path.relpath(root, staging)
                rel_dir = "" if rel_dir == "." else rel_dir
                # Per-file counter in the name: dynamic-partition
                # writes can emit the SAME part name into different
                # partition dirs, and row tracking keys its base map
                # by basename — which must therefore be table-unique.
                final_rel = os.path.join(
                    rel_dir, f"c{prefix}-{len(moved):04d}-{name}"
                )
                final_abs = os.path.join(self.path, final_rel)
                os.makedirs(os.path.dirname(final_abs), exist_ok=True)
                os.rename(os.path.join(root, name), final_abs)
                moved.append(final_rel)
        shutil.rmtree(staging, ignore_errors=True)
        self._last_write_stats = {f: self._file_stats(f) for f in moved}
        self._last_write_schema = df.schema.jsonValue()
        return moved

    def _file_rows(self, rel: str) -> int:
        """Footer-only row count of a table-relative parquet file (no
        data read, no Spark job) — feeds base-row-id assignment."""
        import pyarrow.parquet as pq

        return pq.ParquetFile(os.path.join(self.path, rel)).metadata.num_rows

    def _has_row_tracking(self) -> bool:
        cur = self.current_version()
        if cur is None:
            return self.row_tracking
        return bool(
            self.row_tracking or self._load(cur).get("row_tracking")
        )

    def _file_stats(self, rel: str) -> dict:
        """Per-file column min/max from the parquet footer — no data
        read, no Spark job; the same stats Delta records in its log
        and Iceberg in manifests. Only JSON-stable primitive types
        (int/float/str/bool) are kept: a column whose footer stats
        aren't representable is simply not skippable."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(os.path.join(self.path, rel)).metadata
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        bad: set[str] = set()
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for i in range(row_group.num_columns):
                col = row_group.column(i)
                name = col.path_in_schema
                try:
                    st = col.statistics
                    has = st is not None and st.has_min_max
                    lo, hi = (st.min, st.max) if has else (None, None)
                except Exception:
                    # e.g. ArrowNotImplementedError for DECIMAL stats:
                    # the column is simply not skippable.
                    bad.add(name)
                    continue
                if name in bad or "." in name or not has:
                    bad.add(name)
                    continue
                if not all(
                    isinstance(v, (bool, int, float, str)) for v in (lo, hi)
                ):
                    bad.add(name)
                    continue
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
        out = {
            c: [mins[c], maxs[c]] for c in mins if c not in bad and c in maxs
        }
        # Exact footer row count (feeds metadata-only COUNT(*): see
        # summarize_metadata). Dunder-prefixed like __bloom__ so scan
        # planning never mistakes it for a column stat.
        out["__rows__"] = md.num_rows
        if self.bloom_columns:
            bloom = self._file_bloom(rel)
            if bloom:
                out["__bloom__"] = bloom
        return out

    # Bloom geometry: m = 8192 bits (1 KiB), k = 4 md5-derived probes.
    _BLOOM_BITS = 8192

    @staticmethod
    def _bloom_canon(value) -> str:
        """Canonical hash key for a Bloom value: write-time values come
        from Arrow `to_pylist()` (float 100.0, Decimal('100.0000'),
        datetime) while probe values are caller literals (int 100,
        float, str) — hashing `str(value)` directly lets a formatting
        mismatch 'prove' absence and silently prune files whose rows
        Spark's residual equality filter WOULD match under casting.
        Numerics (bool/int/float/Decimal) canonicalize through
        repr(float(v)) — the same equivalence class Spark's numeric
        cast-equality uses (ints beyond 2^53 lose distinctness, which
        only ever KEEPS extra files, never skips a matching one);
        datetimes/dates through isoformat; everything else is a
        string. Each class is prefix-tagged so `1` never collides with
        `'1'`."""
        import datetime
        import decimal

        if isinstance(value, (bool, int, float, decimal.Decimal)):
            return f"n:{float(value)!r}"
        if isinstance(value, (datetime.datetime, datetime.date)):
            return f"t:{value.isoformat()}"
        return f"s:{value}"

    @staticmethod
    def _bloom_probes(col: str, value) -> list[int]:
        import hashlib

        canon = VersionedTable._bloom_canon(value)
        d = hashlib.md5(f"{col}:{canon}".encode()).digest()
        return [
            int.from_bytes(d[4 * j : 4 * j + 4], "big")
            % VersionedTable._BLOOM_BITS
            for j in range(4)
        ]

    def _file_bloom(self, rel: str) -> dict[str, str]:
        """Per-file Bloom filters for the declared bloom columns: one
        single-column pyarrow read per file at write time."""
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(os.path.join(self.path, rel))
        names = set(pf.schema_arrow.names)
        out: dict[str, str] = {}
        for col in self.bloom_columns:
            if col not in names:
                continue
            bits = bytearray(self._BLOOM_BITS // 8)
            for v in pf.read(columns=[col]).column(col).to_pylist():
                if v is None:
                    continue
                for idx in self._bloom_probes(col, v):
                    bits[idx // 8] |= 1 << (idx % 8)
            out[col] = bits.hex()
        return out

    def _check_constraints(self, df: DataFrame) -> None:
        """Enforce declared CHECK constraints on rows about to be
        written (Delta `ALTER TABLE ... ADD CONSTRAINT` semantics:
        writes violating any constraint fail before anything
        commits). One filter+limit job per constraint — bounded."""
        from pyspark.sql import functions as F

        cur = self.current_version()
        cons = self._load(cur).get("constraints", {}) if cur is not None else {}
        for name, expr in cons.items():
            bad = df.filter(~F.coalesce(F.expr(expr), F.lit(False))).limit(1)
            rows = bad.collect()
            if rows:
                raise ValueError(
                    f"{self.path}: CHECK constraint {name!r} ({expr}) "
                    f"violated by row {rows[0].asDict()}"
                )


    # -- generated columns (Delta GENERATED ALWAYS AS analog) ----------------
    def _generated_map(self) -> dict[str, dict]:
        cur = self.current_version()
        if cur is None:
            return dict(self._generated_init)
        return self._load(cur).get("generated_columns", {})

    def _with_generated(self, df: DataFrame, recompute: bool = False) -> DataFrame:
        """Write-side contract: a missing generated column is COMPUTED
        from its expression; a provided one is VALIDATED against it
        (Delta rejects writes that disagree with the generation
        expression); `recompute=True` (UPDATE) overwrites provided
        values — Delta recomputes generated columns whose inputs an
        UPDATE changed. One limit-1 job per validated column."""
        from pyspark.sql import functions as F

        for name, spec in self._generated_map().items():
            computed = F.expr(spec["expr"]).cast(spec["type"])
            if name not in df.columns or recompute:
                df = df.withColumn(name, computed)
            else:
                bad = (
                    df.filter(~F.col(name).cast(spec["type"]).eqNullSafe(computed))
                    .limit(1)
                    .collect()
                )
                if bad:
                    raise ValueError(
                        f"{self.path}: generated column {name!r} = "
                        f"({spec['expr']}) disagrees with provided values "
                        f"(e.g. {bad[0].asDict()}); drop the column from "
                        "the write or fix the values"
                    )
        return df

    def _apply_generated_read(self, df: DataFrame, snap: dict) -> DataFrame:
        """Read-side backfill: files written before the declaration
        lack the column — compute it; mixed scans surface NULL for
        old files — coalesce with the computed value (same documented
        deviation as added-column defaults: an explicit stored NULL
        also reads as the computed value)."""
        from pyspark.sql import functions as F

        for name, spec in snap.get("generated_columns", {}).items():
            computed = F.expr(spec["expr"]).cast(spec["type"])
            if name not in df.columns:
                df = df.withColumn(name, computed)
            else:
                df = df.withColumn(
                    name,
                    F.coalesce(F.col(name).cast(spec["type"]), computed),
                )
        return df

    def add_generated_column(self, name: str, expr: str, dtype: str) -> int:
        """Declare a generated column on an existing table
        (metadata-only commit): future writes compute-or-validate it,
        reads of pre-declaration files backfill it from the
        expression. The expression must evaluate over the current
        schema (checked with one limit-1 job)."""
        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"{self.path}: no committed version; declare generated "
                "columns at construction (generated_columns=...) for a "
                "new table"
            )
        if name in ("_row_id", "__row_id"):
            raise ValueError(
                f"{self.path}: column name {name!r} is reserved for row "
                "tracking"
            )
        m = self._load(cur)
        existing = self.read().columns
        if name in existing:
            raise ValueError(f"{self.path}: column {name!r} already exists")
        reserved = set(m.get("column_mapping", {}).values())
        reserved |= set(m.get("dropped_columns", {}))
        reserved |= set(m.get("dropped_columns", {}).values())
        if name in reserved:
            raise ValueError(
                f"{self.path}: column name {name!r} collides with a "
                "renamed column's physical name or a DROPped column"
            )
        from pyspark.sql import functions as F

        # Fail fast on an expression that can't evaluate (wrong column
        # names, bad SQL) rather than breaking every later read.
        self.read().select(F.expr(expr).cast(dtype).alias(name)).limit(1).collect()
        gen = dict(m.get("generated_columns", {}))
        gen[name] = {"expr": expr, "type": dtype}
        return self._commit(
            m["files"],
            f"add_generated_column({name})",
            base=cur,
            generated_columns=gen,
        )

    def add_constraint(self, name: str, expr: str) -> int:
        """Declare a CHECK constraint (metadata-only commit). The
        CURRENT contents must already satisfy it, as in Delta."""
        cur = self.current_version()
        cons = dict(self._load(cur).get("constraints", {})) if cur is not None else {}
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        if cur is not None:
            from pyspark.sql import functions as F

            bad = self.read().filter(
                ~F.coalesce(F.expr(expr), F.lit(False))
            ).limit(1).count()
            if bad:
                raise ValueError(
                    f"{self.path}: existing rows violate new CHECK "
                    f"constraint {name!r} ({expr})"
                )
        cons[name] = expr
        files = self._load(cur)["files"] if cur is not None else []
        return self._commit(
            files, f"add_constraint({name})", base=cur, constraints=cons
        )

    def drop_constraint(self, name: str) -> int:
        cur = self.current_version()
        cons = dict(self._load(cur).get("constraints", {})) if cur is not None else {}
        if name not in cons:
            raise ValueError(f"constraint {name!r} does not exist")
        del cons[name]
        return self._commit(
            self._load(cur)["files"],
            f"drop_constraint({name})",
            base=cur,
            constraints=cons,
        )

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest committed transaction version for `app_id` (Delta
        txnAppId/txnVersion analog)."""
        cur = self.current_version()
        if cur is None:
            return None
        return self._load(cur).get("txns", {}).get(app_id)

    def append(self, df: DataFrame, txn: tuple[str, int] | None = None) -> int:
        """Append; with `txn=(app_id, version)`, the write is
        IDEMPOTENT per app: a txn version at or below the recorded
        watermark is skipped (returns the current version unchanged) —
        Delta's foreachBatch exactly-once recipe for sinks whose
        checkpoint may replay a committed batch.

        A blind append declares conflict class "append": when another
        writer wins the CAS race, the commit auto-rebases onto the new
        head (concurrent append/append and append/merge never fail) —
        see `_commit`."""
        cur = self.current_version()
        if txn is not None:
            last = self.last_txn_version(txn[0])
            if last is not None and txn[1] <= last:
                return cur
        df = self._with_generated(df)
        self._check_constraints(df)
        prev = self._load(cur)["files"] if cur is not None else []
        new_files = self._write_files(df)
        return self._commit(
            prev + new_files,
            "append",
            base=cur,
            txn=txn,
            conflict={
                "class": "append",
                "added": new_files,
                "partitions": sorted({os.path.dirname(f) for f in new_files}),
            },
        )

    def overwrite(self, df: DataFrame) -> int:
        df = self._with_generated(df)
        self._check_constraints(df)
        cur = self.current_version()
        return self._commit(self._write_files(df), "overwrite", base=cur)

    # -- schema evolution ---------------------------------------------------
    def add_column(self, name: str, dtype: str, default=None) -> int:
        """ALTER TABLE ADD COLUMN (reference README.md:159; Delta
        analog): a METADATA-ONLY commit — no data file is touched.
        Files written before the change simply lack the column; reads
        surface it as `default` (NULL unless given) cast to `dtype`,
        and files written after carry real values. Backfill, when
        wanted, is an ordinary overwrite/merge later — exactly Delta's
        contract."""
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"{self.path}: no committed version to evolve")
        if name in ("_row_id", "__row_id"):
            raise ValueError(
                f"{self.path}: column name {name!r} is reserved for row "
                "tracking"
            )
        m = self._load(cur)
        existing = self.read().columns
        if name in existing:
            raise ValueError(f"{self.path}: column {name!r} already exists")
        if name in set(m.get("column_mapping", {}).values()):
            raise ValueError(
                f"{self.path}: column name {name!r} is a renamed column's "
                "physical storage name; adding it would collide in files "
                "written after the rename"
            )
        if name in m.get("dropped_columns", {}).values() or name in m.get(
            "dropped_columns", {}
        ):
            raise ValueError(
                f"{self.path}: column name {name!r} was DROPPED and its "
                "physical data still lives in pre-drop files; re-adding "
                "the same name would resurrect old values on read. "
                "Rewrite the table (overwrite/compact) first, or use a "
                "different name"
            )
        added = dict(m.get("added_columns", {}))
        added[name] = {"type": dtype, "default": default}
        return self._commit(
            m["files"], "add_column", base=cur, added_columns=added
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN (Delta columnMapping drop analog):
        a METADATA-ONLY commit — no data file is touched. The column's
        physical data stays in existing files but every read of this
        and later versions excludes it (`_apply_dropped_columns`);
        time travel to a pre-drop version reads that version's own
        manifest and still sees the column; any later COW rewrite
        (delete/update/merge/compact/OPTIMIZE) writes files WITHOUT
        the column, physically purging it file by file.

        Restrictions (fail fast): partition columns cannot drop (their
        names are baked into the directory layout); CHECK constraints
        referencing the column must be dropped first; re-adding the
        same name later is rejected until a rewrite (the stale
        physical data would resurrect — Delta avoids this with UUID
        physical names, this implementation keeps human-readable names
        and rejects instead)."""
        import re

        cur = self.current_version()
        if cur is None:
            raise ValueError(f"{self.path}: no committed version to evolve")
        cols = self.read().columns
        if name not in cols:
            raise ValueError(f"{self.path}: no column {name!r} to drop")
        if name in self.partition_by:
            raise ValueError(
                f"{self.path}: cannot drop partition column {name!r}"
            )
        if len(cols) == 1:
            raise ValueError(
                f"{self.path}: cannot drop the only column {name!r}"
            )
        m = self._load(cur)
        for cname, expr in m.get("constraints", {}).items():
            if re.search(rf"\b{re.escape(name)}\b", expr):
                raise ValueError(
                    f"{self.path}: constraint {cname!r} ({expr}) references "
                    f"{name!r}; drop it before dropping the column"
                )
        for e in m.get("equality_deletes", []):
            if name in e["cols"]:
                raise ValueError(
                    f"{self.path}: outstanding equality delete "
                    f"({e['file']}) references {name!r}; run optimize() "
                    "to fold it in before dropping the column"
                )
        for gname, gspec in m.get("generated_columns", {}).items():
            if gname == name:
                # Dropping the generated column itself removes the
                # declaration with it (the data column goes through
                # the normal dropped_columns path).
                continue
            if re.search(rf"\b{re.escape(name)}\b", gspec["expr"]):
                raise ValueError(
                    f"{self.path}: generated column {gname!r} "
                    f"({gspec['expr']}) references {name!r}; drop the "
                    "generated column first"
                )
        mapping = dict(m.get("column_mapping", {}))
        physical = mapping.pop(name, name)
        added = dict(m.get("added_columns", {}))
        added.pop(name, None)
        dropped = dict(m.get("dropped_columns", {}))
        dropped[name] = physical
        gen = dict(m.get("generated_columns", {}))
        gen.pop(name, None)
        return self._commit(
            m["files"],
            f"drop_column({name})",
            base=cur,
            added_columns=added,
            column_mapping=mapping,
            dropped_columns=dropped,
            generated_columns=gen,
        )

    @staticmethod
    def _apply_dropped_columns(df: DataFrame, snap: dict) -> DataFrame:
        """Exclude dropped columns from a scanned frame: both the
        logical name and the physical name it occupied at drop time
        (pre-drop files still store the physical; add/rename guards
        keep either name from being reused, so the exclusion can
        never hit a live column)."""
        dropped = snap.get("dropped_columns", {})
        if not dropped:
            return df
        names = set(dropped) | set(dropped.values())
        present = [c for c in df.columns if c in names]
        return df.drop(*present) if present else df

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        merge_schema: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """COW MERGE (WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED
        INSERT *, reference bronze_to_silver.py:171-186): rewrites only
        partitions the source touches; untouched partitions carry their
        existing immutable files into the new manifest. The source side
        of the contract (computed once, unique on `keys`, NULL-safe
        partition pruning, no key moved out of its partition) is
        `tables.merge_source` and `tables.prune_to_partitions`, shared
        with `LakehouseTable.merge`.

        `merge_schema=True` is Delta's `schema.autoMerge`: columns the
        source carries that the target lacks are declared as added
        columns (NULL for pre-existing rows — the carried files are
        never rewritten; `read()` backfills from the manifest's
        added-column metadata). Without the flag, a wider source is an
        explicit error."""
        from pyspark.sql import functions as F

        # Idempotent per app (Delta txn watermark, same contract as
        # append): a replayed batch at or below the recorded version
        # is a no-op — the streaming-MERGE exactly-once recipe.
        if txn is not None:
            last = self.last_txn_version(txn[0])
            if last is not None and txn[1] <= last:
                return self.current_version()
        # Generated columns first: merge keys may include one (the
        # partition-by-generated pattern), so the uniqueness check
        # must see the computed values.
        source = self._with_generated(source)
        with merge_source(source, keys, self.partition_by) as (source, _, parts):
            self._check_constraints(source)
            cur = self.current_version()
            if cur is None:
                return self._commit(
                    self._write_files(source), "merge", base=cur, txn=txn
                )

            added_columns = None
            tgt_cols = self.read().columns
            new_cols = [c for c in source.columns if c not in tgt_cols]
            if new_cols:
                if not merge_schema:
                    raise ValueError(
                        f"MERGE source has column(s) {new_cols} the target "
                        "lacks; pass merge_schema=True to evolve the schema "
                        "(Delta schema.autoMerge)"
                    )
                m_cur = self._load(cur)
                phys = set(m_cur.get("column_mapping", {}).values())
                clash = [c for c in new_cols if c in phys]
                if clash:
                    raise ValueError(
                        f"{self.path}: MERGE source column(s) {clash} collide "
                        "with renamed columns' physical storage names; rename "
                        "them in the source before merging"
                    )
                # Same reservation add_column enforces (ADVICE r12): a new
                # column named like a DROPped column (logical name or its
                # physical storage name) would be written to new files but
                # silently excluded from every read by
                # _apply_dropped_columns — reject it up front.
                dropped = m_cur.get("dropped_columns", {})
                reserved = set(dropped) | set(dropped.values())
                reserved |= {"_row_id", "__row_id"}
                clash = [c for c in new_cols if c in reserved]
                if clash:
                    raise ValueError(
                        f"{self.path}: MERGE source column(s) {clash} collide "
                        "with DROPped columns' reserved names; rename them in "
                        "the source before merging"
                    )
                added_columns = dict(self._load(cur).get("added_columns", {}))
                for c in new_cols:
                    added_columns[c] = {
                        "type": source.schema[c].dataType.simpleString(),
                        "default": None,
                    }

            # Partition-dir type inference can widen (e.g. '1' -> int);
            # align target to the source schema before set operations.
            # Target rows take NULL for newly-declared columns. On a
            # row-tracked table the target's stable ids ride along as the
            # physical `__row_id` column: copied-through rows materialize
            # theirs, matched rows hand theirs to the replacing source row
            # below, and inserts stay NULL (fresh base + row_index ids) —
            # Delta row-tracking MERGE semantics.
            rt_on = self._has_row_tracking()
            target = self.read(with_row_ids=rt_on).select(
                *[
                    (
                        F.col(c).cast(source.schema[c].dataType)
                        if c in tgt_cols
                        else F.lit(None).cast(source.schema[c].dataType)
                    ).alias(c)
                    for c in source.columns
                ],
                *([F.col("_row_id").alias("__row_id")] if rt_on else []),
            )
            target = prune_to_partitions(target, source, keys, self.partition_by, parts)
            keep = target.join(source.select(*keys), keys, "left_anti")
            src_out = source
            if rt_on:
                # Matched source rows inherit the matched target row's id
                # (UPDATE preserves identity); unmatched get NULL = fresh.
                src_out = source.join(
                    target.select(*keys, "__row_id"), keys, "left"
                )
            new_files = self._write_files(keep.unionByName(src_out))

            carried: list[str] = []
            removed: list[str] = []
            touched: set[str] = set()
            if self.partition_by:
                touched = {os.path.dirname(f) for f in new_files}
                # A touched partition with zero output rows still needs its
                # old files dropped; source partition dirs cover it because
                # merge output always contains every source partition.
                base_files = self._load(cur)["files"]
                carried = [
                    f for f in base_files if os.path.dirname(f) not in touched
                ]
                removed = [f for f in base_files if os.path.dirname(f) in touched]
            # Partition-pruned merges with the partition columns in the
            # merge keys read ONLY their touched partitions, so two such
            # merges over disjoint partitions commute: declare class
            # "partitioned" and let the CAS loser rebase (VERDICT r6 item
            # 2 — the reference's hourly-job + daily-maintenance shape).
            # Without the structural guarantee (partition cols not in
            # keys, or unpartitioned table) the merge read other
            # partitions and stays manifest-coarse ("full").
            conflict = None
            if (
                self.partition_by
                and set(self.partition_by) <= set(keys)
                and added_columns is None
            ):
                conflict = {
                    "class": "partitioned",
                    "added": new_files,
                    "removed": removed,
                    "partitions": sorted(touched),
                }
            return self._commit(
                carried + new_files,
                "merge",
                base=cur,
                added_columns=added_columns,
                conflict=conflict,
                txn=txn,
            )

    # -- reads -------------------------------------------------------------
    def files_for_scan(
        self,
        version: int | None = None,
        between: dict[str, tuple] | None = None,
        point: dict[str, object] | None = None,
    ) -> tuple[list[str], int]:
        """Plan a snapshot scan with file skipping: returns
        (selected_files, total_files). A file is skipped when, for any
        `col: (lo, hi)` bound, its manifest min/max proves no row can
        satisfy `col BETWEEN lo AND hi`. Conservative: files without
        stats for a bound column are always kept. This is the
        query-planner half of data skipping — the layout half (sorting
        or Z-ordering the write so per-file ranges are tight) is what
        makes it bite; see `zorder_morton_cells`."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"{self.path}: no committed version")
        m = self._load(cur if version is None else version)
        files, stats = m["files"], m.get("stats", {})
        if not between and not point:
            return files, len(files)
        # Callers bound LOGICAL column names; footer stats and Bloom
        # indexes are keyed by the PHYSICAL names files are written
        # under — translate through the version's column mapping.
        mapping = m.get("column_mapping", {})
        if mapping:
            between = {
                mapping.get(c, c): b for c, b in (between or {}).items()
            } or None
            point = {mapping.get(c, c): v for c, v in (point or {}).items()} or None
        selected = []
        for f in files:
            fs = dict(stats.get(f, {}))
            # Partition-column values live in the dir name, not file
            # bytes (no footer stats): parse `col=value` segments into
            # exact min=max stats so partition predicates prune at the
            # manifest level too (Hive-escaped names decoded; NULL
            # partitions have no comparable value and stay kept).
            for seg in f.split(os.sep)[:-1]:
                if "=" in seg:
                    col, raw = seg.split("=", 1)
                    if raw != "__HIVE_DEFAULT_PARTITION__" and col not in fs:
                        from urllib.parse import unquote

                        val: object = unquote(raw)
                        try:
                            val = int(val)  # match int-typed bounds
                        except ValueError:
                            pass
                        fs[col] = [val, val]
            skip = False
            for col, (lo, hi) in (between or {}).items():
                try:
                    if col in fs and (fs[col][1] < lo or fs[col][0] > hi):
                        skip = True  # provably disjoint — skip file
                        break
                except TypeError:
                    continue  # incomparable bound/stat types: keep
            if not skip:
                for col, v in (point or {}).items():
                    bloom = fs.get("__bloom__", {}).get(col)
                    if bloom is None:
                        continue  # no index for this file: keep
                    bits = bytes.fromhex(bloom)
                    if any(
                        not (bits[i // 8] >> (i % 8)) & 1
                        for i in self._bloom_probes(col, v)
                    ):
                        skip = True  # Bloom proves value absent
                        break
            if not skip:
                selected.append(f)
        return selected, len(files)

    def summarize_metadata(
        self, cols: list[str] | None = None, version: int | None = None
    ) -> DataFrame:
        """Metadata-only aggregates (the Delta/Iceberg planner trick of
        answering `SELECT COUNT(*)/MIN(c)/MAX(c)` from the transaction
        log): one row with `n_rows` plus `min_<c>`/`max_<c>` per
        requested column, computed ENTIRELY from the manifest's
        per-file footer stats and row counts — zero data bytes read,
        zero Spark jobs, O(|files|) driver work. At 100 TB this is the
        difference between an instant answer and a full scan.

        Exactness contract (fail fast rather than silently
        approximate):
        - outstanding deletion vectors or equality deletes are
          rejected (suppressed rows would inflate every number; run
          optimize() to fold them first);
        - a column must have footer min/max recorded for EVERY file
          (all-null files, unsupported stat types, partition columns,
          and added-columns-with-defaults don't — those raise, and the
          caller falls back to a scan);
        - parquet min/max ignore NULLs, matching SQL MIN/MAX.
        Column mapping is translated (stats are keyed by physical
        names), dropped columns are rejected."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"{self.path}: no committed version")
        snap = self._load(cur if version is None else version)
        if snap.get("deletion_vectors") or snap.get("equality_deletes"):
            raise ValueError(
                f"{self.path}: outstanding deletion vectors / equality "
                "deletes make manifest stats an over-count; run "
                "optimize() to fold them, or scan"
            )
        files = snap["files"]
        stats = snap.get("stats", {})
        n_rows = 0
        for f in files:
            n = stats.get(f, {}).get("__rows__")
            if n is None:
                # Pre-feature manifest: footer-only read, still no
                # data bytes and no Spark job.
                n = self._file_rows(f)
            n_rows += int(n)
        mapping = snap.get("column_mapping", {})
        dropped = snap.get("dropped_columns", {})
        added = snap.get("added_columns", {})
        out: dict[str, object] = {"n_rows": n_rows}
        for c in cols or []:
            if c in dropped or c in dropped.values():
                raise ValueError(f"{self.path}: column {c!r} was dropped")
            if c in added:
                raise ValueError(
                    f"{self.path}: {c!r} is a manifest-added column "
                    "(default backfill is not in footer stats); scan "
                    "instead"
                )
            phys = mapping.get(c, c)
            lo = hi = None
            for f in files:
                s = stats.get(f, {})
                if phys not in s:
                    raise ValueError(
                        f"{self.path}: no footer stats for {c!r} in {f} "
                        "(all-null file, partition column, or "
                        "unsupported stat type); scan instead"
                    )
                flo, fhi = s[phys]
                lo = flo if lo is None else min(lo, flo)
                hi = fhi if hi is None else max(hi, fhi)
            out[f"min_{c}"] = lo
            out[f"max_{c}"] = hi
        from pyspark.sql import Row

        return self.spark.createDataFrame([Row(**out)])

    def version_as_of(self, ts: float) -> int:
        """Delta `TIMESTAMP AS OF` resolution: the newest version whose
        commit timestamp is <= `ts` (epoch seconds, the manifests' own
        clock). Raises if `ts` predates the first commit."""
        vs = self.versions()
        eligible = [v for v in vs if self._load(v)["ts"] <= ts]
        if not eligible:
            raise ValueError(
                f"{self.path}: no version committed at or before ts={ts} "
                f"(first commit at {self._load(vs[0])['ts'] if vs else None})"
            )
        return eligible[-1]

    def _touched_files(self, condition: str, files: list[str]) -> set[str]:
        """Resolve which manifest files contain rows matching
        `condition`: one predicate-pushed scan projecting
        `input_file_name()` (parquet row-group stats prune physically,
        so cost tracks selectivity, not table size). URIs are matched
        against the table-relative path INCLUDING partition dirs —
        basename-only matching over-marks same-named part files in
        sibling partitions (Spark dynamic-partition writes reuse the
        job UUID + task id across partition dirs). `input_file_name()`
        may percent-encode special characters; match both the raw and
        the unquoted form so Hive-escaped partition values (`%3A` etc.,
        which unquoting would double-decode) still resolve.

        Scans the RAW files (no deletion-vector reconciliation):
        `input_file_name()` requires a single source, and the DV-aware
        scan is a union. A row that is DV-dead can therefore mark its
        file as touched spuriously — harmless: COW delete's rewrite
        reads the reconciled subset, and delete_dv's position diff
        skips already-dead rows (and no-ops on an empty diff)."""
        from urllib.parse import unquote

        from pyspark.sql import functions as F

        if not files:  # zero-file snapshot: nothing can match
            return set()
        cur = self.current_version()
        snap = self._load(cur) if cur is not None else {}
        added = snap.get("added_columns", {})
        reader = self.spark.read.option("basePath", self.path)
        if added:
            reader = reader.option("mergeSchema", "true")
        raw = reader.parquet(
            *(os.path.join(self.path, f) for f in sorted(files))
        )
        raw = self._apply_column_mapping(raw, snap.get("column_mapping", {}))
        raw = backfill_added_columns(raw, added)
        raw = self._apply_dropped_columns(raw, snap)
        uris = {
            r.f
            for r in raw.filter(F.expr(condition))
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        cands = uris | {unquote(u) for u in uris}
        return {f for f in files if any(u.endswith("/" + f) for u in cands)}

    def _read_file_subset(self, files: list[str]) -> DataFrame:
        """Read an explicit file subset of the CURRENT snapshot with
        full schema-evolution handling — the same mergeSchema +
        added-column backfill path as `read()`, restricted to `files`.
        delete()/update() rewrites go through here so a touched set
        mixing pre- and post-evolution files can neither take a stale
        schema from an old file nor drop an evolved column's values."""
        cur = self.current_version()
        snap = self._load(cur) if cur is not None else {}
        added = snap.get("added_columns", {})
        tracked = snap.get("row_tracking") is not None
        # DV-aware subset scan: a COW rewrite of a DV'd file must not
        # resurrect its deleted rows. Row-tracked tables additionally
        # carry each surviving row's stable id OUT of the scan as the
        # physical `__row_id` column, so the caller's rewrite
        # materializes it into the new files (the Delta row-tracking
        # preservation rule).
        df = self._scan_files(sorted(files), snap, bool(added), row_ids=tracked)
        if tracked:
            df = df.withColumnRenamed("_row_id", "__row_id")
        df = self._apply_column_mapping(df, snap.get("column_mapping", {}))
        df = self._apply_dropped_columns(
            backfill_added_columns(df, added), snap
        )
        df = self._apply_generated_read(df, snap)
        if "__eq_file" in df.columns:
            # Rewrites bake outstanding equality deletes into the new
            # files (same contract as DV reconciliation above).
            df = self._apply_equality_deletes(df, snap).drop("__eq_file")
        return df

    def delete(self, condition: str) -> dict:
        """Row-level DELETE (Delta `DELETE FROM t WHERE cond` COW
        analog): rewrite ONLY the files that actually contain matching
        rows; every other file is carried into the new manifest
        byte-identical.

        Touched files are found with one predicate-pushed scan that
        projects `input_file_name()` — the parquet reader's row-group
        stats prune non-matching files physically, so at 100 TB the
        scan cost tracks the predicate's selectivity, not the table
        size, and the rewrite cost tracks only the touched bytes (the
        same shape as Delta's find-files + rewrite). No matching rows
        => no-op (no empty commit), idempotent like optimize()."""
        from pyspark.sql import functions as F

        cur = self.current_version()
        if cur is None:
            return {"skipped": True, "reason": "empty table"}
        files = self._load(cur)["files"]
        touched = self._touched_files(condition, files)
        if not touched:
            return {"skipped": True, "reason": "no matching rows"}
        # SQL/Delta DELETE removes only rows where the condition is
        # TRUE; a NULL-valued condition (e.g. NULL in a predicate
        # column) must KEEP the row — plain ~expr would drop it.
        kept_rows = self._read_file_subset(touched).filter(
            ~F.coalesce(F.expr(condition), F.lit(False))
        )
        new_files = self._write_files(kept_rows)
        carried = [f for f in files if f not in touched]
        version = self._commit(
            carried + new_files, f"delete({condition})", base=cur
        )
        return {
            "skipped": False,
            "version": version,
            "files_rewritten": len(touched),
            "files_carried": len(carried),
        }

    def update(self, condition: str, set: dict[str, str]) -> dict:
        """Row-level UPDATE (Delta `UPDATE t SET c = e WHERE cond` COW
        analog) — same find-files + rewrite-touched-only shape as
        `delete`: one predicate-pushed input_file_name scan finds the
        files holding matching rows; only those rewrite, with matching
        rows transformed by the SET expressions and non-matching rows
        copied through; every other file carries byte-identical.
        `set` maps column name -> SQL expression (may reference any
        column). Partition columns must not be assigned (a row may not
        move partitions in a file-local rewrite — route that as
        delete+insert, same restriction Delta enforces on partition
        layout expectations)."""
        from pyspark.sql import functions as F

        if set.keys() & {"_row_id", "__row_id"}:
            raise ValueError(
                "UPDATE may not assign the row-tracking id column: row "
                "ids are engine-managed (stable across rewrites)"
            )
        gen_cols = self._generated_map().keys()  # `set` is shadowed here
        if set.keys() & gen_cols:
            raise ValueError(
                f"UPDATE may not assign generated column(s) "
                f"{sorted(set.keys() & gen_cols)}: they are computed "
                "from their generation expressions (assign the inputs "
                "instead; the rewrite recomputes them)"
            )
        bad = {c for c in self.partition_by if c in set}
        if bad:
            raise ValueError(
                f"UPDATE may not assign partition column(s) {sorted(bad)}: "
                "a file-local rewrite cannot move rows between "
                "partitions; use delete + append instead"
            )
        cur = self.current_version()
        if cur is None:
            return {"skipped": True, "reason": "empty table"}
        files = self._load(cur)["files"]
        touched = self._touched_files(condition, files)
        if not touched:
            return {"skipped": True, "reason": "no matching rows"}
        rows = self._read_file_subset(touched)
        cond = F.expr(condition)
        updated = rows.select(
            *[
                F.when(cond, F.expr(set[c])).otherwise(F.col(c)).alias(c)
                if c in set
                else F.col(c)
                for c in rows.columns
            ]
        )
        # Delta recomputes generated columns whose inputs changed;
        # recomputing all of them is equivalent (unchanged inputs
        # regenerate the same value).
        updated = self._with_generated(updated, recompute=True)
        self._check_constraints(updated)
        new_files = self._write_files(updated)
        carried = [f for f in files if f not in touched]
        version = self._commit(
            carried + new_files, f"update({condition})", base=cur
        )
        return {
            "skipped": False,
            "version": version,
            "files_rewritten": len(touched),
            "files_carried": len(carried),
        }

    # -- deletion vectors (Delta DV analog) ----------------------------------
    def _scan_files(
        self,
        files: list[str],
        snap: dict,
        merge_schema: bool,
        row_ids: bool = False,
    ) -> DataFrame:
        """Scan `files` with deletion-vector reconciliation: files
        without a DV read as one multi-path scan; each DV'd file reads
        individually with the parquet `_metadata.row_index` column and
        anti-joins its recorded positions (broadcast — a DV is bounded
        by one file's row count, the same budget as Delta's in-memory
        roaring bitmaps). This mirrors Delta's physical model, where
        each scan task applies its own file's bitmap; the per-file
        plan fan-out is bounded by the number of DV'd files, which
        OPTIMIZE keeps near zero (it rewrites DV'd files first)."""
        from pyspark.sql import functions as F

        rt = snap.get("row_tracking") if row_ids else None
        if row_ids and rt is None:
            raise ValueError(
                f"{self.path}: row ids requested but this snapshot has "
                "no row_tracking block (enable with "
                "VersionedTable(..., row_tracking=True) before writing)"
            )
        if rt is not None:
            # Base map keyed by basename (write path guarantees
            # table-unique basenames); checked here because pre-feature
            # files could theoretically collide across partition dirs.
            names = [os.path.basename(f) for f in files]
            if len(set(names)) != len(names):
                raise ValueError(
                    f"{self.path}: duplicate file basenames in snapshot; "
                    "row tracking needs unique basenames — rewrite via "
                    "compact() first"
                )
            merge_schema = True  # __row_id present only in rewritten files

        def _rid(d: DataFrame, base_expr):
            """Stable row id at scan: materialized id if the file
            carries one, else file base + parquet row position.
            Metadata columns resolve only on the scan relation, so
            this must run here, not in read()."""
            rid = base_expr + F.col("_metadata.row_index")
            if "__row_id" in d.columns:
                rid = F.coalesce(F.col("__row_id").cast("bigint"), rid)
            return d.withColumn("_row_id", rid.cast("bigint")).drop(
                "__row_id"
            )

        # Equality-delete reconciliation needs each row's source file
        # (coverage is per-file); the basename is only resolvable on
        # the scan relation, so capture it here — read()/subset
        # callers apply the anti-joins and drop the column.
        eq_on = bool(snap.get("equality_deletes"))

        def _eqf(d: DataFrame) -> DataFrame:
            if not eq_on:
                return d
            return d.withColumn(
                "__eq_file",
                F.substring_index(F.col("_metadata.file_path"), "/", -1),
            )

        reader = self.spark.read.option("basePath", self.path)
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        dv_map = snap.get("deletion_vectors", {})
        clean = [f for f in files if not dv_map.get(f)]
        dved = [f for f in files if dv_map.get(f)]
        frames: list[DataFrame] = []
        if clean:
            d = _eqf(
                reader.parquet(*(os.path.join(self.path, f) for f in clean))
            )
            if rt is not None:
                # One literal map basename -> base keeps the clean
                # files in a SINGLE multi-path scan (no per-file plan
                # fan-out); the map is manifest-sized metadata, the
                # same budget the planner already pays to list files.
                pairs: list = []
                for f in clean:
                    pairs += [
                        F.lit(os.path.basename(f)),
                        F.lit(int(rt["bases"][f])),
                    ]
                d = _rid(
                    d,
                    F.element_at(
                        F.create_map(*pairs),
                        F.substring_index(
                            F.col("_metadata.file_path"), "/", -1
                        ),
                    ),
                )
            frames.append(d)
        for f in dved:
            pos = self.spark.read.parquet(
                *(os.path.join(self.path, r) for r in dv_map[f])
            )
            pos = pos.filter(pos["file"] == f).select("pos")
            d = _eqf(
                reader.parquet(os.path.join(self.path, f)).withColumn(
                    "__dv_idx", F.col("_metadata.row_index")
                )
            )
            if rt is not None:
                d = _rid(d, F.lit(int(rt["bases"][f])))
            d = d.join(
                F.broadcast(pos),
                d["__dv_idx"] == pos["pos"],
                "left_anti",
            ).drop("__dv_idx")
            frames.append(d)
        df = frames[0]
        for extra in frames[1:]:
            # allowMissingColumns unconditionally: a DROP COLUMN
            # followed by a partial rewrite leaves files with and
            # without the dropped physical column even when no
            # added-column evolution is declared; NULLs for the
            # missing side are exactly what mergeSchema produces.
            df = df.unionByName(extra, allowMissingColumns=True)
        return df

    def delete_dv(self, condition: str) -> dict:
        """Row-level DELETE via deletion vectors (Delta DV-enabled
        `DELETE` analog): instead of the COW rewrite `delete()` does,
        record the POSITIONS of matching rows in a positional sidecar
        parquet under `_dv/` and publish a metadata commit mapping
        each touched data file to its sidecar(s). Data files are
        untouched — a delete of k rows from a 1 GB file writes
        kilobytes, the whole point at 100 TB — and every read path
        (`read`, time travel, MERGE's target scan, CDF snapshot diffs)
        reconciles through `_scan_files`. `optimize()` compacts DVs
        away by rewriting DV'd files; until then reads pay one
        broadcast anti-join per DV'd file.

        The positions scan reads only the touched files (found with
        the same predicate-pushed `input_file_name` pass as COW
        delete), evaluates the condition on the LOGICAL schema (column
        mapping + added-column backfill applied), and excludes rows
        already dead under existing DVs, so re-running the same delete
        is a no-op and `n_deleted` counts only newly dead rows."""
        from functools import reduce

        from pyspark.sql import functions as F

        cur = self.current_version()
        if cur is None:
            return {"skipped": True, "reason": "empty table"}
        snap = self._load(cur)
        files = snap["files"]
        touched = self._touched_files(condition, files)
        if not touched:
            return {"skipped": True, "reason": "no matching rows"}
        dv_map = {
            f: list(v) for f, v in snap.get("deletion_vectors", {}).items()
        }
        per_file = [
            d.filter(F.coalesce(F.expr(condition), F.lit(False))).select(
                F.lit(f).alias("file"), F.col("__dv_idx").alias("pos")
            )
            for f, d in self._live_frames_with_pos(sorted(touched), snap)
        ]
        all_pos = reduce(lambda a, b: a.unionByName(b), per_file)
        counts = {
            r["file"]: r["n"]
            for r in all_pos.groupBy("file").agg(
                F.count("*").alias("n")
            ).collect()
        }
        n_deleted = sum(counts.values())
        if n_deleted == 0:
            return {"skipped": True, "reason": "rows already deleted"}
        rel = self._write_dv(all_pos)
        for f in counts:
            dv_map[f] = dv_map.get(f, []) + [rel]
        version = self._commit(
            list(files),
            f"delete_dv({condition})",
            base=cur,
            deletion_vectors=dv_map,
        )
        return {
            "skipped": False,
            "version": version,
            "n_deleted": int(n_deleted),
            "files_touched": len(counts),
            "dv_file": rel,
        }

    def _live_frames_with_pos(self, files: list[str], snap: dict):
        """Yield (rel_path, frame) per file: the file's LIVE logical
        rows — existing DVs excluded, column mapping and added-column
        backfill applied — with `__dv_idx` = the parquet row position.
        row_index is captured DIRECTLY on the scan (metadata columns
        are only guaranteed resolvable there); everything else runs on
        top of the materialized position column."""
        from pyspark.sql import functions as F

        dv_map = snap.get("deletion_vectors", {})
        added = snap.get("added_columns", {})
        reader = self.spark.read.option("basePath", self.path)
        if added:
            reader = reader.option("mergeSchema", "true")
        for f in files:
            d = reader.parquet(os.path.join(self.path, f)).withColumn(
                "__dv_idx", F.col("_metadata.row_index")
            )
            if dv_map.get(f):
                pos0 = self.spark.read.parquet(
                    *(os.path.join(self.path, r) for r in dv_map[f])
                )
                pos0 = pos0.filter(pos0["file"] == f).select("pos")
                d = d.join(
                    F.broadcast(pos0),
                    d["__dv_idx"] == pos0["pos"],
                    "left_anti",
                )
            d = self._apply_column_mapping(d, snap.get("column_mapping", {}))
            d = backfill_added_columns(d, added)
            d = self._apply_dropped_columns(d, snap)
            yield f, d

    def merge_dv(self, source: DataFrame, keys: list[str]) -> int:
        """Deletion-vector MERGE (Delta DV-enabled MERGE analog; same
        WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT * contract
        as `merge`, and the same `tables.merge_source`: the source is
        computed once and must be unique on `keys`): matched target rows
        are marked dead in a DV sidecar and the source appends as NEW
        files — no partition rewrite, so the write cost tracks the
        SOURCE size, not the touched-partition size (a 10-row upsert
        into a 1 GB partition writes the 10 rows plus kilobytes of
        positions). Read paths reconcile exactly as for `delete_dv`;
        `optimize()` later folds the DVs away. Output-equivalent to
        `merge()` — pinned in tests/test_versioned_dv.py — and, because
        nothing rewrites, there is no partition-move hazard (the COW
        merge's moved-key check is structurally unnecessary here).
        Schema evolution is not supported on this path; use
        `merge(merge_schema=True)`."""
        from functools import reduce

        from pyspark.sql import functions as F

        source = self._with_generated(source)
        with merge_source(source, keys, []) as (source, _, _):
            self._check_constraints(source)
            cur = self.current_version()
            if cur is None:
                return self._commit(
                    self._write_files(source), "merge_dv", base=cur
                )
            target = self.read()
            new_cols = [c for c in source.columns if c not in target.columns]
            if new_cols:
                raise ValueError(
                    f"merge_dv source has column(s) {new_cols} the target "
                    "lacks; schema evolution requires the COW path "
                    "(merge(merge_schema=True))"
                )
            snap = self._load(cur)
            files = snap["files"]
            # Existing files are untouched, so the SOURCE aligns to the
            # TARGET schema (COW merge aligns the other way).
            tgt_types = {fld.name: fld.dataType for fld in target.schema.fields}
            aligned = source.select(
                *[
                    (
                        F.col(c).cast(tgt_types[c])
                        if c in source.columns
                        else F.lit(None).cast(tgt_types[c])
                    ).alias(c)
                    for c in target.columns
                ]
            )
            if self._has_row_tracking():
                # Row-tracking MERGE preserves identity across the
                # DV-then-append: the appended row for a matched key
                # materializes the (now DV-dead) target row's stable id;
                # inserts stay NULL and read fresh base + row_index ids.
                aligned = aligned.join(
                    self.read(with_row_ids=True).select(
                        *keys, F.col("_row_id").alias("__row_id")
                    ),
                    keys,
                    "left",
                )
            skeys = source.select(*keys)
            # Touched-file discovery: one raw multi-path scan semi-joined
            # to the source keys (same suffix-resolution as
            # _touched_files; DV-dead matches over-mark harmlessly — the
            # position diff below excludes them).
            from urllib.parse import unquote

            touched: list[str] = []
            if files:  # zero-file snapshot: every source row is an insert
                added = snap.get("added_columns", {})
                reader = self.spark.read.option("basePath", self.path)
                if added:
                    reader = reader.option("mergeSchema", "true")
                raw = reader.parquet(
                    *(os.path.join(self.path, f) for f in sorted(files))
                )
                raw = self._apply_column_mapping(
                    raw, snap.get("column_mapping", {})
                )
                raw = backfill_added_columns(raw, added)
                raw = self._apply_dropped_columns(raw, snap)
                uris = {
                    r.f
                    for r in raw.join(F.broadcast(skeys), keys, "left_semi")
                    .select(F.input_file_name().alias("f"))
                    .distinct()
                    .collect()
                }
                cands = uris | {unquote(u) for u in uris}
                touched = [
                    f for f in files if any(u.endswith("/" + f) for u in cands)
                ]
            dv_map = {
                f: list(v) for f, v in snap.get("deletion_vectors", {}).items()
            }
            n_dead = 0
            if touched:
                per_file = [
                    d.join(F.broadcast(skeys), keys, "left_semi").select(
                        F.lit(f).alias("file"), F.col("__dv_idx").alias("pos")
                    )
                    for f, d in self._live_frames_with_pos(sorted(touched), snap)
                ]
                all_pos = reduce(lambda a, b: a.unionByName(b), per_file)
                counts = {
                    r["file"]: r["n"]
                    for r in all_pos.groupBy("file")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
                n_dead = sum(counts.values())
                if n_dead:
                    rel = self._write_dv(all_pos)
                    for f in counts:
                        dv_map[f] = dv_map.get(f, []) + [rel]
            new_files = self._write_files(aligned)
            return self._commit(
                files + new_files,
                "merge_dv",
                base=cur,
                deletion_vectors=dv_map,
            )

    def _write_dv(self, positions: DataFrame) -> str:
        """Write a (file STRING, pos BIGINT) positions frame as one
        immutable sidecar parquet under `_dv/`; return its
        table-relative path. Single-file by design: a DV commit's
        position set is bounded by the touched files' row counts, and
        one sidecar per commit keeps the manifest map small (Delta
        similarly packs multiple files' DVs into shared sidecars)."""
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        positions.coalesce(1).write.mode("overwrite").parquet(staging)
        rel = os.path.join("_dv", f"dv-{uuid.uuid4().hex}.parquet")
        final = os.path.join(self.path, rel)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        moved = False
        for name in os.listdir(staging):
            if name.endswith(".parquet"):
                os.rename(os.path.join(staging, name), final)
                moved = True
                break
        shutil.rmtree(staging, ignore_errors=True)
        if not moved:
            raise RuntimeError(f"{self.path}: DV write produced no file")
        return rel

    # -- equality deletes (Iceberg v2 equality-delete-file analog) -----------
    def delete_eq(self, keys: list[str], values: DataFrame) -> dict:
        """Row-level DELETE by VALUE (Iceberg v2 equality-delete
        analog): suppress every row whose `keys` columns match any row
        of `values`, WITHOUT reading a single data file. The distinct
        value tuples land as one sidecar parquet under `_eqdel/` and a
        metadata commit records which data files it applies to — the
        files of the CURRENT snapshot, which is Iceberg's
        sequence-number rule made concrete: rows appended LATER with
        the same key values are NOT deleted. This is the third
        deletion mechanism beside COW `delete()` (rewrites touched
        files) and `delete_dv()` (records positions, needs one
        find-files scan): `delete_eq` costs O(|values|) regardless of
        table size — the CDC-upsert-by-key shape at 100 TB.

        Reads reconcile with one broadcast anti-join per outstanding
        sidecar (bounded like DVs; `optimize()` folds them away by
        rewriting covered files). NULL key values match via null-safe
        equality. Columns are LOGICAL names at delete time; renaming
        or dropping a referenced column is rejected while the delete
        is outstanding (Iceberg pins field ids instead — this
        implementation keeps human-readable names and rejects)."""
        cur = self.current_version()
        if cur is None:
            return {"skipped": True, "reason": "empty table"}
        snap = self._load(cur)
        cols = self.read().columns
        missing = [k for k in keys if k not in cols]
        if missing:
            raise ValueError(
                f"{self.path}: equality-delete key(s) {missing} not in "
                f"table columns {cols}"
            )
        vals = values.select(*keys).distinct()
        n_values = vals.count()
        if n_values == 0:
            return {"skipped": True, "reason": "empty delete set"}
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        vals.coalesce(1).write.mode("overwrite").parquet(staging)
        rel = os.path.join("_eqdel", f"eq-{uuid.uuid4().hex}.parquet")
        final = os.path.join(self.path, rel)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        moved = False
        for name in os.listdir(staging):
            if name.endswith(".parquet"):
                os.rename(os.path.join(staging, name), final)
                moved = True
                break
        shutil.rmtree(staging, ignore_errors=True)
        if not moved:
            raise RuntimeError(
                f"{self.path}: equality-delete write produced no file"
            )
        entry = {
            "cols": list(keys),
            "file": rel,
            "applies_to": sorted(snap["files"]),
        }
        version = self._commit(
            list(snap["files"]),
            f"delete_eq({keys})",
            base=cur,
            equality_deletes=list(snap.get("equality_deletes", []))
            + [entry],
        )
        return {
            "skipped": False,
            "version": version,
            "n_delete_values": int(n_values),
            "eq_file": rel,
        }

    def _apply_equality_deletes(self, df: DataFrame, snap: dict) -> DataFrame:
        """Reconcile outstanding equality deletes on a LOGICAL frame
        that still carries the scan-time `__eq_file` basename column:
        one broadcast left-join per sidecar, a row dies when it
        matches the delete tuple AND its file is in the entry's
        coverage list. Null-safe equality throughout."""
        from pyspark.sql import functions as F

        eqs = snap.get("equality_deletes", [])
        if not eqs:
            return df
        for e in eqs:
            vals = self.spark.read.parquet(
                os.path.join(self.path, e["file"])
            ).select(
                *[F.col(c).alias(f"__eqv_{c}") for c in e["cols"]]
            ).withColumn("__eq_hit", F.lit(True))
            cond = None
            for c in e["cols"]:
                eq = F.col(c).eqNullSafe(F.col(f"__eqv_{c}"))
                cond = eq if cond is None else (cond & eq)
            covered = [os.path.basename(f) for f in e["applies_to"]]
            df = (
                df.join(F.broadcast(vals), cond, "left")
                .filter(
                    ~(
                        F.col("__eq_hit").isNotNull()
                        & F.col("__eq_file").isin(covered)
                    )
                )
                .drop("__eq_hit", *[f"__eqv_{c}" for c in e["cols"]])
            )
        return df

    def read(
        self,
        version: int | None = None,
        merge_schema: bool = False,
        between: dict[str, tuple] | None = None,
        point: dict[str, object] | None = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Read a snapshot (default: latest). `version` is time travel
        (Delta `VERSION AS OF` / Iceberg snapshot read, reference
        README.md:157). `merge_schema=True` unions file schemas —
        schema evolution on read (reference README.md:159): columns
        added by later commits come back NULL for older files.
        `between={col: (lo, hi)}` applies manifest-stats file skipping
        (see `files_for_scan`) plus the residual row filter, so the
        result is exactly the bounded rows however the files were
        laid out. `point={col: v}` adds Bloom-index file skipping for
        equality lookups (see files_for_scan) plus the residual
        equality filter. `with_row_ids=True` (row-tracked tables
        only) surfaces the stable `_row_id` column — the Delta
        row-tracking `_metadata.row_id` analog: ids survive
        compact/OPTIMIZE/DELETE/UPDATE/MERGE because rewrites
        materialize them into the new files; fresh rows read
        `file base + row_index` from the manifest's base map."""
        from pyspark.sql import functions as F

        files, _total = self.files_for_scan(version, between, point)
        if not files and _total == 0:
            # Zero-file snapshot (empty first batch, or every row
            # deleted): return an empty TYPED frame from the manifest's
            # recorded schema — the Delta behavior. Only manifests
            # predating schema recording still raise.
            from pyspark.sql.types import StructType

            cur0 = self.current_version()
            snap0 = self._load(cur0 if version is None else version)
            stored = snap0.get("table_schema")
            if stored is None:
                raise ValueError(f"{self.path}: empty snapshot")
            df = self.spark.createDataFrame([], StructType.fromJson(stored))
            df = self._apply_column_mapping(
                df, snap0.get("column_mapping", {})
            )
            df = self._apply_dropped_columns(
                backfill_added_columns(
                    df, snap0.get("added_columns", {})
                ),
                snap0,
            )
            df = self._apply_generated_read(df, snap0)
            if "__row_id" in df.columns:
                df = df.drop("__row_id")
            if with_row_ids:
                df = df.withColumn("_row_id", F.lit(None).cast("bigint"))
            return df
        if not files:  # every file skipped: empty frame, right schema
            df = self.read(
                version=version,
                merge_schema=merge_schema,
                with_row_ids=with_row_ids,
            )
            return df.limit(0)
        cur = self.current_version()
        snap = self._load(cur if version is None else version)
        added = snap.get("added_columns", {})
        # Declared added columns imply mixed file schemas: union them
        # so pre-evolution files still scan. _scan_files also applies
        # this snapshot's deletion vectors (and, for with_row_ids,
        # computes `_row_id` directly on the scan relations — metadata
        # columns resolve nowhere else).
        df = self._scan_files(
            files,
            snap,
            merge_schema or bool(added),
            row_ids=with_row_ids,
        )
        if not with_row_ids and "__row_id" in df.columns:
            # Rewritten files physically store the materialized id
            # column; it is table metadata, not user data.
            df = df.drop("__row_id")
        # Physical -> logical renames FIRST (files store physical
        # names), then added-column backfill (declared on logical).
        df = self._apply_column_mapping(df, snap.get("column_mapping", {}))
        df = backfill_added_columns(df, added)
        df = self._apply_dropped_columns(df, snap)
        df = self._apply_generated_read(df, snap)
        if "__eq_file" in df.columns:
            df = self._apply_equality_deletes(df, snap).drop("__eq_file")
        for col, (lo, hi) in (between or {}).items():
            df = df.where(F.col(col).between(lo, hi))
        for col, v in (point or {}).items():
            df = df.where(F.col(col) == F.lit(v))
        return df

    # -- maintenance (reference compaction.py analogs) ----------------------
    def compact(self, target_files_per_partition: int = 1) -> int:
        """Small-file compaction (rewrite_data_files analog, reference
        compaction.py:30-42): rewrites the current snapshot into
        `target_files_per_partition` files per partition as a NEW
        version — old versions still read their old files."""
        cur = self.current_version()
        if cur is not None and self._has_row_tracking():
            # Row-tracked rewrite: materialize every row's stable id
            # into the compacted files (Delta row-tracking rule).
            df = self.read(with_row_ids=True).withColumnRenamed(
                "_row_id", "__row_id"
            )
        else:
            df = self.read()
        if self.partition_by:
            df = df.repartition(target_files_per_partition, *self.partition_by)
        else:
            df = df.coalesce(target_files_per_partition)
        return self._commit(self._write_files(df), "compact", base=cur)

    def optimize(
        self, target_file_mb: float = 128, cluster_by: list[str] | None = None
    ) -> dict:
        """With `cluster_by=[c1, c2]`, runs Z-ORDER clustering instead
        of size-only bin-packing — see `_optimize_clustered`."""
        if cluster_by:
            return self._optimize_clustered(cluster_by, target_file_mb)
        return self._optimize_binpack(target_file_mb)

    @staticmethod
    def _morton_sql(a: str, b: str, bits: int = 8) -> str:
        """SQL expression interleaving the low `bits` of two bucket
        columns into a Morton/Z-order key (the same interleave as
        queries/scale_ops.zorder_morton_cells)."""
        terms = []
        for k in range(bits):
            terms.append(f"((({a}) div {1 << k}) % 2) * {1 << (2 * k)}")
            terms.append(f"((({b}) div {1 << k}) % 2) * {1 << (2 * k + 1)}")
        return " + ".join(terms)

    def _optimize_clustered(
        self, cluster_by: list[str], target_file_mb: float
    ) -> dict:
        """Delta `OPTIMIZE ... ZORDER BY (c1, c2)` analog (VERDICT r5
        item 4): rewrite the current snapshot with rows range-
        partitioned and sorted by the Morton interleave of the two
        cluster columns (256 buckets per dimension), so every output
        file covers a small Z-curve segment — a tight RECTANGLE in
        (c1, c2) space. The manifest's per-file min/max (harvested on
        commit) then makes `files_for_scan(between=...)` prune on BOTH
        dimensions at once, which a single-column sort can only do for
        its leading column. Bounds for bucketing come from one 4-scalar
        aggregate (bounded driver data). At 100 TB: one shuffle
        (range partition by z-key) per OPTIMIZE, per-file stats stay
        metadata-only, old snapshots untouched."""
        import math

        if len(cluster_by) != 2:
            raise ValueError(
                "cluster_by supports exactly 2 columns (Morton interleave); "
                f"got {cluster_by}"
            )
        cur = self.current_version()
        if cur is None:
            return {"skipped": True, "reason": "empty table"}
        files = self._load(cur)["files"]
        total = sum(os.path.getsize(os.path.join(self.path, f)) for f in files)
        n_files = max(2, math.ceil(total / (target_file_mb * 1024 * 1024)))

        from pyspark.sql import functions as F

        if self._has_row_tracking():
            df = self.read(with_row_ids=True).withColumnRenamed(
                "_row_id", "__row_id"
            )
        else:
            df = self.read()
        c1, c2 = cluster_by
        row = df.agg(
            F.min(F.col(c1).cast("double")),
            F.max(F.col(c1).cast("double")),
            F.min(F.col(c2).cast("double")),
            F.max(F.col(c2).cast("double")),
        ).collect()[0]
        if any(v is None for v in row):
            # Zero rows in the snapshot (a MIN/MAX over nothing is
            # NULL): nothing to cluster — idempotent no-op, like the
            # empty-table guard above.
            return {"skipped": True, "reason": "no rows"}
        bounds = [float(v) for v in row]
        new_files = self._zorder_write(df, cluster_by, bounds, n_files)
        version = self._commit(
            new_files,
            f"optimize(cluster_by={cluster_by})",
            base=cur,
            clustering={
                "cols": list(cluster_by),
                "bounds": bounds,
                "clustered": new_files,
            },
        )
        after = len(self._load(version)["files"])
        return {
            "skipped": False,
            "version": version,
            "cluster_by": list(cluster_by),
            "files_before": len(files),
            "files_after": after,
            "bytes_total": total,
        }

    def _zorder_write(
        self,
        df: DataFrame,
        cluster_by: list[str],
        bounds: list[float],
        n_files: int,
    ) -> list[str]:
        """Write `df` range-partitioned and sorted by the Morton
        interleave of the two cluster columns over FIXED `bounds`
        (256 buckets per dimension; out-of-bounds values clamp into
        the edge buckets). Fixing the bounds is what lets incremental
        batches tile the SAME z-space as the original clustering."""
        from pyspark.sql import functions as F

        c1, c2 = cluster_by
        lo1, hi1, lo2, hi2 = bounds

        def _bucket(col: str, lo: float, hi: float):
            if hi <= lo:
                return F.lit(0).cast("bigint")
            scaled = (F.col(col).cast("double") - F.lit(lo)) * 256.0 / (
                hi - lo
            )
            return F.greatest(
                F.lit(0), F.least(F.lit(255), F.floor(scaled))
            ).cast("bigint")

        zdf = (
            df.withColumn("__zb_a", _bucket(c1, lo1, hi1))
            .withColumn("__zb_b", _bucket(c2, lo2, hi2))
            .withColumn("__z", F.expr(self._morton_sql("__zb_a", "__zb_b")))
        )
        out = (
            zdf.repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__zb_a", "__zb_b", "__z")
        )
        return self._write_files(out)

    def optimize_incremental(
        self, cluster_by: list[str] | None = None, target_file_mb: float = 128
    ) -> dict:
        """Incremental clustering (Delta liquid-clustering analog):
        cluster ONLY the files appended since the last clustering
        commit, leaving every already-clustered file byte-identical —
        the nightly maintenance shape at 100 TB, where a full
        re-OPTIMIZE would rewrite the whole table to absorb a day of
        appends. The first call (or a `cluster_by` change) falls back
        to a full `optimize(cluster_by=...)` and RECORDS the cluster
        columns, the z-space bounds, and the clustered file set in the
        manifest; subsequent calls z-sort just the new files' rows
        over the SAME recorded bounds (so new files tile the same
        z-space and `files_for_scan` pruning stays two-dimensional)
        and append them to the clustered set. New data outside the
        original bounds clamps into edge buckets — skipping degrades
        gracefully there; a periodic full re-OPTIMIZE re-derives
        bounds (exactly Delta's recluster guidance). Composes with
        row tracking / DVs / equality deletes via the standard
        rewrite path (`_read_file_subset`)."""
        import math

        cur = self.current_version()
        if cur is None:
            return {"skipped": True, "reason": "empty table"}
        snap = self._load(cur)
        block = snap.get("clustering")
        if block is None or (
            cluster_by is not None and list(cluster_by) != block["cols"]
        ):
            if cluster_by is None:
                raise ValueError(
                    f"{self.path}: no recorded clustering; pass "
                    "cluster_by=[c1, c2] for the initial full clustering"
                )
            return self._optimize_clustered(list(cluster_by), target_file_mb)
        files = snap["files"]
        clustered = set(block.get("clustered", []))
        new = sorted(f for f in files if f not in clustered)
        if not new:
            return {"skipped": True, "reason": "no new files"}
        total_new = sum(
            os.path.getsize(os.path.join(self.path, f)) for f in new
        )
        n_files = max(
            1, math.ceil(total_new / (target_file_mb * 1024 * 1024))
        )
        rows = self._read_file_subset(new)
        out_files = self._zorder_write(
            rows, block["cols"], block["bounds"], n_files
        )
        carried = [f for f in files if f in clustered]
        version = self._commit(
            carried + out_files,
            f"optimize_incremental(cluster_by={block['cols']})",
            base=cur,
            clustering={
                **block,
                "clustered": sorted(clustered | set(out_files)),
            },
        )
        return {
            "skipped": False,
            "version": version,
            "cluster_by": list(block["cols"]),
            "files_clustered": len(new),
            "files_carried": len(carried),
            "files_out": len(out_files),
            "bytes_clustered": total_new,
        }

    def _optimize_binpack(self, target_file_mb: int = 128) -> dict:
        """Size-targeted bin-packing compaction — the engine-level
        `OPTIMIZE` a Delta/Iceberg user expects (reference
        compaction.py:30-42 targets file size the same way via
        rewrite_data_files' target-file-size option). Reads ONLY
        manifest + filesystem metadata to decide: live bytes of the
        current snapshot divided by the target size gives the
        files-per-partition budget; if the layout already meets it,
        returns without committing (idempotent — no empty versions).
        At 100 TB this is the nightly small-file sweep: metadata-only
        planning, partition-local rewrite, old snapshots untouched
        until expire_snapshots."""
        import math

        cur = self.current_version()
        if cur is None:
            return {"skipped": True, "reason": "empty table"}
        snap = self._load(cur)
        files = snap["files"]
        sizes = [os.path.getsize(os.path.join(self.path, f)) for f in files]
        total = sum(sizes)
        target = target_file_mb * 1024 * 1024
        if self.partition_by:
            nparts = max(1, len({os.path.dirname(f) for f in files}))
        else:
            nparts = 1
        per_part = max(1, math.ceil(total / nparts / target))
        if len(files) <= per_part * nparts:
            dv_map = snap.get("deletion_vectors", {})
            eq_cov = {
                f
                for e in snap.get("equality_deletes", [])
                for f in e["applies_to"]
            }
            dv_files = sorted(
                f for f in files if dv_map.get(f) or f in eq_cov
            )
            if dv_files:
                # Layout is fine but deletion vectors / equality
                # deletes are outstanding: OPTIMIZE's second job is
                # compacting them away — rewrite ONLY the covered
                # files (reconciled rows, so the deletions bake in);
                # _publish drops the now-uncovered sidecar entries.
                rows = self._read_file_subset(dv_files)
                new_files = self._write_files(rows)
                carried = [f for f in files if f not in set(dv_files)]
                version = self._commit(
                    carried + new_files, "optimize(purge-dv)", base=cur
                )
                return {
                    "skipped": False,
                    "version": version,
                    "files_before": len(files),
                    "files_after": len(carried) + len(new_files),
                    "dv_files_purged": len(dv_files),
                    "bytes_total": total,
                }
            return {
                "skipped": True,
                "reason": "layout within target",
                "files": len(files),
                "bytes_total": total,
            }
        version = self.compact(per_part)
        after = len(self._load(version)["files"])
        return {
            "skipped": False,
            "version": version,
            "files_before": len(files),
            "files_after": after,
            "bytes_total": total,
            "target_files_per_partition": per_part,
        }

    def table_changes(
        self, keys: list[str], v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Delta Change-Data-Feed analog (`table_changes(...)`):
        row-level diff between two snapshots, derived by a key-join of
        the snapshots themselves rather than per-commit change files —
        the snapshot-diff formulation every CDC backfill reduces to.
        Emits each changed row with a `_change_type` column:
        'insert' (key only in v_to), 'delete' (key only in v_from,
        pre-image values), 'update_preimage'/'update_postimage' (key
        in both with any non-key column changed — both images, Delta's
        contract). Unchanged rows are excluded.

        Scale shape: one full-outer join on the keys (co-partitioned
        shuffle; at 100 TB both sides are the same table so bucketed
        layouts co-locate it), change detection via null-safe struct
        comparison — no per-column UDF, whole-stage codegen applies.
        """
        if v_to is None:
            v_to = self.current_version()
        return self._snapshot_diff(
            self.read(version=v_from), self.read(version=v_to), keys
        )

    def table_changes_by_row_id(
        self, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Change-Data-Feed WITHOUT a user key (row-tracked tables):
        `_row_id` is the join identity, so tables with no primary key
        still get exact insert/delete/update classification — the
        capability Delta's row tracking exists to enable. Sound
        because ids are stable and never reused: an id in both
        snapshots with changed values is an UPDATE (UPDATE/MERGE
        preserve identity through rewrites), an id only in v_to is an
        INSERT (fresh ids come from the monotone counter), an id only
        in v_from is a DELETE. A pure-layout commit (compact/
        OPTIMIZE) diffs to ZERO changes — physical rewrites are
        invisible, which key-less value-diffing could never
        establish for duplicate rows. Output = data columns +
        `_row_id` + `_change_type`; same full-outer-join scale shape
        as `table_changes`."""
        if v_to is None:
            v_to = self.current_version()
        return self._snapshot_diff(
            self.read(version=v_from, with_row_ids=True),
            self.read(version=v_to, with_row_ids=True),
            ["_row_id"],
        )

    def _snapshot_diff(
        self, old: DataFrame, new: DataFrame, keys: list[str]
    ) -> DataFrame:
        from pyspark.sql import functions as F

        cols = new.columns
        val_cols = [c for c in cols if c not in keys]
        o = old.select(
            *[F.col(c).alias(f"__o_{c}") for c in cols],
            F.lit(True).alias("__in_old"),
        )
        nw = new.select(
            *[F.col(c).alias(f"__n_{c}") for c in cols],
            F.lit(True).alias("__in_new"),
        )
        cond = [o[f"__o_{k}"] == nw[f"__n_{k}"] for k in keys]
        j = o.join(nw, cond, "full_outer")
        changed = F.coalesce(
            F.struct(*[F.col(f"__o_{c}") for c in val_cols]).eqNullSafe(
                F.struct(*[F.col(f"__n_{c}") for c in val_cols])
            )
            == F.lit(False),
            F.lit(True),
        )

        def img(prefix: str, ctype: str) -> DataFrame:
            return j.select(
                *[F.col(f"{prefix}{c}").alias(c) for c in cols],
                F.lit(ctype).alias("_change_type"),
                changed.alias("__chg"),
                F.col("__in_old").alias("__io"),
                F.col("__in_new").alias("__in"),
            )

        inserts = img("__n_", "insert").where(F.col("__io").isNull())
        deletes = img("__o_", "delete").where(F.col("__in").isNull())
        upd_pre = img("__o_", "update_preimage").where(
            F.col("__io").isNotNull() & F.col("__in").isNotNull() & F.col("__chg")
        )
        upd_post = img("__n_", "update_postimage").where(
            F.col("__io").isNotNull() & F.col("__in").isNotNull() & F.col("__chg")
        )
        out = inserts.unionByName(deletes).unionByName(upd_pre).unionByName(upd_post)
        return out.select(*cols, "_change_type")

    def consume_changes(self, keys: list[str], cursor_path: str, process) -> tuple[int, int] | None:
        """Scheduler-style incremental CDC consumption (the Delta
        streaming-CDF pattern for batch orchestrators, reference
        orchestration/dags/bronze_to_silver.py's hourly incremental
        mode generalized to row-level changes): read the durable
        cursor, compute `table_changes(cursor_version, current)`,
        hand the change frame to `process`, then advance the cursor
        ATOMICALLY (tmp + rename). A crash after `process` but before
        the cursor write replays the batch on retry — at-least-once,
        so consumers must be idempotent (MERGE by key, or the txn
        watermark append), exactly the Structured Streaming
        foreachBatch contract. Returns (from_v, to_v) processed, or
        None when no new versions exist."""
        cur = self.current_version()
        if cur is None:
            return None
        last = -1
        if os.path.exists(cursor_path):
            with open(cursor_path) as f:
                last = int(f.read().strip())
        if cur <= last:
            return None
        from_v = max(last, 0)
        if last < 0:
            # First consumption: everything in the current snapshot is
            # an insert relative to "nothing".
            from pyspark.sql import functions as F

            changes = self.read(version=cur).withColumn(
                "_change_type", F.lit("insert")
            )
        else:
            changes = self.table_changes(keys, from_v, cur)
        process(changes, from_v, cur)
        tmp = f"{cursor_path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(cur))
        os.replace(tmp, cursor_path)
        return (from_v, cur)

    def restore(self, version: int) -> int:
        """Delta `RESTORE TABLE ... TO VERSION AS OF` analog: publish a
        NEW commit whose file list is the target snapshot's — pure
        metadata (no data rewrite; files are immutable and still on
        disk until expire_snapshots), history preserved, and the
        restore itself is undoable by another restore. Per-file stats
        and schema-evolution metadata travel with the restored
        snapshot."""
        if version not in self.versions():
            raise ValueError(
                f"{self.path}: cannot restore to v{version}: not in "
                f"retained history {self.versions()}"
            )
        snap = self._load(version)
        # Route the restored snapshot's stats + schema through the
        # commit path.
        self._last_write_stats = dict(snap.get("stats", {}))
        self._last_write_schema = snap.get("table_schema")
        try:
            return self._commit(
                snap["files"],
                f"restore(v{version})",
                base=self.current_version(),
                added_columns=snap.get("added_columns", {}),
                column_mapping=snap.get("column_mapping", {}),
                # Constraints travel with the snapshot too: keeping the
                # HEAD's constraint set while restoring a pre-rename
                # schema can leave a CHECK over a column that no longer
                # resolves, failing every later append/merge.
                constraints=snap.get("constraints", {}),
                # Deletion vectors and dropped columns are metadata-only
                # (file list unchanged), so _commit's inherit-from-HEAD
                # default would silently keep HEAD's state: restoring to
                # a pre-delete version would keep rows deleted, and
                # restoring to a DV'd version from a DV-free HEAD would
                # resurrect them (ADVICE r12). Pin both to the target
                # snapshot explicitly.
                deletion_vectors={
                    f: list(v)
                    for f, v in snap.get("deletion_vectors", {}).items()
                },
                dropped_columns=dict(snap.get("dropped_columns", {})),
                equality_deletes=list(snap.get("equality_deletes", [])),
                clustering=snap.get("clustering") or {},
                generated_columns=dict(snap.get("generated_columns", {})),
                # Row ids travel with the snapshot: the restored files
                # keep the bases they were FIRST committed under, so a
                # row's id is identical before and after the restore
                # (the `next` counter stays monotone via _publish's
                # max() against HEAD — no id reuse).
                row_tracking_seed=snap.get("row_tracking"),
            )
        finally:
            self._last_write_stats = {}

    def clone_to(self, dest_path: str) -> "VersionedTable":
        """Delta shallow-CLONE analog: an independent table at
        `dest_path` whose v0 references the CURRENT snapshot's data as
        hard links — zero bytes of data copied (same filesystem), and
        because part files are immutable, writes on either side can
        never corrupt the other: each table's subsequent commits write
        new files under its own path."""
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"{self.path}: cannot clone an empty table")
        snap = self._load(cur)
        dest = VersionedTable(self.spark, dest_path, partition_by=self.partition_by)
        os.makedirs(dest_path, exist_ok=True)
        dv_map = {
            f: list(v) for f, v in snap.get("deletion_vectors", {}).items()
        }
        # Hard-link the DV sidecars alongside the data files: a clone
        # that carries the DV map but not the _dv/ parquet it points at
        # would fail every read; a clone that carries neither silently
        # resurrects DV-deleted rows (ADVICE r12).
        dv_rels = sorted({rel for rels in dv_map.values() for rel in rels})
        eq_entries = [dict(e) for e in snap.get("equality_deletes", [])]
        dv_rels += [e["file"] for e in eq_entries]
        for rel in list(snap["files"]) + dv_rels:
            src = os.path.join(self.path, rel)
            dst = os.path.join(dest_path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.link(src, dst)
        dest._last_write_stats = dict(snap.get("stats", {}))
        dest._last_write_schema = snap.get("table_schema")
        try:
            dest._commit(
                snap["files"],
                f"clone({self.path}@v{cur})",
                base=None,
                added_columns=snap.get("added_columns", {}),
                # The full schema-evolution + governance state travels
                # with the clone, exactly as Delta shallow CLONE copies
                # the source's metadata: renames, drops, DVs, CHECKs.
                column_mapping=snap.get("column_mapping", {}),
                constraints=snap.get("constraints", {}),
                deletion_vectors=dv_map,
                dropped_columns=dict(snap.get("dropped_columns", {})),
                equality_deletes=eq_entries,
                clustering=snap.get("clustering") or {},
                generated_columns=dict(snap.get("generated_columns", {})),
                # The clone keeps the source's row ids (same files,
                # same bases, same next counter) — diverges only with
                # each side's subsequent commits.
                row_tracking_seed=snap.get("row_tracking"),
            )
        finally:
            dest._last_write_stats = {}
        return dest

    def write_stream(
        self,
        df: DataFrame,
        checkpoint_dir: str,
        app_id: str = "versioned_sink",
        available_now: bool = True,
    ):
        """Structured Streaming SINK into this table: foreachBatch +
        txn-idempotent append, so a checkpoint replay after a crash
        cannot double-write a batch (the exactly-once recipe proven in
        tests/test_streaming_medallion.py). Returns the started
        StreamingQuery."""
        writer = df.writeStream.foreachBatch(
            lambda batch_df, batch_id: self.append(
                batch_df, txn=(app_id, batch_id)
            )
        ).option("checkpointLocation", checkpoint_dir)
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def write_stream_merge(
        self,
        df: DataFrame,
        keys: list[str],
        checkpoint_dir: str,
        app_id: str = "versioned_merge_sink",
        available_now: bool = True,
    ):
        """Streaming MERGE (upsert) SINK — the CDC-apply medallion
        pattern: each micro-batch upserts into this table by `keys`
        via foreachBatch + txn-idempotent COW MERGE, so a checkpoint
        replay after a crash can never double-apply a batch (same
        exactly-once recipe as `write_stream`, upgraded from blind
        append to keyed upsert). The batch must be key-unique — for a
        CDC stream with multiple updates per key in one batch, reduce
        to the latest image first (e.g. row_number over a sequence
        column) before the sink. Empty batches are skipped without a
        commit. Returns the started StreamingQuery."""

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.merge(batch_df, keys, txn=(app_id, batch_id))

        writer = df.writeStream.foreachBatch(_apply).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def detail(self) -> dict:
        """Delta `DESCRIBE DETAIL` analog: table-level metadata from
        the current manifest + filesystem sizes (no data scan)."""
        cur = self.current_version()
        if cur is None:
            return {"num_files": 0, "size_bytes": 0, "version": None}
        m = self._load(cur)
        sizes = [
            os.path.getsize(os.path.join(self.path, f)) for f in m["files"]
        ]
        return {
            "version": cur,
            "num_files": len(m["files"]),
            "size_bytes": sum(sizes),
            "partition_columns": list(self.partition_by),
            "constraints": dict(m.get("constraints", {})),
            "added_columns": dict(m.get("added_columns", {})),
            "num_dv_files": len(m.get("deletion_vectors", {})),
            "num_equality_deletes": len(m.get("equality_deletes", [])),
            "row_tracking": m.get("row_tracking") is not None,
            "last_op": m["op"],
        }

    def expire_snapshots(
        self,
        retain_last: int = 5,
        orphan_retention_s: float = 3600.0,
        dry_run: bool = False,
    ) -> dict[str, int]:
        """Expire old manifests and delete data files no remaining
        manifest references (expire_snapshots + remove_orphan_files,
        reference compaction.py:45-79). Also sweeps crashed-writer
        staging dirs.

        Orphan removal is AGE-GATED (Delta VACUUM / Iceberg
        remove_orphan_files ``older_than`` semantics): a file or
        staging dir is only deleted when its mtime is older than
        ``orphan_retention_s`` seconds. An in-flight commit's
        already-moved data files are by definition younger than the
        window, so racing writers cannot lose data to the sweep —
        without the gate, a concurrently publishing manifest could end
        up referencing deleted files. Pass ``orphan_retention_s=0.0``
        ONLY when the caller guarantees no concurrent writers (e.g. a
        single-writer maintenance window, as in tests).

        ``dry_run=True`` (Delta `VACUUM ... DRY RUN`): report what
        WOULD be expired/removed without touching anything."""
        vs = self.versions()
        expired = vs[:-retain_last] if retain_last else vs[:-1]
        if not dry_run:
            for v in expired:
                os.remove(self._manifest_path(v))

        live: set[str] = set()
        retained = [v for v in self.versions() if v not in expired] if dry_run else self.versions()
        for v in retained:
            m = self._load(v)
            live.update(m["files"])
            # DV sidecars referenced by retained manifests are live
            # too — they are .parquet files under _dv/ and would
            # otherwise be swept as orphans.
            for rels in m.get("deletion_vectors", {}).values():
                live.update(rels)
            # Equality-delete sidecars (_eqdel/*.parquet) likewise.
            for e in m.get("equality_deletes", []):
                live.add(e["file"])
        removed = 0
        cutoff = time.time() - orphan_retention_s

        def _old_enough(p: str) -> bool:
            try:
                return os.path.getmtime(p) <= cutoff
            except OSError:
                return False  # vanished mid-scan: another process owns it

        for root, dirs, names in os.walk(self.path, topdown=True):
            dirs[:] = [d for d in dirs if d != _MANIFEST_DIR]
            for d in list(dirs):
                full = os.path.join(root, d)
                if d.startswith("_staging-") and _old_enough(full):
                    if not dry_run:
                        shutil.rmtree(full, ignore_errors=True)
                    dirs.remove(d)
                    removed += 1
            for name in names:
                full = os.path.join(root, name)
                rel = os.path.relpath(full, self.path)
                if (
                    name.endswith(".parquet")
                    and rel not in live
                    and _old_enough(full)
                ):
                    if not dry_run:
                        os.remove(full)
                    removed += 1
        return {"expired_versions": len(expired), "removed_files": removed}
