"""From-scratch snapshot-log table format (Delta-log-shaped, Iceberg-style).

A table is a directory::

    <root>/
      data/<commit-uuid>/[part=val/...]part-*.parquet   # written by Spark, never renamed
      _log/v00000000000000000042.json                   # one commit per version
      _log/checkpoint-v00000000000000000040.parquet     # every CHECKPOINT_INTERVAL-th
      _log/_last_checkpoint                             # pointer
      _ledger/<job-id>/...                              # per-bin lineage (ledger.py)

Commit protocol mirrors kafka-delta-ingest exactly, recast for a local /
object-store filesystem:

- **atomic CAS** on version-file creation (reference: optimistic commit with
  retry on ``VersionAlreadyExists``, /root/reference/src/lib.rs:964-1024 and
  retry budget src/lib.rs:73). Here the CAS is ``os.link`` (create-exclusive)
  of a fully-written temp file onto ``v{N}.json``.
- **pre-commit validation** re-reads the log head and checks (a) app txn
  offsets have not regressed (``ConflictingOffsets``,
  /root/reference/src/lib.rs:1148-1170, src/offsets.rs:150-157), (b) files a
  replace-commit removes are still live (snapshot isolation for rewrites),
  (c) table schema unchanged (``DeltaSchemaChanged``,
  /root/reference/src/writer.rs:369-386).
- **Add actions** carry ``path, size, partition_values, num_records, stats``
  (/root/reference/src/writer.rs:1030-1066); ``Txn``-style app offsets are a
  ``{app_id-partition: offset}`` map (/root/reference/src/delta_helpers.rs:29-40).
- **checkpoints** every 10th version collapse the log into one parquet file
  and allow old-json cleanup (/root/reference/src/delta_helpers.rs:42-68).

Data files are written directly to their final location under a per-commit
uuid directory and made visible only by the log commit — no renames, which
is the only design that works on object stores at 10^6-file scale.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

VERSION_DIGITS = 20
CHECKPOINT_INTERVAL = 10  # ref src/delta_helpers.rs:46
DEFAULT_COMMIT_RETRIES = 64  # ref src/lib.rs:73 uses 10_000_000; we bound sanely
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"  # ref src/writer.rs:43

# type-widening promotion lattice (Iceberg evolution rules): the parquet
# pages keep the narrow physical type, Spark's reader up-casts at scan
# (probed: vectorized reader reads INT32 under a bigint read schema)
_WIDEN: "dict[type, tuple[type, ...]]" = {
    T.ByteType: (T.ShortType, T.IntegerType, T.LongType),
    T.ShortType: (T.IntegerType, T.LongType),
    T.IntegerType: (T.LongType,),
    T.FloatType: (T.DoubleType,),
}


def _is_widening(old: T.DataType, new: T.DataType) -> bool:
    return type(new) in _WIDEN.get(type(old), ())


class TableError(Exception):
    pass


class ConflictingOffsetsError(TableError):
    """App txn offsets in the log moved past ours (ref src/lib.rs:1152-1158)."""


class ConcurrentDeleteError(TableError):
    """A file this replace-commit removes is no longer live."""


class SchemaChangedError(TableError):
    """Table schema drifted since the transaction's base snapshot
    (ref src/writer.rs:369-386, src/lib.rs:954-961)."""


class CommitConflictError(TableError):
    """CAS retry budget exhausted."""


class SchemaEvolutionError(TableError):
    """Rejected schema evolution: only adding NULLABLE columns is safe
    (drops/renames/type changes would break old files and old readers)."""


@dataclass
class FileEntry:
    """One live data file — the Add action payload (ref src/writer.rs:1030-1066)."""

    path: str  # relative to table root
    size: int
    num_records: int
    partition_values: dict[str, str] = field(default_factory=dict)
    # stats: {"min": {col: v}, "max": {col: v}, "null_count": {col: n}}
    # arrays carry null_count only (ref src/writer.rs:676-681)
    stats: dict[str, dict[str, Any]] = field(default_factory=dict)
    # data sequence number = the version that added this file (Iceberg-v2
    # semantics: equality deletes apply only to files with seq < theirs).
    # None in a fresh Add action — replay stamps it with the commit
    # version; serialized explicitly when known so rollback re-adds keep
    # their ORIGINAL seq (a restored file must stay older than the
    # equality deletes that applied to it).
    seq: int | None = None

    def to_json(self) -> dict:
        d = {
            "path": self.path,
            "size": self.size,
            "num_records": self.num_records,
            "partition_values": self.partition_values,
            "stats": self.stats,
        }
        if self.seq is not None:
            d["seq"] = self.seq
        return d

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        return FileEntry(
            path=d["path"],
            size=d["size"],
            num_records=d["num_records"],
            partition_values=d.get("partition_values", {}),
            stats=d.get("stats", {}),
            seq=d.get("seq"),
        )


@dataclass
class DeleteEntry:
    """One delete file (Iceberg-v2 merge-on-read analogue), of two kinds:

    ``kind="position"`` — parquet of ``(data_path string, pos long)``
    rows marking rows of live data files as deleted WITHOUT rewriting
    them — the only sane shape for point deletes against a 10^12-token
    table (copy-on-write rewrites terabytes to drop a handful of rows).
    ``counts`` is deleted-rows-per-covered-data-file, manifest-exact:
    snapshot replay prunes a covered path the moment its data file is
    removed (i.e. a rewrite applied the deletes), so delete entries die
    with the files they cover and no tombstone bookkeeping is needed.

    ``kind="equality"`` — parquet of key values (columns =
    ``equality_ids``) deleting every row of any OLDER data file
    (``file.seq < delete.seq``) whose key matches — the zero-read CDC
    upsert path: one commit = append new rows + equality-delete their
    keys, O(batch) work regardless of table size. ``stats`` carries the
    key min/max so scans and folds skip provably-disjoint files; replay
    prunes the entry when no live intersecting older file remains.
    ``num_rows`` is the delete file's own row count (deleted data rows
    are unknowable without a read — Iceberg shares this property)."""

    path: str  # relative to table root
    size: int
    counts: dict[str, int] = field(default_factory=dict)
    kind: str = "position"
    equality_ids: list[str] = field(default_factory=list)
    num_rows: int = 0  # rows in the delete file itself (equality kind)
    # key min/max for equality pruning: {"min": {col: v}, "max": {col: v}}
    stats: dict[str, dict[str, Any]] = field(default_factory=dict)
    # sequence number = the version that added this entry (equality kind
    # applies to strictly-older data files). Replay stamps it; serialized
    # when known so rollback restores it exactly.
    seq: int | None = None

    @property
    def num_deleted(self) -> int:
        """Exact position-deleted rows; 0 for equality (unknown without
        a read — never overstates manifest accounting)."""
        return sum(self.counts.values())

    def to_json(self) -> dict:
        d = {"path": self.path, "size": self.size, "counts": self.counts}
        if self.kind != "position":
            d.update(
                kind=self.kind,
                equality_ids=self.equality_ids,
                num_rows=self.num_rows,
                stats=self.stats,
            )
        if self.seq is not None:
            d["seq"] = self.seq
        return d

    @staticmethod
    def from_json(d: dict) -> "DeleteEntry":
        return DeleteEntry(
            path=d["path"],
            size=d["size"],
            counts=dict(d.get("counts", {})),
            kind=d.get("kind", "position"),
            equality_ids=list(d.get("equality_ids", [])),
            num_rows=d.get("num_rows", 0),
            stats=d.get("stats", {}),
            seq=d.get("seq"),
        )

    def applies_to(self, fe: "FileEntry") -> bool:
        """Equality kind: does this delete possibly affect ``fe``?
        Older file (seq strictly less, None = being-added = newer) AND
        key ranges intersect (missing stats on either side = must assume
        intersection)."""
        if self.kind != "equality":
            return fe.path in self.counts
        if fe.seq is None or self.seq is None or fe.seq >= self.seq:
            return False
        for c in self.equality_ids:
            dlo = self.stats.get("min", {}).get(c)
            dhi = self.stats.get("max", {}).get(c)
            flo = fe.stats.get("min", {}).get(c)
            fhi = fe.stats.get("max", {}).get(c)
            if None in (dlo, dhi, flo, fhi):
                continue  # no stats -> cannot prune on this column
            if fhi < dlo or dhi < flo:
                return False  # provably disjoint key ranges
        return True


@dataclass
class Transaction:
    """Actions for one atomic commit (ref src/delta_helpers.rs:15-27)."""

    operation: str  # append | replace | merge | expire | manifest-rewrite | create
    adds: list[FileEntry] = field(default_factory=list)
    removes: list[str] = field(default_factory=list)  # relative paths
    # position-delete files this commit adds (merge-on-read DELETE).
    # Maintenance never removes entries explicitly — replay prunes them
    # when the data files they cover are removed; remove_deletes exists
    # for rollback, which must restore a past version's delete set exactly
    add_deletes: list[DeleteEntry] = field(default_factory=list)
    remove_deletes: list[str] = field(default_factory=list)
    app_txns: dict[str, int] = field(default_factory=dict)  # "<app>-<part>" -> offset
    data_change: bool = True  # False for pure rewrites (compaction/cluster)
    metadata: dict[str, Any] = field(default_factory=dict)
    # when set, this commit updates the table schema (snapshot replay picks
    # it up from the commit's "metadata" key, same as the create commit)
    schema_update: "T.StructType | None" = None
    # when set, this commit changes the partition spec for FUTURE writes;
    # existing files keep their original layout (their spec is the
    # partition_values key set recorded per file) until a rewrite migrates
    # them — Iceberg partition-spec evolution
    partition_update: "list[str] | None" = None
    # when set, this commit merges these entries into the table properties
    # (a None value deletes the key) — metadata-only, like schema updates
    properties_update: "dict[str, Any] | None" = None
    # when set, this commit REPLACES the column mapping state:
    # {"map": {logical_name: physical_name}, "dropped": [physical, ...]}.
    # Physical names are parquet column names and NEVER change; renames
    # and drops are metadata-only (Delta column-mapping / Iceberg
    # field-id semantics rebuilt over names)
    mapping_update: "dict | None" = None
    # when set, this commit REPLACES the column-defaults state:
    # {col: {"value": <json literal>, "added_seq": int|None}} — Iceberg
    # v3 initial-defaults: rows of files whose data sequence number
    # predates ``added_seq`` read the default instead of NULL. An
    # ``added_seq`` of None is stamped with the actual committed version
    # inside commit() (CAS retries may bump it)
    defaults_update: "dict | None" = None


class Snapshot:
    """Immutable view of the table at one version. Readers pin this — a
    rewrite committing v+1 never changes what a pinned snapshot scans
    (snapshot isolation; ref readers pin Delta versions,
    tests/helpers/mod.rs:396-405)."""

    def __init__(
        self,
        table: "Table",
        version: int,
        files: dict[str, FileEntry],
        schema: T.StructType,
        partition_cols: list[str],
        app_txns: dict[str, int],
        deletes: "dict[str, DeleteEntry] | None" = None,
        properties: dict | None = None,
        column_mapping: dict | None = None,
        dropped_physical: list | None = None,
        defaults: dict | None = None,
    ):
        self.table = table
        self.version = version
        self._files = files
        self.schema = schema
        self.partition_cols = partition_cols
        self.app_txns = app_txns
        # table properties (write.parquet.* map to writer options,
        # table/writer.py parquet_write_options) — versioned like schema
        self.properties = dict(properties or {})
        self._deletes = deletes or {}
        # logical -> PHYSICAL (parquet) column name, for renamed columns
        # only (identity entries omitted); versioned like the schema, so
        # pinned pre-rename snapshots read under their own names
        self.column_mapping = dict(column_mapping or {})
        # physical names of dropped columns — tombstones that block a new
        # column from silently resurrecting old files' data
        self.dropped_physical = list(dropped_physical or [])
        # Iceberg-v3 initial defaults: {col: {"value": lit, "added_seq": v}}
        # — files with seq < added_seq read the default instead of NULL
        self.defaults = dict(defaults or {})

    @property
    def files(self) -> list[FileEntry]:
        return list(self._files.values())

    @property
    def delete_entries(self) -> "list[DeleteEntry]":
        return list(self._deletes.values())

    def file_paths(self, absolute: bool = True) -> list[str]:
        ps = sorted(self._files)
        if absolute:
            return [os.path.join(self.table.root, p) for p in ps]
        return ps

    def num_records(self) -> int:
        """Physical rows in live data files (position deletes NOT applied)."""
        return sum(f.num_records for f in self._files.values())

    def num_deleted(self) -> int:
        """Rows marked deleted by live position-delete entries."""
        return sum(de.num_deleted for de in self._deletes.values())

    def num_live_records(self) -> int:
        """Rows a scan returns: physical minus position-deleted. An UPPER
        BOUND while equality deletes are live (their deleted-row count is
        unknowable without a read); exact otherwise — check
        ``equality_entries``."""
        return self.num_records() - self.num_deleted()

    @property
    def equality_entries(self) -> "list[DeleteEntry]":
        return [de for de in self._deletes.values() if de.kind == "equality"]

    def total_bytes(self) -> int:
        return sum(f.size for f in self._files.values())

    def scan(
        self,
        spark: SparkSession,
        columns: list[str] | None = None,
        predicate=None,
        predicate_stats: "list[tuple[str, str, Any]] | None" = None,
    ) -> DataFrame:
        """Read the pinned file list as a DataFrame.

        ``predicate_stats`` is a list of simple ``(col, op, literal)``
        conjuncts used for *file-level* pruning against manifest min/max
        before Spark ever lists the files (our analogue of Delta data
        skipping over stats written per ref src/writer.rs:655-707).
        ``predicate`` (a Column) is additionally applied row-level and gets
        pushed into the parquet scan by Catalyst.
        """
        kept = self.files
        if predicate_stats:
            from kafka_delta_ingest_spark.plans.pruning import prune_files
            from kafka_delta_ingest_spark.table import transforms

            # hidden partitioning: map source-column equality conjuncts
            # through the spec's transforms so a doc_id = X predicate
            # prunes on the doc_id_bucket_N partition values too
            conj = list(predicate_stats) + transforms.derived_conjuncts(
                self.partition_cols, predicate_stats
            )
            kept = prune_files(kept, conj, self.schema)
        if not kept:
            return spark.createDataFrame([], self.schema)
        df = self.read(spark, kept, predicate=predicate)
        if predicate is not None:
            df = df.filter(predicate)
        if columns:
            df = df.select(*columns)
        return df

    def read(
        self,
        spark: SparkSession,
        file_entries: "list[FileEntry] | None" = None,
        file_path_col: str | None = None,
        predicate=None,
        row_index_col: str | None = None,
    ) -> DataFrame:
        """Read the given live files (default: all) with position deletes
        applied — the one data-read path every maintenance op shares, so a
        rewrite can never resurrect merge-on-read-deleted rows."""
        from kafka_delta_ingest_spark.table import transforms
        from kafka_delta_ingest_spark.table.scan import read_files_applying_deletes

        return read_files_applying_deletes(
            spark,
            self.table.root,
            self.files if file_entries is None else file_entries,
            self.delete_entries,
            self.schema,
            # scan works on partition KEYS: identity keys reconstruct from
            # the path; transform keys aren't schema fields so the reader
            # ignores them (their source column lives in the data pages)
            transforms.keys(self.partition_cols),
            file_path_col=file_path_col,
            predicate=predicate,
            row_index_col=row_index_col,
            column_mapping=self.column_mapping,
            file_defaults=self.defaults,
        )


class Table:
    def __init__(self, root: str, cas=None):
        # abspath-normalize: joins between manifest paths (built from root)
        # and Spark's input_file_name() (always absolute) must agree even
        # when the caller passes a relative --table path
        self.root = os.path.abspath(root)
        self.log_dir = os.path.join(self.root, "_log")
        self.data_dir = os.path.join(self.root, "data")
        if cas is None:
            from kafka_delta_ingest_spark.table.cas import LocalFsCas

            cas = LocalFsCas()
        self.cas = cas

    # ---------------------------------------------------------------- paths
    def _version_path(self, v: int) -> str:
        return os.path.join(self.log_dir, f"v{v:0{VERSION_DIGITS}d}.json")

    def _checkpoint_path(self, v: int) -> str:
        return os.path.join(self.log_dir, f"checkpoint-v{v:0{VERSION_DIGITS}d}.parquet")

    def new_data_dir(self) -> tuple[str, str]:
        """Fresh per-commit data directory: (absolute, relative)."""
        rel = os.path.join("data", uuid.uuid4().hex)
        absd = os.path.join(self.root, rel)
        os.makedirs(absd, exist_ok=True)
        return absd, rel

    # --------------------------------------------------------------- create
    @staticmethod
    def create(
        root: str,
        schema: T.StructType,
        partition_cols: list[str] | None = None,
        properties: dict | None = None,
    ) -> "Table":
        from kafka_delta_ingest_spark.table import transforms

        transforms.validate_spec(list(partition_cols or []), schema)
        t = Table(root)
        os.makedirs(t.log_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        commit = {
            "version": 0,
            "timestamp_ms": int(time.time() * 1000),
            "operation": "create",
            "metadata": {
                "schema": json.loads(schema.json()),
                "partition_cols": partition_cols or [],
                "properties": dict(properties or {}),
            },
            "add": [],
            "remove": [],
            "app_txns": {},
            "data_change": False,
        }
        t._atomic_write_version(0, commit)
        return t

    def exists(self) -> bool:
        return os.path.isdir(self.log_dir) and self.latest_version() >= 0

    # ----------------------------------------------------------------- log
    def latest_version(self) -> int:
        best = -1
        try:
            for name in os.listdir(self.log_dir):
                if name.startswith("v") and name.endswith(".json"):
                    try:
                        best = max(best, int(name[1 : 1 + VERSION_DIGITS]))
                    except ValueError:
                        pass
        except FileNotFoundError:
            pass
        return best

    def _read_commit(self, v: int) -> dict:
        with open(self._version_path(v)) as f:
            return json.load(f)

    def _latest_checkpoint_at_or_before(self, v: int) -> int | None:
        ptr = os.path.join(self.log_dir, "_last_checkpoint")
        cands = []
        try:
            for name in os.listdir(self.log_dir):
                if name.startswith("checkpoint-v") and name.endswith(".parquet"):
                    cv = int(name[len("checkpoint-v") : len("checkpoint-v") + VERSION_DIGITS])
                    if cv <= v:
                        cands.append(cv)
        except FileNotFoundError:
            pass
        if cands:
            return max(cands)
        if os.path.exists(ptr):  # pointer may name a checkpoint we missed
            with open(ptr) as f:
                cv = json.load(f).get("version", -1)
            if 0 <= cv <= v and os.path.exists(self._checkpoint_path(cv)):
                return cv
        return None

    def version_as_of(self, timestamp_ms: int) -> int:
        """The newest version committed at or before ``timestamp_ms``
        (Iceberg/Delta TIMESTAMP AS OF). Only the live (unexpired) range
        is searchable; raises if the timestamp predates it."""
        best = -1
        head = self.latest_version()
        for v in range(head, -1, -1):
            path = self._version_path(v)
            if not os.path.exists(path):
                break  # older history expired
            ts = self._read_commit(v).get("timestamp_ms")
            if ts is not None and ts <= timestamp_ms:
                best = v
                break
        if best < 0:
            raise TableError(
                f"no live version committed at or before {timestamp_ms}"
            )
        return best

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot:
        """Time travel by wall clock: the snapshot live at the timestamp."""
        return self.snapshot(self.version_as_of(timestamp_ms))

    def snapshot(self, version: int | None = None) -> Snapshot:
        head = self.latest_version()
        if head < 0:
            raise TableError(f"no table at {self.root}")
        v = head if version is None else version
        if v > head or v < 0 or not os.path.exists(self._version_path(v)):
            # version files may have been expired; only live range readable
            raise TableError(f"version {v} not available (head={head})")

        files: dict[str, FileEntry] = {}
        deletes: dict[str, DeleteEntry] = {}
        app_txns: dict[str, int] = {}
        schema: T.StructType | None = None
        partition_cols: list[str] = []
        properties: dict = {}
        colmap: dict = {"map": {}, "dropped": []}
        defaults: dict = {}

        start = 0
        ckpt = self._latest_checkpoint_at_or_before(v)
        if ckpt is not None:
            tbl = pq.read_table(self._checkpoint_path(ckpt))
            meta = json.loads(tbl.schema.metadata[b"kdi_meta"].decode())
            schema = T.StructType.fromJson(meta["schema"])
            partition_cols = meta["partition_cols"]
            app_txns = dict(meta.get("app_txns", {}))
            properties = dict(meta.get("properties", {}))
            colmap = dict(meta.get("column_mapping", colmap))
            defaults = dict(meta.get("column_defaults", {}))
            for d in meta.get("delete_entries", []):
                de = DeleteEntry.from_json(d)
                deletes[de.path] = de
            has_seq = "seq" in tbl.column_names
            for row in tbl.to_pylist():
                fe = FileEntry(
                    path=row["path"],
                    size=row["size"],
                    num_records=row["num_records"],
                    partition_values=json.loads(row["partition_values"]),
                    stats=json.loads(row["stats"]),
                    # pre-seq checkpoints can only exist without equality
                    # deletes (same code version introduced both) -> 0
                    seq=(row["seq"] if has_seq else 0),
                )
                files[fe.path] = fe
            start = ckpt + 1

        for i in range(start, v + 1):
            c = self._read_commit(i)
            if "metadata" in c and c["metadata"].get("schema"):
                schema = T.StructType.fromJson(c["metadata"]["schema"])
                partition_cols = c["metadata"].get("partition_cols", [])
            if "metadata" in c and "properties" in c["metadata"]:
                properties = dict(c["metadata"]["properties"])
            if "metadata" in c and "column_mapping" in c["metadata"]:
                colmap = dict(c["metadata"]["column_mapping"])
            if "metadata" in c and "column_defaults" in c["metadata"]:
                defaults = dict(c["metadata"]["column_defaults"])
            removed = c.get("remove", [])
            for rp in removed:
                files.pop(rp, None)
            if removed and deletes:
                # a removed data file takes its position deletes with it:
                # the rewrite that removed it read through Snapshot.read,
                # which applies deletes, so the replacement file already
                # lacks those rows. Entries left covering nothing drop out.
                rset = set(removed)
                for dp in list(deletes):
                    de = deletes[dp]
                    if rset & de.counts.keys():
                        nc = {
                            p: n for p, n in de.counts.items() if p not in rset
                        }
                        if nc:
                            deletes[dp] = DeleteEntry(de.path, de.size, nc)
                        else:
                            del deletes[dp]
            for a in c.get("add", []):
                fe = FileEntry.from_json(a)
                if fe.seq is None:
                    fe.seq = i  # stamp: data sequence number = add version
                files[fe.path] = fe
            for dp in c.get("remove_delete", []):
                deletes.pop(dp, None)
            for d in c.get("add_delete", []):
                de = DeleteEntry.from_json(d)
                if de.seq is None:
                    de.seq = i
                if de.kind == "equality":
                    deletes[de.path] = de
                    continue
                # only live files can be covered (commit validation); keep
                # replay robust anyway by intersecting with the live set
                nc = {p: n for p, n in de.counts.items() if p in files}
                if nc:
                    deletes[de.path] = DeleteEntry(
                        de.path, de.size, nc, seq=de.seq
                    )
            app_txns.update(c.get("app_txns", {}))
        if schema is None:
            raise TableError("log contains no schema metadata")
        # an equality delete dies when no live intersecting OLDER file
        # remains (a fold rewrote them all; rewritten files carry newer
        # seqs and are exempt) — same lifecycle as position entries dying
        # with their covered files, derived from metadata alone
        live = list(files.values())
        for dp in [
            p
            for p, de in deletes.items()
            if de.kind == "equality"
            and not any(de.applies_to(fe) for fe in live)
        ]:
            del deletes[dp]
        return Snapshot(
            self, v, files, schema, partition_cols, app_txns, deletes,
            properties=properties,
            column_mapping=colmap.get("map", {}),
            dropped_physical=colmap.get("dropped", []),
            defaults=defaults,
        )

    # --------------------------------------------------------------- commit
    def _atomic_write_version(self, v: int, commit: dict) -> None:
        """CAS via the pluggable backend's put-if-absent (table/cas.py):
        raises FileExistsError when another committer won — the storage-
        agnostic equivalent of Delta's VersionAlreadyExists
        (ref src/lib.rs:964-1023). Local FS uses temp-file + hard-link;
        object stores use conditional PUT / a lock table (README.adoc:219-234)."""
        self.cas.put_if_absent(
            self._version_path(v), json.dumps(commit).encode()
        )

    def txn_version(self, app_key: str) -> int:
        """Last committed offset for an app txn key, -1 if none
        (ref delta_helpers.rs:70-80: last_txn_version)."""
        return self.snapshot().app_txns.get(app_key, -1)

    def set_properties(self, updates: "dict[str, Any]") -> int:
        """Merge ``updates`` into the table properties as one metadata-only
        atomic commit (a None value deletes the key). Properties are
        versioned with the log: pinned snapshots keep the properties they
        were committed with. ``write.parquet.*`` properties become parquet
        writer options on every subsequent data write
        (table/writer.py parquet_write_options)."""
        return self.commit(
            Transaction(
                operation="set-properties",
                data_change=False,
                properties_update=dict(updates),
            )
        )

    def evolve_schema(
        self, new_schema: T.StructType, defaults: "dict[str, Any] | None" = None
    ) -> int:
        """Additive schema evolution as a metadata-only atomic commit.

        ``defaults``: optional ``{new_column: literal}`` initial defaults
        (Iceberg v3): rows of files written BEFORE the column existed
        read the default instead of NULL — metadata-only, applied at scan
        by the data-sequence-number test ``file.seq < added_seq``. Rows
        written after the add keep whatever the writer supplied
        (explicit NULL stays NULL). Primitive literals only.

        Only ADD-nullable-column is allowed: every existing field must
        appear unchanged (name, type, nullability) and every new field
        must be nullable — the evolution no old reader or old file can
        break. Old parquet files simply lack the new columns; the
        schema-pinned scan (scan.py read_files reads with the SNAPSHOT
        schema, not inference) fills them with NULLs, so no data rewrite
        happens and pinned pre-evolution snapshots keep their old schema
        (time travel covers metadata too). Concurrent writers that
        validated against the old schema detect the evolution via
        ``commit(expected_schema=...)`` → SchemaChangedError, exactly the
        reference's drift check (src/writer.rs:369-386)."""
        snap = self.snapshot()
        old = {f.name: f for f in snap.schema.fields}
        new = {f.name: f for f in new_schema.fields}
        dropped = sorted(set(old) - set(new))
        if dropped:
            raise SchemaEvolutionError(f"cannot drop columns: {dropped}")
        for name, f in old.items():
            nf = new[name]
            type_ok = nf.dataType == f.dataType or _is_widening(
                f.dataType, nf.dataType
            )
            # relaxing NOT NULL -> nullable is always safe (Iceberg's
            # make_column_optional); the reverse is not provable
            null_ok = nf.nullable == f.nullable or (
                nf.nullable and not f.nullable
            )
            if not (type_ok and null_ok):
                raise SchemaEvolutionError(
                    f"cannot change column {name!r}: "
                    f"{f.dataType.simpleString()} (nullable={f.nullable}) -> "
                    f"{nf.dataType.simpleString()} (nullable={nf.nullable}) "
                    "— only widening promotions "
                    "(byte→short→int→long, float→double) and NOT NULL "
                    "relaxation are allowed"
                )
        bad = sorted(n for n, f in new.items() if n not in old and not f.nullable)
        if bad:
            raise SchemaEvolutionError(f"new columns must be nullable: {bad}")
        # a new logical name that equals a dropped column's PHYSICAL name
        # (or a renamed column's physical name) would make scans of OLD
        # files resurrect the old bytes into the new column
        taken = set(snap.dropped_physical) | (
            {snap.column_mapping.get(f.name, f.name) for f in snap.schema.fields}
            - {f.name for f in snap.schema.fields}
        )
        ghost = sorted(n for n in new if n not in old and n in taken)
        if ghost:
            raise SchemaEvolutionError(
                f"new columns shadow existing physical names: {ghost} "
                "(dropped or renamed-away columns leave their parquet "
                "name occupied in old files)"
            )
        defaults_update = None
        if defaults:
            added = set(new) - set(old)
            bad_cols = sorted(set(defaults) - added)
            if bad_cols:
                raise SchemaEvolutionError(
                    f"defaults only apply to newly added columns: {bad_cols}"
                )
            for c, val in defaults.items():
                if not isinstance(val, (int, float, str, bool)):
                    raise SchemaEvolutionError(
                        f"default for {c!r} must be a primitive literal, "
                        f"got {type(val).__name__}"
                    )
            defaults_update = {
                **snap.defaults,
                **{
                    c: {"value": v, "added_seq": None}  # stamped in commit()
                    for c, v in defaults.items()
                },
            }
        return self.commit(
            Transaction(
                operation="evolve-schema",
                data_change=False,
                schema_update=new_schema,
                defaults_update=defaults_update,
            )
        )

    def _mapping_preconditions(self, snap: "Snapshot", col: str, op: str):
        from kafka_delta_ingest_spark.table import transforms

        if col not in {f.name for f in snap.schema.fields}:
            raise SchemaEvolutionError(f"cannot {op} unknown column {col!r}")
        sources = set()
        for e in snap.partition_cols:
            _k, c, _p = transforms.parse(e)
            sources.add(c)
        if col in sources:
            raise SchemaEvolutionError(
                f"cannot {op} partition-spec source column {col!r} "
                "(evolve the partition spec first)"
            )
        if snap.delete_entries:
            raise SchemaEvolutionError(
                f"cannot {op} a column while merge-on-read deletes are "
                "live (equality-delete files reference columns by name — "
                "fold them first: rewrite_deletes / compact / optimize)"
            )

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename (Delta column-mapping semantics).

        The PHYSICAL parquet name never changes — old files and new files
        keep writing the original name; scans read physical names and
        alias them back to the current logical schema. Zero data moves;
        pinned pre-rename snapshots keep their old logical names (the
        mapping is versioned with the log). Refused for partition-spec
        source columns (their name is baked into recorded partition
        values) and while MOR deletes are live."""
        snap = self.snapshot()
        self._mapping_preconditions(snap, old, "rename")
        names = {f.name for f in snap.schema.fields}
        if new in names:
            raise SchemaEvolutionError(f"rename target {new!r} already exists")
        physical = snap.column_mapping.get(old, old)
        active_physical = {
            snap.column_mapping.get(f.name, f.name) for f in snap.schema.fields
        }
        if new != physical and (
            new in active_physical or new in snap.dropped_physical
        ):
            # a logical name that shadows someone else's PHYSICAL name
            # would make scans read the wrong parquet column
            raise SchemaEvolutionError(
                f"rename target {new!r} collides with a physical column name"
            )
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType,
                              f.nullable)
                for f in snap.schema.fields
            ]
        )
        mapping = dict(snap.column_mapping)
        mapping.pop(old, None)
        if new != physical:
            mapping[new] = physical
        defaults_update = None
        if old in snap.defaults:
            defaults_update = dict(snap.defaults)
            defaults_update[new] = defaults_update.pop(old)
        return self.commit(
            Transaction(
                operation="rename-column",
                data_change=False,
                schema_update=new_schema,
                mapping_update={
                    "map": mapping,
                    "dropped": snap.dropped_physical,
                },
                defaults_update=defaults_update,
                metadata={"renamed": {old: new}},
            )
        )

    def drop_column(self, name: str) -> int:
        """Metadata-only column drop. Data files keep the bytes (pinned
        pre-drop snapshots still read them); the physical name goes into
        a tombstone list so a later ``evolve_schema`` cannot add a column
        that would silently resurrect the old files' values."""
        snap = self.snapshot()
        self._mapping_preconditions(snap, name, "drop")
        if len(snap.schema.fields) == 1:
            raise SchemaEvolutionError("cannot drop the only column")
        physical = snap.column_mapping.get(name, name)
        new_schema = T.StructType(
            [f for f in snap.schema.fields if f.name != name]
        )
        mapping = dict(snap.column_mapping)
        mapping.pop(name, None)
        dropped = sorted(set(snap.dropped_physical) | {physical})
        defaults_update = None
        if name in snap.defaults:
            defaults_update = dict(snap.defaults)
            defaults_update.pop(name)
        return self.commit(
            Transaction(
                operation="drop-column",
                data_change=False,
                schema_update=new_schema,
                mapping_update={"map": mapping, "dropped": dropped},
                defaults_update=defaults_update,
                metadata={"dropped_column": name},
            )
        )

    def truncate(self) -> int:
        """TRUNCATE TABLE: one metadata-only commit removing every live
        data file and delete entry — zero data I/O at any scale. Pinned
        pre-truncate snapshots keep reading their files until snapshot
        expiry + orphan GC reclaims them (Delta TRUNCATE semantics:
        logical emptiness now, physical reclamation later)."""
        snap = self.snapshot()
        return self.commit(
            Transaction(
                operation="truncate",
                removes=[f.path for f in snap.files],
                remove_deletes=[de.path for de in snap.delete_entries],
                data_change=True,
            ),
            expected_schema=snap.schema,
        )

    def evolve_partitioning(self, new_partition_cols: list[str]) -> int:
        """Partition-spec evolution as a metadata-only atomic commit.

        Iceberg semantics: the new spec applies to FUTURE writes only.
        Existing files keep the layout they were written under — each
        manifest entry records its own ``partition_values`` key set, so
        the scan (scan.py read_entries) groups files by their recorded
        spec and reconstructs each group's partition columns from its
        paths. No data rewrite happens at evolution time; a later
        compaction/optimize pass migrates old files to the new spec
        lazily. Spec entries are identity columns or hidden-partitioning
        transforms — ``bucket(N,col)`` / ``truncate(W,col)``
        (table/transforms.py); every source column must exist in the
        schema."""
        from kafka_delta_ingest_spark.table import transforms

        snap = self.snapshot()
        try:
            transforms.validate_spec(list(new_partition_cols), snap.schema)
        except ValueError as e:
            raise SchemaEvolutionError(str(e)) from None
        return self.commit(
            Transaction(
                operation="evolve-partitioning",
                data_change=False,
                partition_update=list(new_partition_cols),
            )
        )

    def commit(
        self,
        txn: Transaction,
        expected_schema: T.StructType | None = None,
    ) -> int:
        """Validate against the current head and CAS the next version.

        Validation per attempt (ref src/lib.rs:931-1024):
        - removes must all still be live (else ConcurrentDeleteError);
        - for each app_txn key, the stored offset must be < ours
          (else ConflictingOffsetsError, ref src/lib.rs:1148-1170);
        - if ``expected_schema`` given, table schema must equal it
          (else SchemaChangedError, ref src/writer.rs:369-386).
        """
        attempt = 0
        while True:
            attempt += 1
            snap = self.snapshot()
            if expected_schema is not None and json.loads(snap.schema.json()) != json.loads(
                expected_schema.json()
            ):
                raise SchemaChangedError(
                    f"table schema changed at version {snap.version}"
                )
            live = {f.path for f in snap.files}
            missing = [p for p in txn.removes if p not in live]
            if missing:
                raise ConcurrentDeleteError(
                    f"{len(missing)} removed files no longer live, e.g. {missing[:3]}"
                )
            live_after = (live | {a.path for a in txn.adds}) - set(txn.removes)
            for de in txn.add_deletes:
                if de.kind == "equality":
                    snames = {f.name for f in snap.schema.fields}
                    bad_ids = [c for c in de.equality_ids if c not in snames]
                    if not de.equality_ids or bad_ids:
                        raise TableError(
                            f"equality delete {de.path}: ids must be "
                            f"non-empty schema columns (bad: {bad_ids})"
                        )
                    continue
                # position deletes may only cover files that are live AFTER
                # this commit (covering a file this txn removes is a plan
                # bug; covering a dead file is a concurrency conflict)
                bad = [p for p in de.counts if p not in live_after]
                if bad:
                    raise ConcurrentDeleteError(
                        f"delete file {de.path} covers non-live data files, "
                        f"e.g. {bad[:3]}"
                    )
            # equality deletes hide an unknowable number of rows in the
            # files they apply to, so a rewrite that folds them cannot be
            # conservation-checked from metadata (Iceberg shares this
            # blind spot); the check stays exact everywhere else
            eq_applies_to_removed = any(
                de.kind == "equality" and de.applies_to(snap._files[p])
                for de in snap.delete_entries
                for p in txn.removes
                if p in snap._files
            )
            if (
                not txn.data_change
                and (txn.adds or txn.removes)
                and not eq_applies_to_removed
            ):
                # a pure rewrite (compact/cluster/manifest) must conserve
                # LIVE rows (physical minus position-deleted): simulate the
                # post-commit manifest and require the live-row total to be
                # unchanged — all from metadata, no data scan. Catches
                # rewrite plans that silently dropped rows (broken file->bin
                # join) AND rewrites that resurrected merge-on-read-deleted
                # rows (bypassed Snapshot.read) before they commit as loss.
                before = {p: fe.num_records for p, fe in snap._files.items()}
                after = dict(before)
                removed = set(txn.removes)
                for p in txn.removes:
                    after.pop(p, None)
                for a in txn.adds:
                    after[a.path] = a.num_records
                del_before = snap.num_deleted()
                rdel = set(txn.remove_deletes)
                del_after = sum(
                    n
                    for de in snap.delete_entries
                    if de.path not in rdel
                    for p, n in de.counts.items()
                    if p not in removed
                ) + sum(de.num_deleted for de in txn.add_deletes)
                live_before = sum(before.values()) - del_before
                live_after = sum(after.values()) - del_after
                if live_after != live_before:
                    raise TableError(
                        f"data_change=False commit does not conserve rows "
                        f"(live = physical - position-deleted): "
                        f"{live_before} -> {live_after} ({txn.operation})"
                    )
            for key, off in txn.app_txns.items():
                stored = snap.app_txns.get(key, -1)
                if stored >= off:
                    raise ConflictingOffsetsError(
                        f"txn {key}: stored offset {stored} >= attempted {off}"
                    )
            v = snap.version + 1
            commit = {
                "version": v,
                "timestamp_ms": int(time.time() * 1000),
                "operation": txn.operation,
                "add": [a.to_json() for a in txn.adds],
                "remove": list(txn.removes),
                **(
                    {"add_delete": [d.to_json() for d in txn.add_deletes]}
                    if txn.add_deletes
                    else {}
                ),
                **(
                    {"remove_delete": list(txn.remove_deletes)}
                    if txn.remove_deletes
                    else {}
                ),
                "app_txns": txn.app_txns,
                "data_change": txn.data_change,
                "op_metadata": txn.metadata,
            }
            if txn.schema_update is not None or txn.partition_update is not None:
                commit["metadata"] = {
                    "schema": json.loads((txn.schema_update or snap.schema).json()),
                    "partition_cols": (
                        list(txn.partition_update)
                        if txn.partition_update is not None
                        else snap.partition_cols
                    ),
                }
            if txn.properties_update is not None:
                merged = dict(snap.properties)
                for k, pv in txn.properties_update.items():
                    if pv is None:
                        merged.pop(k, None)
                    else:
                        merged[k] = pv
                commit.setdefault("metadata", {})["properties"] = merged
            if txn.mapping_update is not None:
                # a mapping change always rides with its schema_update;
                # replay applies them from the same commit atomically
                commit.setdefault("metadata", {}).setdefault(
                    "schema", json.loads((txn.schema_update or snap.schema).json())
                )
                commit["metadata"].setdefault(
                    "partition_cols", snap.partition_cols
                )
                commit["metadata"]["column_mapping"] = txn.mapping_update
            if txn.defaults_update is not None:
                commit.setdefault("metadata", {}).setdefault(
                    "schema", json.loads((txn.schema_update or snap.schema).json())
                )
                commit["metadata"].setdefault(
                    "partition_cols", snap.partition_cols
                )
                # stamp the ACTUAL version: CAS retries bump v, and the
                # applies-to test (file.seq < added_seq) must not claim
                # files committed by the racers we lost to
                stamped = {
                    c: {
                        "value": d["value"],
                        "added_seq": v if d.get("added_seq") is None
                        else d["added_seq"],
                    }
                    for c, d in txn.defaults_update.items()
                }
                commit["metadata"]["column_defaults"] = stamped
            try:
                self._atomic_write_version(v, commit)
            except FileExistsError:
                if attempt >= DEFAULT_COMMIT_RETRIES:
                    raise CommitConflictError(
                        f"lost CAS race {attempt} times at {self.root}"
                    )
                continue
            if v % CHECKPOINT_INTERVAL == 0:
                try:
                    self._write_checkpoint(v)
                except Exception:
                    pass  # checkpoints are an optimization; never fail a commit
            return v

    # ----------------------------------------------------------- checkpoint
    def _write_checkpoint(self, v: int) -> None:
        """Collapse the log at ``v`` into one parquet file
        (ref try_create_checkpoint, src/delta_helpers.rs:42-58)."""
        snap = self.snapshot(v)
        rows = {
            "path": [f.path for f in snap.files],
            "size": [f.size for f in snap.files],
            "num_records": [f.num_records for f in snap.files],
            "partition_values": [json.dumps(f.partition_values) for f in snap.files],
            "stats": [json.dumps(f.stats) for f in snap.files],
            # data sequence numbers survive log collapse: equality-delete
            # applicability (file.seq < delete.seq) must hold across it
            "seq": [f.seq if f.seq is not None else 0 for f in snap.files],
        }
        meta = {
            "schema": json.loads(snap.schema.json()),
            "partition_cols": snap.partition_cols,
            "app_txns": snap.app_txns,
            "properties": snap.properties,
            "column_mapping": {
                "map": snap.column_mapping,
                "dropped": snap.dropped_physical,
            },
            "column_defaults": snap.defaults,
            # position-delete entries ride in the metadata blob: they are
            # few by construction (rewrite_position_deletes folds them in,
            # replay drops them with their covered files), unlike the
            # file list which grows with the table
            "delete_entries": [de.to_json() for de in snap.delete_entries],
        }
        tbl = pa.table(
            rows,
            schema=pa.schema(
                [
                    ("path", pa.string()),
                    ("size", pa.int64()),
                    ("num_records", pa.int64()),
                    ("partition_values", pa.string()),
                    ("stats", pa.string()),
                    ("seq", pa.int64()),
                ],
                metadata={b"kdi_meta": json.dumps(meta).encode()},
            ),
        )
        tmp = self._checkpoint_path(v) + f".tmp-{uuid.uuid4().hex}"
        pq.write_table(tbl, tmp)
        os.replace(tmp, self._checkpoint_path(v))
        ptr = os.path.join(self.log_dir, "_last_checkpoint")
        tmp2 = ptr + f".tmp-{uuid.uuid4().hex}"
        with open(tmp2, "w") as f:
            json.dump({"version": v}, f)
        os.replace(tmp2, ptr)

    # ---------------------------------------------------------------- refs
    # branches / tags / write-audit-publish — implementation in
    # table/refs.py; thin delegates here so the Table object is the API
    def create_branch(self, name: str, at_version: int | None = None):
        from kafka_delta_ingest_spark.table import refs

        return refs.create_branch(self, name, at_version)

    def branch(self, name: str):
        from kafka_delta_ingest_spark.table import refs

        return refs.Branch(self, name)

    def list_branches(self) -> dict[str, int]:
        from kafka_delta_ingest_spark.table import refs

        return refs.list_branches(self)

    def drop_branch(self, name: str) -> None:
        from kafka_delta_ingest_spark.table import refs

        refs.drop_branch(self, name)

    def publish_branch(self, branch, drop: bool = True) -> int:
        from kafka_delta_ingest_spark.table import refs

        if isinstance(branch, str):
            branch = refs.Branch(self, branch)
        return refs.publish_branch(self, branch, drop=drop)

    def create_tag(self, name: str, version: int | None = None) -> int:
        from kafka_delta_ingest_spark.table import refs

        return refs.create_tag(self, name, version)

    def tag_version(self, name: str) -> int:
        from kafka_delta_ingest_spark.table import refs

        return refs.tag_version(self, name)

    def list_tags(self) -> dict[str, int]:
        from kafka_delta_ingest_spark.table import refs

        return refs.list_tags(self)

    def delete_tag(self, name: str) -> None:
        from kafka_delta_ingest_spark.table import refs

        refs.delete_tag(self, name)

    def protected_versions(self) -> list[int]:
        """Main versions pinned by refs: tag targets and branch fork
        points. Snapshot expiry must keep these readable and orphan GC
        must keep their files (maintenance/expire.py)."""
        from kafka_delta_ingest_spark.table import refs

        return sorted(
            set(refs.list_tags(self).values())
            | set(refs.list_branches(self).values())
        )

    # ------------------------------------------------------------- history
    def history(self) -> list[dict]:
        out = []
        for i in range(self.latest_version() + 1):
            p = self._version_path(i)
            if os.path.exists(p):
                c = self._read_commit(i)
                out.append(
                    {
                        "version": c["version"],
                        "operation": c.get("operation"),
                        "timestamp_ms": c.get("timestamp_ms"),
                        "n_add": len(c.get("add", [])),
                        "n_remove": len(c.get("remove", [])),
                        "data_change": c.get("data_change", True),
                    }
                )
        return out

    def all_referenced_paths(self) -> set[str]:
        """Every data path referenced by any *readable* version (for GC)."""
        refs: set[str] = set()
        head = self.latest_version()
        # checkpoints may reference files whose commits were cleaned
        for i in range(head + 1):
            p = self._version_path(i)
            if os.path.exists(p):
                c = self._read_commit(i)
                for a in c.get("add", []):
                    refs.add(a["path"])
                for d in c.get("add_delete", []):
                    refs.add(d["path"])
        for name in os.listdir(self.log_dir):
            if name.startswith("checkpoint-v") and name.endswith(".parquet"):
                fp = os.path.join(self.log_dir, name)
                tbl = pq.read_table(fp, columns=["path"])
                refs.update(tbl.column("path").to_pylist())
                meta = pq.read_schema(fp).metadata or {}
                if b"kdi_meta" in meta:
                    for d in json.loads(meta[b"kdi_meta"].decode()).get(
                        "delete_entries", []
                    ):
                        refs.add(d["path"])
        # unpublished branch commits reference data files too — an audit
        # branch's staged files must survive a concurrent GC on main
        branches_dir = os.path.join(self.log_dir, "branches")
        if os.path.isdir(branches_dir):
            for bname in os.listdir(branches_dir):
                bdir = os.path.join(branches_dir, bname)
                try:
                    names = os.listdir(bdir)
                except NotADirectoryError:
                    continue
                for fn in names:
                    if not (fn.startswith("v") and fn.endswith(".json")):
                        continue
                    with open(os.path.join(bdir, fn)) as f:
                        c = json.load(f)
                    for a in c.get("add", []):
                        refs.add(a["path"])
                    for d in c.get("add_delete", []):
                        refs.add(d["path"])
        return refs
