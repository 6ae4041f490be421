"""Table doctor — fsck for the snapshot-log table format.

Production lakehouses run consistency checks on a schedule because
metadata and storage drift apart in exactly the ways no single writer
can see: a GC raced a slow commit, an operator rm'd a "temp" directory,
an object-store bucket policy expired files, a crashed job left staged
debris. The reference trusts Delta's transaction protocol end-to-end;
operating a from-scratch format demands the audit tool alongside it.

``check_table`` verifies, metadata + ``stat()`` only (no data read,
O(live files) driver work — at 10^12 rows this is a manifest walk):

- **log integrity**: the commit chain 0..head is readable and gap-free
  up to the earliest retained version (expiry truncates the tail
  legitimately; a HOLE between retained versions is corruption);
- **file existence + size**: every live data/delete file exists on disk
  and matches its manifest ``size`` byte-for-byte (a size mismatch means
  a partial write or an overwrite — either is data loss at scan time);
- **delete-entry referential integrity**: every position-delete's
  covered path is a live data file (replay is supposed to prune dead
  covers — a dangling cover means replay drift);
- **partition-value/path agreement**: each file's recorded
  ``partition_values`` appear as ``col=value`` segments of its path
  (scan-side reconstruction depends on it);
- **checkpoint parity**: replaying from the latest checkpoint yields the
  same live file set as the checkpoint-free JSON replay;
- **stats artifact sanity** (if present): the index of each per-file
  stats artifact under ``_stats/`` (NDV sketches, key blooms) points at
  an existing artifact directory;
- **orphan pressure** (informational): bytes under ``data/`` that no
  live file references — input to ``gc_orphans``, not an error (old
  snapshots and staged commits legitimately hold space).

Every finding is ``{"check", "severity", "detail"}`` with severity
``error`` (scans are or will be wrong) or ``warn`` (waste/staleness).
``ok`` is True iff no errors. CLI: ``jobs/maintain.py --op doctor``.
"""

from __future__ import annotations

import os

from kafka_delta_ingest_spark.table.format import Table


def _finding(check: str, severity: str, detail: str) -> dict:
    return {"check": check, "severity": severity, "detail": detail}


def check_table(table: Table) -> dict:
    """Run every consistency check; returns ``{"ok", "head",
    "findings", "checked_files", "orphan_bytes"}``."""
    findings: list[dict] = []
    head = table.latest_version()
    if head < 0:
        return {
            "ok": False,
            "head": head,
            "findings": [_finding("log", "error", f"no table at {table.root}")],
            "checked_files": 0,
            "orphan_bytes": 0,
        }

    # log chain: readable versions must be a suffix 0|k..head with no holes
    present = sorted(
        v
        for v in range(head + 1)
        if os.path.exists(table._version_path(v))
    )
    if not present or present[-1] != head:
        findings.append(
            _finding("log", "error", f"head v{head} commit file missing")
        )
    else:
        expect = list(range(present[0], head + 1))
        if present != expect:
            missing = sorted(set(expect) - set(present))
            findings.append(
                _finding(
                    "log", "error",
                    f"holes in the retained commit chain: missing {missing}",
                )
            )

    # a holed chain (or unreadable commit) can make replay itself
    # impossible — that's the most severe finding, not a crash
    try:
        snap = table.snapshot()
    except Exception as exc:  # noqa: BLE001 — report, don't die
        findings.append(
            _finding("log", "error", f"snapshot replay failed: {exc}")
        )
        return {
            "ok": False,
            "head": head,
            "findings": findings,
            "checked_files": 0,
            "orphan_bytes": 0,
        }

    checked = 0
    live_paths = set()
    for f in snap.files:
        live_paths.add(f.path)
        full = os.path.join(table.root, f.path)
        checked += 1
        if not os.path.exists(full):
            findings.append(
                _finding("files", "error", f"live file missing: {f.path}")
            )
            continue
        actual = os.path.getsize(full)
        if actual != f.size:
            findings.append(
                _finding(
                    "files", "error",
                    f"size mismatch {f.path}: manifest {f.size} B, "
                    f"disk {actual} B",
                )
            )
        # partition values must be visible in the path for reconstruction
        segs = set(f.path.split(os.sep)[:-1])
        for col, val in f.partition_values.items():
            if not any(s.startswith(f"{col}=") for s in segs):
                findings.append(
                    _finding(
                        "partitions", "error",
                        f"{f.path}: recorded partition {col}={val!r} "
                        "absent from its path",
                    )
                )

    for de in snap.delete_entries:
        full = os.path.join(table.root, de.path)
        if not os.path.exists(full):
            findings.append(
                _finding("deletes", "error", f"delete file missing: {de.path}")
            )
        if de.kind == "position":
            for covered in de.counts:
                if covered not in live_paths:
                    findings.append(
                        _finding(
                            "deletes", "error",
                            f"{de.path} covers non-live file {covered} "
                            "(replay should have pruned it)",
                        )
                    )

    # checkpoint parity: the checkpoint parquet's live-file set must
    # equal a pure-JSON replay of commits 0..ckpt. Read-only: the
    # checkpoint is read directly with pyarrow and the JSON commits are
    # folded here (snapshot() cannot do this — it discovers checkpoint
    # files by listing, so no amount of pointer games gives a
    # checkpoint-free replay through the normal path).
    ckpt = table._latest_checkpoint_at_or_before(head)
    if ckpt is not None and ckpt > 0 and all(
        os.path.exists(table._version_path(v)) for v in range(ckpt + 1)
    ):
        import json as _json

        import pyarrow.parquet as pq

        ckpt_paths = set(
            pq.read_table(
                table._checkpoint_path(ckpt), columns=["path"]
            )["path"].to_pylist()
        )
        pure: set[str] = set()
        for v in range(ckpt + 1):
            with open(table._version_path(v)) as fh:
                c = _json.load(fh)
            for r in c.get("remove", []):
                pure.discard(r)
            for a in c.get("add", []):
                pure.add(a["path"])
        if pure != ckpt_paths:
            findings.append(
                _finding(
                    "checkpoint", "error",
                    f"checkpoint v{ckpt} file set diverges from the "
                    f"JSON replay of commits 0..{ckpt}: "
                    f"{len(pure ^ ckpt_paths)} file(s) differ",
                )
            )

    # stats artifact sanity: each kind's index must point at an existing
    # directory; a stale-but-valid index is fine (consumers treat files
    # it does not cover conservatively)
    from kafka_delta_ingest_spark.maintenance import artifacts

    for kind, check in (("ndv", "stats"), ("bloom", "bloom")):
        idx = artifacts.load_index(table, kind)
        if idx is not None and not os.path.isdir(
            artifacts.artifact_path(table, kind, idx)
        ):
            findings.append(
                _finding(
                    check, "error",
                    f"{kind} index points at missing artifact "
                    f"{idx['artifact']}",
                )
            )

    # column-mapping / defaults metadata sanity: the scan trusts these
    # without re-validation, so a hand-edited or corrupted commit that
    # breaks their invariants must surface here
    schema_names = {f.name for f in snap.schema.fields}
    bad_map = sorted(set(snap.column_mapping) - schema_names)
    if bad_map:
        findings.append(
            _finding(
                "mapping", "error",
                f"column mapping references unknown columns: {bad_map}",
            )
        )
    physicals = [
        snap.column_mapping.get(f.name, f.name) for f in snap.schema.fields
    ]
    if len(set(physicals)) != len(physicals):
        findings.append(
            _finding(
                "mapping", "error",
                "two logical columns map to the same physical name",
            )
        )
    ghost = sorted(set(snap.dropped_physical) & set(physicals))
    if ghost:
        findings.append(
            _finding(
                "mapping", "error",
                f"dropped physical names are also active: {ghost}",
            )
        )
    bad_def = sorted(set(snap.defaults) - schema_names)
    if bad_def:
        findings.append(
            _finding(
                "defaults", "error",
                f"column defaults reference unknown columns: {bad_def}",
            )
        )
    for c, d in snap.defaults.items():
        if c in bad_def:
            continue
        if not isinstance(d, dict) or "value" not in d or not isinstance(
            d.get("added_seq"), int
        ):
            findings.append(
                _finding(
                    "defaults", "error",
                    f"malformed default entry for {c!r}: {d!r}",
                )
            )
        elif d["added_seq"] > head:
            findings.append(
                _finding(
                    "defaults", "error",
                    f"default for {c!r} has added_seq {d['added_seq']} "
                    f"beyond head {head}",
                )
            )

    # orphan pressure (informational): unreferenced bytes under data/
    orphan_bytes = 0
    for dirpath, _dirs, files in os.walk(table.data_dir):
        for fn in files:
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, table.root)
            if rel not in live_paths and not any(
                de.path == rel for de in snap.delete_entries
            ):
                orphan_bytes += os.path.getsize(full)
    if orphan_bytes:
        findings.append(
            _finding(
                "orphans", "warn",
                f"{orphan_bytes} B unreferenced under data/ "
                "(old snapshots / staged commits; gc_orphans reclaims)",
            )
        )

    ok = not any(f["severity"] == "error" for f in findings)
    return {
        "ok": ok,
        "head": head,
        "findings": findings,
        "checked_files": checked,
        "orphan_bytes": orphan_bytes,
    }
