"""Maintenance advisor: inspect a table's manifests and recommend the
maintenance plan — pure metadata, zero data I/O, O(n_files) driver work.

This is the policy layer every production lakehouse runs on a schedule
(Delta auto-optimize, Iceberg maintenance jobs): given the current
snapshot, decide WHAT needs doing before spending cluster time. The
reference's daemon embeds the equivalent policy inline (flush when the
buffer passes min_bytes_per_file, checkpoint every Nth commit —
/root/reference/src/lib.rs:1127-1145, src/delta_helpers.rs:42-58); here
tables are maintained from outside, so the policy is a first-class,
testable object.

Recommendations come back as executable specs (op name + kwargs that
``jobs/maintain.py`` / the maintenance API accept), ordered so running
them top-to-bottom is safe and non-redundant (e.g. a recommended
``optimize`` subsumes ``compact``; ``expire`` precedes ``gc``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from kafka_delta_ingest_spark.plans.bin_packing import DEFAULT_TARGET_FILE_BYTES
from kafka_delta_ingest_spark.table.format import Table


@dataclass
class Recommendation:
    op: str  # compact | optimize | expire | gc | manifest | checkpoint-noop
    reason: str
    severity: str  # "advisory" | "recommended" | "urgent"
    kwargs: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        return {
            "op": self.op,
            "reason": self.reason,
            "severity": self.severity,
            "kwargs": self.kwargs,
        }


def suggest_cluster_dims(
    table: Table, snap=None, max_dims: int = 3
) -> "list[str] | None":
    """Stats-driven Z-order dimension selection — the CBO cousin of
    ``resolve_salt_factor``: pick cluster dims from the NDV artifact and
    manifest ALONE (zero data reads). Rules, per Delta's own Z-ORDER
    guidance:

    - candidates = ANALYZEd columns still in the schema, minus
      partition-spec source columns (the layout already separates those —
      clustering on them is wasted key bits);
    - a dim must be PRUNABLE: at least half the live files carry min/max
      stats for it (arrays/structs never do, per the reference's stat
      rules);
    - rank by NDV descending — high-cardinality columns divide the curve
      finest (a 6-value column gives 6 distinguishable stripes no matter
      how many key bits it gets) — and cap at ``max_dims`` (the morton
      expression packs ≤3 dims losslessly).

    Returns None when no NDV artifact covers any usable column (caller
    falls back to explicit dims)."""
    from kafka_delta_ingest_spark.maintenance import artifacts
    from kafka_delta_ingest_spark.table import transforms

    idx = artifacts.load_index(table, "ndv")
    if idx is None:
        return None
    snap = snap or table.snapshot()
    schema_names = {f.name for f in snap.schema.fields}
    psources = set()
    for e in snap.partition_cols:
        _k, c, _p = transforms.parse(e)
        psources.add(c)
    files = snap.files
    n = len(files)

    def _prunable(c: str) -> bool:
        if not n:
            return False
        with_stats = sum(
            1
            for f in files
            if f.stats.get("min", {}).get(c) is not None
            and f.stats.get("max", {}).get(c) is not None
        )
        return with_stats * 2 >= n

    cands = [
        c
        for c in idx["columns"]
        if c in schema_names and c not in psources and _prunable(c)
    ]
    if not cands:
        return None
    # NDV per candidate from the artifact (no data read). ndv_estimates
    # needs a SparkSession to MAX-merge registers; rank driver-side from
    # the artifact parquet instead — tiny (files × columns × 256 rows)
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        artifacts.artifact_path(table, "ndv", idx),
        columns=["column", "bucket", "rho"],
    )
    regs: dict[str, dict[int, int]] = {}
    cols = tbl["column"].to_pylist()
    buckets = tbl["bucket"].to_pylist()
    rhos = tbl["rho"].to_pylist()
    for c, b, r in zip(cols, buckets, rhos):
        d = regs.setdefault(c, {})
        if r > d.get(b, 0):
            d[b] = r
    m = 1 << idx["p"]
    width = 60 - idx["p"]

    def _ndv(c: str) -> float:
        d = regs.get(c, {})
        denom = sum(1 << (width + 1 - r) for r in d.values())
        denom += (m - len(d)) * (1 << (width + 1))
        alpha = 0.7213 / (1 + 1.079 / m)
        return alpha * m * m * (1 << (width + 1)) / denom if denom else 0.0

    ranked = sorted(cands, key=lambda c: -_ndv(c))
    return ranked[:max_dims]


def advise(
    table: Table,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    small_file_threshold: float = 0.75,
    small_ratio_recommended: float = 0.3,
    small_ratio_urgent: float = 0.7,
    retain_last: int = 10,
    max_retained_versions: int = 50,
    cluster_dims: list[str] | None = None,
) -> list[Recommendation]:
    """Rank what this table needs. Thresholds are fractions of live files
    below ``small_file_threshold * target_file_bytes``, and retained log
    length vs ``max_retained_versions``."""
    snap = table.snapshot()
    recs: list[Recommendation] = []
    if cluster_dims is None:
        # stats-driven fallback: derive dims from the NDV artifact when
        # the caller doesn't prescribe them (suggest_cluster_dims)
        cluster_dims = suggest_cluster_dims(table, snap)

    cutoff = int(target_file_bytes * small_file_threshold)
    n_files = len(snap.files)
    # only small files with a same-partition small sibling count: bins
    # never merge across partition values, so a lone small file per
    # partition is already as compacted as it can get
    by_part: dict[tuple, int] = {}
    for f in snap.files:
        if f.size < cutoff:
            key = tuple(sorted(f.partition_values.items()))
            by_part[key] = by_part.get(key, 0) + 1
    n_small = sum(c for c in by_part.values() if c >= 2)
    small_ratio = (n_small / n_files) if n_files else 0.0

    # clustering drift: fraction of file pairs (sampled as sorted-by-min
    # neighbors) whose stat ranges overlap on the first cluster dim —
    # freshly clustered files tile the dim with little overlap, appended
    # files overlap everything
    overlap_ratio = None
    drift_dim = None
    # drift on the first dim with numeric stats: partition columns carry
    # no min/max (excluded per reference stats rules), so e.g.
    # dims=["source","n_tok",...] measures on n_tok
    for d in cluster_dims or []:
        # clustering only tiles the dim WITHIN a partition (writes are
        # partitionBy'd), so drift is measured per partition-value group
        groups: dict[tuple, list[tuple]] = {}
        for f in snap.files:
            lo = f.stats.get("min", {}).get(d)
            hi = f.stats.get("max", {}).get(d)
            if isinstance(lo, (int, float)) and isinstance(hi, (int, float)):
                key = tuple(sorted(f.partition_values.items()))
                groups.setdefault(key, []).append((lo, hi))
        pairs = overlaps = 0
        for ranges in groups.values():
            ranges.sort()
            pairs += len(ranges) - 1
            overlaps += sum(
                1
                for (_lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:])
                if lo2 <= hi1
            )
        if pairs:
            overlap_ratio = overlaps / pairs
            drift_dim = d
            break

    needs_cluster = overlap_ratio is not None and overlap_ratio > 0.5
    if small_ratio >= small_ratio_recommended or needs_cluster:
        sev = "urgent" if small_ratio >= small_ratio_urgent else "recommended"
        if needs_cluster and cluster_dims:
            recs.append(
                Recommendation(
                    op="optimize",
                    reason=(
                        f"{n_small}/{n_files} files below "
                        f"{cutoff} B (ratio {small_ratio:.2f})"
                        + (
                            f"; neighbor stat-range overlap {overlap_ratio:.2f} "
                            f"on '{drift_dim}'"
                            if overlap_ratio is not None
                            else ""
                        )
                    ),
                    severity=sev,
                    kwargs={
                        "dims": list(cluster_dims),
                        "target_file_bytes": target_file_bytes,
                    },
                )
            )
        else:
            recs.append(
                Recommendation(
                    op="compact",
                    reason=(
                        f"{n_small}/{n_files} files below {cutoff} B "
                        f"(ratio {small_ratio:.2f})"
                    ),
                    severity=sev,
                    kwargs={"target_file_bytes": target_file_bytes},
                )
            )

    # merge-on-read delete pressure: every live delete file taxes every
    # scan of its covered files with an anti-join; fold when the deleted
    # fraction of covered rows is material or delete files accumulate
    if snap.delete_entries:
        covered_paths = {p for de in snap.delete_entries for p in de.counts}
        covered_rows = sum(
            f.num_records for f in snap.files if f.path in covered_paths
        )
        del_frac = snap.num_deleted() / covered_rows if covered_rows else 0.0
        # equality deletes tax every OLDER intersecting file's scan with a
        # key anti-join AND stack (each upsert batch adds one), so they
        # trigger on accumulation alone
        n_eq = len(snap.equality_entries)
        n_pos = len(snap.delete_entries) - n_eq
        if len(snap.delete_entries) >= 8 or del_frac >= 0.05 or n_eq >= 4:
            # two remedies, priced differently: when only the delete-FILE
            # count hurts (many point deletes, few deleted rows), the
            # minor compaction (one consolidated delete file, zero data
            # movement) removes the per-scan anti-join stack for
            # O(deleted rows) I/O; the major fold (rewrite covered data
            # files) is reserved for material deleted fractions or
            # equality-delete accumulation, where scans pay per ROW
            minor_enough = (
                n_pos >= 8 and del_frac < 0.05 and n_eq < 4
            )
            recs.append(
                Recommendation(
                    op=(
                        "compact-deletes" if minor_enough
                        else "rewrite-deletes"
                    ),
                    reason=(
                        f"{len(snap.delete_entries)} live delete files "
                        f"({n_eq} equality) mark {snap.num_deleted()} rows "
                        f"position-deleted across {len(covered_paths)} data "
                        f"files ({del_frac:.1%} of covered rows)"
                        + (
                            "; deleted fraction immaterial — consolidate "
                            "delete files instead of rewriting data"
                            if minor_enough
                            else ""
                        )
                    ),
                    severity=(
                        "recommended"
                        if len(snap.delete_entries) >= 8
                        or del_frac >= 0.2
                        or n_eq >= 4
                        else "advisory"
                    ),
                    kwargs={},
                )
            )

    head = table.latest_version()
    retained = len(table.history())
    if retained > max_retained_versions:
        recs.append(
            Recommendation(
                op="expire",
                reason=f"{retained} retained versions (head v{head}) > "
                f"{max_retained_versions}",
                severity="recommended",
                kwargs={"retain_last": retain_last},
            )
        )
        recs.append(
            Recommendation(
                op="gc",
                reason="orphan scan after snapshot expiry",
                severity="advisory",
                kwargs={},
            )
        )

    # NDV stats staleness: the join planner (plans/join_planning.py)
    # and any CBO consumer read the ANALYZE artifact; once enough of the
    # live file set postdates it, multiplicity estimates drift. Pure
    # metadata: compare the artifact's recorded file list to the live one.
    from kafka_delta_ingest_spark.maintenance import artifacts

    idx = artifacts.load_index(table, "ndv")
    if idx is not None:
        live_paths = {f.path for f in snap.files}
        known = set(idx["file_paths"])
        unseen = len(live_paths - known)
        # removed files count too: their registers keep MAX-merging into
        # ndv_df until re-analyzed, so delete-heavy churn overestimates
        gone = len(known - live_paths)
        churn = (unseen + gone) / len(live_paths) if live_paths else 0.0
        if churn >= 0.25:
            recs.append(
                Recommendation(
                    op="analyze",
                    reason=(
                        f"NDV stats artifact (v{idx['analyzed_version']}) "
                        f"missing {unseen} live files and still carrying "
                        f"{gone} removed ones ({len(live_paths)} live); "
                        "incremental re-ANALYZE scans only the new files"
                    ),
                    severity="advisory",
                    # carry the artifact's sketch parameters: defaults
                    # would rebuild from scratch under a different hash
                    # family/precision instead of merging incrementally
                    kwargs={
                        "columns": list(idx["columns"]),
                        "p": idx["p"],
                        "salt": idx["salt"],
                        "family": idx["family"],
                    },
                )
            )

    # Bloom artifact staleness: MERGE/DML point-lookup pruning
    # (maintenance/bloom.py) keeps correctness when stale — uncovered
    # files are conservatively touched — but every uncovered file is a
    # file the prune can no longer skip, so effectiveness decays with
    # churn. Same metadata-only comparison as the NDV check; a lower
    # threshold because the cost of staleness is paid by every merge.
    bidx = artifacts.load_index(table, "bloom")
    if bidx is not None:
        live_paths = {f.path for f in snap.files}
        unseen = len(live_paths - set(bidx["file_paths"]))
        frac = unseen / len(live_paths) if live_paths else 0.0
        if frac >= 0.10:
            recs.append(
                Recommendation(
                    op="bloom",
                    reason=(
                        f"bloom artifact (v{bidx['analyzed_version']}) "
                        f"does not cover {unseen}/{len(live_paths)} live "
                        "files — those can never be pruned by MERGE/DML "
                        "point lookups; incremental rebuild scans only "
                        "the uncovered files"
                    ),
                    severity="advisory",
                    # carry parameters: defaults would rebuild from
                    # scratch under a different probe function
                    kwargs={
                        "columns": list(bidx["columns"]),
                        "bits_per_key": bidx["bits_per_key"],
                        "k": bidx["k"],
                        "salt": bidx["salt"],
                        "family": bidx["family"],
                        "m_max": bidx["m_max"],
                    },
                )
            )

    order = {"urgent": 0, "recommended": 1, "advisory": 2}
    recs.sort(key=lambda r: order[r.severity])
    return recs
