"""Lake-to-lake incremental replication: CDC-out applied as CDC-in.

The committed-version chain of a lakette table IS a change feed — every
commit is one atomic batch of row-level changes, recoverable as a
bucket-pruned snapshot_diff with NO log replay. `replicate` tails that
feed and applies it to a destination table through the ordinary
exactly-once merge path, which makes bronze -> silver chaining (and
cross-region table mirroring) a first-class engine capability:

  * epoch = source version, offsets = the destination's epoch markers
    under query_id = replication_id (operators/feed.py) — resumable from
    any crash with no extra state.
  * each applied batch is `snapshot_diff(last, current, full_rows=True)` —
    one full-outer join over bucket-pruned reads of exactly the buckets
    whose file sets changed. Cost scales with the CHANGED data, never the
    table; at 100 TB a quiet table replicates for the price of two
    metadata reads.
  * LWW confluence means batching does not matter: replicating every
    version one-by-one, or a week of versions in one diff, converges to
    the same destination state (`every_version` chooses the granularity).
  * schema evolution flows through: the diff is emitted under the source's
    CURRENT schema, and merge_into's additive-evolution path alters the
    destination in the same epoch.
  * if the source vacuumed past the replica's last-applied version, the
    version chain is broken — `replicate` falls back to a repair epoch
    whose expected state is the source snapshot (operators/feed.py:
    offsets, the twin rule and the repair are that module's protocol).

Design note — why this is a driver loop and not a custom streaming
DataSource: a Python DataSource's partition readers pull row data through
Python workers, which would drag every replicated byte off the JVM fast
path. Here the driver only sequences versions; all row movement is JVM
DataFrame jobs (parquet scan -> join -> merge). availableNow semantics =
one `replicate()` call; a live mirror is the same call in a poll loop.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lakette.table import META_COL_NAMES, LaketteTable
from .changes import snapshot_diff
from .feed import (
    _guarded_seq,
    apply_epoch,
    chain_intact,
    last_replicated_version,
    open_or_create,
    repair_epoch,
    state_events,
)
from .merge import MergeStats


@dataclass
class ReplicationReport:
    src_version: int  # source version the destination now reflects
    applied_epochs: list[MergeStats] = field(default_factory=list)
    initial_sync: bool = False
    resync: bool = False

    @property
    def applied_rows(self) -> int:
        return sum(s.applied_rows for s in self.applied_epochs)


def _payload_cols(meta: dict) -> list[str]:
    """Payload columns of a PINNED metadata dict — never the live table
    (the source can evolve between our snapshot read and this call, and
    selecting a column the pinned frame lacks is an analysis error)."""
    keys = set(meta["key_cols"])
    return [
        f["name"]
        for f in meta["schema"]["fields"]
        if f["name"] not in keys and f["name"] not in META_COL_NAMES
    ]


def _events_from_diff(
    diff: DataFrame,
    payload_cols: list[str],
    key_cols,
    *,
    mor_guard: bool = False,
) -> DataFrame:
    """`mor_guard=True` (diff must carry `_old_seq`) raises inside the
    merge job on any non-seq-advancing row — a MOR destination resolves by
    max(seq) and cannot express one; see feed._guarded_seq."""
    op = (
        F.when(F.col("change") == "insert", F.lit("I"))
        .when(F.col("change") == "update", F.lit("U"))
        .otherwise(F.lit("D"))
    )
    seq = _guarded_seq(list(key_cols)) if mor_guard else F.col("seq")
    return diff.select(op.alias("op"), *key_cols, *payload_cols, seq)


def replicate(
    spark: SparkSession,
    src: LaketteTable,
    dst_root: str,
    *,
    replication_id: str = "repl",
    mode: str = "cow",
    n_buckets: int | None = None,
    every_version: bool = False,
) -> ReplicationReport:
    """Bring the destination table at `dst_root` up to the source's current
    version. Creates the destination on first call (same key cols; bucket
    count defaults to the source's). Safe to call repeatedly / concurrently
    with source writes — each call lands whole source versions, atomically.

    `every_version=True` applies one destination epoch per source version
    (a faithful per-commit mirror, at one commit of overhead each);
    default is one epoch covering the whole span since the last call."""
    src_meta = src._raw_current()  # snapshot()/plan_files accept raw metadata
    target_v = int(src_meta["version"])
    key_cols = list(src_meta["key_cols"])
    dst = open_or_create(dst_root, lambda: LaketteTable.create(
        dst_root,
        src.user_schema(),
        key_cols,
        n_buckets=int(n_buckets or src_meta["n_buckets"]),
        target_file_rows=src_meta.get("target_file_rows"),
    ))
    payload = _payload_cols(src_meta)
    report = ReplicationReport(src_version=target_v)

    last = last_replicated_version(dst, replication_id)
    if last is None:
        # initial sync: the whole current snapshot as one idempotent epoch
        report.initial_sync = True
        batch = state_events(
            src.snapshot(spark, include_deleted=True, metadata=src_meta),
            key_cols,
            payload,
        )
        report.applied_epochs.append(
            apply_epoch(spark, dst, batch, replication_id, target_v, mode=mode)
        )
        return report
    if last >= target_v:
        report.src_version = last
        return report  # already current

    if not chain_intact(src, last):
        # REPAIR epoch (feed.repair_epoch): the replica is forced to the
        # source's exact rows AND seqs, whatever the steady-state mode
        report.resync = True
        report.applied_epochs.append(repair_epoch(
            spark, dst,
            src.snapshot(spark, include_deleted=True, metadata=src_meta),
            key_cols, payload, replication_id, target_v,
        ))
        return report

    spans = (
        [(v - 1, v) for v in range(last + 1, target_v + 1)]
        if every_version
        else [(last, target_v)]
    )
    for lo, hi in spans:
        if dst.epoch_committed(replication_id, hi):
            continue  # a crashed previous run already landed this span
        diff = snapshot_diff(
            spark, src, lo, hi, full_rows=True, old_seq=(mode == "mor")
        )
        # the span's diff is emitted under metadata_at(hi)'s schema, which
        # may predate later source evolutions — select what it carries
        span_payload = [
            c for c in diff.columns
            if c not in ("change", "seq", "content_sha", "_old_seq")
            and c not in key_cols
        ]
        # overwrite on COW destinations: spans are authoritative state
        # traffic, and source rows whose seq did NOT advance — predicate
        # DML (seq preserved) and restore (seq regressed) — must still
        # land; the LWW guard would silently drop them (derive() has the
        # full rationale). Event-driven spans are unaffected (seqs always
        # advance). MOR destinations cannot express non-advancing updates:
        # with mode='mor', such a row raises INSIDE the merge job
        # (feed._guarded_seq) — resync() or a cow destination is the
        # remedy, never an arbitrary same-seq tie.
        events = _events_from_diff(
            diff, span_payload, key_cols, mor_guard=(mode == "mor")
        )
        report.applied_epochs.append(apply_epoch(
            spark, dst, events, replication_id, hi,
            mode=mode, overwrite=(mode == "cow"),
        ))
    return report
