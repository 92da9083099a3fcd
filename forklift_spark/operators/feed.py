"""The exactly-once feed protocol of the table-to-table operators
(`replicate`, `derive`, `derive_agg`, `derive_index`, `derive_join`).

Each of them tails a source table's committed-version chain and lands it
in a destination lakette table through `merge_into`. What they share
lives here, written once:

  * offsets — the destination's idempotent epoch markers, one namespace
    per feed (`query_id`), epoch = the source version the batch brings
    the destination to (derive_join: fact version + dim version). The
    highest marker, plus the marker-less crash window of a commit stamped
    by this feed, is the resume point (`last_replicated_version`); apart
    from derive_join's (fact, dim) offsets sidecar, a feed keeps no other
    state.
  * the twin rule — two processes running the same feed (a double-fired
    cron, a second mirror) can race past the marker check, and the loser
    of the commit sees `CommitConflictError`. If the winner's marker for
    the SAME epoch is there, the loser's work is redundant: it re-enters
    `merge_into`, which now skips on that marker (`apply_epoch`). A
    conflict without that marker is a genuine conflict and re-raises.
  * a broken chain — the source vacuumed the metadata of the version the
    destination last applied, so the span from there can no longer be
    diffed (`chain_intact` is False).
  * a repair — the broken chain's remedy, and every forced or spec-change
    resync: the operator's expected state (keys + payload + seq/deleted/
    content_sha, the shape of `snapshot(include_deleted=True)`) is
    state-diffed against the destination (`diff_frames(repair=True)`:
    same-seq payload divergence and extra destination keys included) and
    applied copy-on-write with `overwrite=True`, forcing the destination
    to the expected rows AND seqs in one epoch (`repair_epoch`).

Each operator keeps its own expected-state frame, its span-to-events
mapping and its strategy choices; nothing here branches on the caller.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lakette.table import CommitConflictError, LaketteTable
from .changes import diff_frames
from .merge import MergeStats, merge_into


def last_replicated_version(dst: LaketteTable, replication_id: str) -> int | None:
    """Highest source version the destination durably applied — the max
    epoch marker, plus the marker-less crash window (current metadata
    written by this feed but marker missing). Reads through `dst.fs`, the
    same storage the markers are written to."""
    best = None
    d = os.path.join(dst.epochs_dir, replication_id)
    if dst.fs.isdir(d):
        for fn in dst.fs.listdir(d):
            if fn.endswith(".json") and fn[:-5].isdigit():
                v = int(fn[:-5])
                best = v if best is None else max(best, v)
    w = dst._raw_current().get("writer") or {}
    if w.get("query_id") == replication_id:
        e = int(w.get("epoch", -1))
        best = e if best is None else max(best, e)
    return best


def chain_intact(src: LaketteTable, version: int) -> bool:
    """False when the source vacuumed past `version`: the span from it can
    no longer be diffed and the feed must repair instead."""
    try:
        src._raw_metadata_at(version)
    except ValueError:
        return False
    return True


def open_or_create(root: str, create: Callable[[], LaketteTable]) -> LaketteTable:
    """The table at `root`, created by `create()` when absent. `create`
    runs only then (schemas inferred by a Spark analysis are built only on
    a first call); a twin process that created the table first wins, and
    its table is ours too."""
    if LaketteTable.exists(root):
        return LaketteTable(root)
    try:
        return create()
    except CommitConflictError:
        return LaketteTable(root)


def apply_epoch(
    spark: SparkSession,
    dst: LaketteTable,
    batch: DataFrame,
    qid: str,
    epoch: int,
    *,
    mode: str,
    overwrite: bool = False,
) -> MergeStats:
    """`merge_into` under the twin rule (module docstring): a conflict
    whose epoch a twin already committed re-enters `merge_into`, which
    skips on the twin's marker; any other conflict re-raises."""
    try:
        return merge_into(
            spark, dst, batch, query_id=qid, epoch=epoch,
            mode=mode, overwrite=overwrite,
        )
    except CommitConflictError:
        if not dst.epoch_committed(qid, epoch):
            raise
        return merge_into(
            spark, dst, batch, query_id=qid, epoch=epoch,
            mode=mode, overwrite=overwrite,
        )


def state_events(
    state: DataFrame, key_cols: list[str], payload_cols: list[str]
) -> DataFrame:
    """A state frame (snapshot include_deleted=True shape) as a merge
    envelope — the initial-sync batch. Tombstones land as deletes so the
    destination inherits the source's LWW floor (a late event below a
    tombstone's seq can never resurrect the key on either side)."""
    return state.select(
        F.when(F.coalesce(F.col("deleted"), F.lit(False)), F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        *key_cols,
        *payload_cols,
        F.col("seq"),
    )


def repair_epoch(
    spark: SparkSession,
    dst: LaketteTable,
    expected: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    qid: str,
    epoch: int,
) -> MergeStats:
    """Force the destination to `expected` in one epoch (module docstring).
    The destination is read keys-only when content_sha witnesses the whole
    payload (payload == {content}); any other payload is read so the diff
    sees same-seq divergence in it."""
    dst_snap = dst.snapshot(
        spark, include_deleted=True,
        columns=[] if set(payload_cols) == {"content"} else None,
    )
    diff = diff_frames(
        dst_snap, expected, key_cols, payload_cols, full_rows=True, repair=True
    )
    op = F.when(F.col("change") == "delete", F.lit("D")).otherwise(F.lit("U"))
    batch = diff.select(op.alias("op"), *key_cols, *payload_cols, F.col("seq"))
    return apply_epoch(spark, dst, batch, qid, epoch, mode="cow", overwrite=True)


def _spec_qid(derive_id: str, fp: dict, gen: int) -> str:
    """Epoch-marker namespace of one (spec, repair generation)."""
    return (
        derive_id + "@"
        + hashlib.sha256(json.dumps(fp, sort_keys=True).encode()).hexdigest()[:8]
        + (f"+r{gen}" if gen else "")
    )


def _spec_guard(
    dst: LaketteTable, derive_id: str, fp: dict, allow_spec_change: bool,
    force_resync: bool = False,
) -> tuple[str, bool, "callable"]:
    """Drift guard of the spec-driven feeds (derive, derive_agg,
    derive_index, derive_join): persist the transform's fingerprint next
    to the destination; raise when a later call presents a DIFFERENT spec
    (incremental spans under a new spec would silently mix old- and
    new-spec rows) unless the caller opted into a resync. Returns
    (qid, spec_changed, store_fp):

      qid     epoch-marker namespace, keyed per SPEC (`derive_id@fp-hash`)
              so an accepted spec change starts from fresh offsets and its
              resync epoch can never be skipped by the old spec's markers;
              a crash between the resync commit and the fingerprint write
              re-enters and heals idempotently (the marker gates the merge)
      store_fp  call after the first successful apply under this spec.

    A persisted REPAIR GENERATION (`_repair_gen` alongside the
    fingerprint) is folded into the qid and bumped on every resync
    trigger — an accepted spec change or `force_resync=True`. This makes
    every resync epoch land in a marker namespace no previous epoch ever
    used, which (a) lets a caller force a full re-derivation at an
    UNCHANGED source version (repairing out-of-band destination drift —
    the old per-spec qid already holds a marker at that version and would
    skip the merge), and (b) closes the A->B->A spec flip-flop hole:
    returning to a previously-used spec used to resurrect its old qid
    whose markers claimed the resync version was already applied,
    silently leaving B-spec rows behind. The bump is crash-idempotent: a
    retry recomputes the same generation (stored gen never advanced) and
    re-enters the same fresh namespace, where the marker gates the merge."""
    fp_dir = os.path.join(dst.root, "_derive")
    fp_path = os.path.join(fp_dir, f"{derive_id}.json")
    spec_changed = False
    gen = 0
    if dst.fs.exists(fp_path):
        stored = dst.fs.read_json(fp_path)
        gen = int(stored.pop("_repair_gen", 0))
        if stored != fp:
            if not allow_spec_change:
                raise ValueError(
                    f"derive spec for {derive_id!r} differs from the one this "
                    f"destination was built with — incremental spans under a "
                    f"new spec would mix old- and new-spec rows. Pass "
                    f"allow_spec_change=True to re-derive every row via a "
                    f"resync epoch under the new spec."
                )
            spec_changed = True
    if spec_changed or force_resync:
        gen += 1

    qid = _spec_qid(derive_id, fp, gen)

    def store_fp() -> None:
        dst.fs.makedirs(fp_dir)
        dst.fs.put_json(fp_path, {**fp, "_repair_gen": gen} if gen else fp)

    return qid, spec_changed, store_fp


def _keep_expr(predicate: Column | str | None) -> Column:
    if predicate is None:
        return F.lit(True)
    col = F.expr(predicate) if isinstance(predicate, str) else predicate
    return F.coalesce(col, F.lit(False))  # NULL predicate = fail, loudly false


def _guarded_seq(key_cols: list[str]) -> Column:
    """seq column that raises INSIDE the merge job — zero extra Spark jobs
    — on a span row whose seq did not advance past the pre-span seq
    (requires `_old_seq` from diff_frames(old_seq=True)). A merge-on-read
    destination resolves reads by max(seq), so a non-advancing change
    (source predicate DML preserves seq; restore regresses it) would
    either be silently lost or decay to an arbitrary same-seq tie. Loud
    beats either."""
    non_advancing = F.col("_old_seq").isNotNull() & (
        F.col("seq") <= F.col("_old_seq")
    )
    msg = F.concat_ws(
        "",
        F.lit("mor destination cannot express a non-seq-advancing source "
              "change (predicate DML preserves seq; restore regresses it): "
              "key=("),
        F.concat_ws(",", *[F.col(k).cast("string") for k in key_cols]),
        F.lit(") seq "),
        F.col("seq").cast("string"),
        F.lit(" <= prior "),
        F.col("_old_seq").cast("string"),
        F.lit(" — use a cow destination or resync"),
    )
    return (
        F.when(non_advancing, F.raise_error(msg).cast("long"))
        .otherwise(F.col("seq"))
        .alias("seq")
    )
