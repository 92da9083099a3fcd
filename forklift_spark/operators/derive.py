"""Incremental derived tables over the changefeed — the bronze -> silver
operator (VERDICT r4 next-round #1).

`derive` maintains a DESTINATION lakette table as a stateless row-level
transform (declarative mapping spec + optional predicate) of a SOURCE
lakette table, incrementally: each call consumes the committed-version
spans since the last applied one (`snapshot_diff`, bucket-pruned — cost
scales with CHANGED data, never table size), applies the transform to the
span's full-row change set, and merges exactly-once into the destination.
It composes the engine's three existing primitives into the pattern every
real lakehouse user builds next:

  * offsets  = the destination's idempotent epoch markers under
    `derive_id`, epoch = source version (operators/feed.py) — resumable
    from any crash with no extra state;
  * spans    = `snapshot_diff(last, current, full_rows=True)`
    (operators/changes.py) — one full-outer join over bucket-pruned reads;
  * transform = `compile_mapping` (functions/mapping.py) — ONE Catalyst
    projection (or vectorized pandas stages), no per-row Python — plus an
    optional row predicate, exactly the streaming routes shape
    (streaming/routes.py) applied to a table-to-table feed.

Transform contract (v1, enforced loudly): KEY-PRESERVING. The derived
table shares the source's key columns; the mapping spec may list a key
column only as an identity rename (``"repo": "repo"``) — anything else
raises, because a key-changing transform turns row-level CDC into an
aggregation problem (one source key's delete must know which derived keys
it contributed to), which is a different operator. The spec defines the
derived PAYLOAD; `op`/`seq`/engine columns are managed here.

Filter semantics (the part a naive compose gets wrong): the predicate is
evaluated on the SOURCE row, and the derived table must converge to
``filter . map`` of the source snapshot at every applied version —
  insert  & pass  -> upsert         insert  & fail -> skip
  update  & pass  -> upsert         update  & fail -> DELETE (the key may
                                    have passed before — it must leave)
  delete          -> DELETE
Deletes ride the source's seq, so the destination inherits the source's
LWW tombstone floor. Filter-failing inserts are skipped (not tombstoned):
a span classifies a change as `insert` only when the key was absent at the
span start, so the destination cannot be holding a live row for it —
skipping avoids materializing tombstones for the (at scale, vast) filtered
-out key space.

Schema evolution: a span's diff is emitted under the source schema at the
span END (added columns surface as typed NULLs for pre-evolution rows), so
a spec may reference an evolved column from the first span whose end is
past the evolution. The DERIVED schema itself is fixed by the spec at
create time — the spec IS the derived table's contract.

If the source vacuumed past the destination's last-applied version, the
span chain is broken: `derive` falls back to a one-epoch RESYNC, the
repair epoch of operators/feed.py with the transform of the current
source snapshot as its expected state.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.mapping import MappingSpec, compile_mapping
from ..lakette.table import LaketteTable, META_COL_NAMES
from .changes import snapshot_diff
from .feed import (
    _guarded_seq,
    _keep_expr,
    _spec_guard,
    apply_epoch,
    chain_intact,
    last_replicated_version,
    open_or_create,
    repair_epoch,
    state_events,
)
from .merge import MergeStats


@dataclass
class DeriveReport:
    src_version: int  # source version the derived table now reflects
    applied_epochs: list[MergeStats] = field(default_factory=list)
    initial_sync: bool = False
    resync: bool = False

    @property
    def applied_rows(self) -> int:
        return sum(s.applied_rows for s in self.applied_epochs)


_RESERVED = {"op", *META_COL_NAMES}


def _validate_spec(mapping: MappingSpec, key_cols: list[str]) -> None:
    for k in key_cols:
        if k in mapping and mapping[k] != k:
            raise ValueError(
                f"derive v1 is restricted to KEY-PRESERVING transforms: key "
                f"column {k!r} may only appear in the spec as an identity "
                f"rename ({k!r}: {k!r}) or be omitted (it is passed through "
                f"automatically). A key-changing transform makes one source "
                f"delete fan out to unknown derived keys — that is an "
                f"aggregation, not a row-level derivation."
            )
    bad = _RESERVED.intersection(mapping) - set(key_cols)
    if bad:
        raise ValueError(
            f"mapping spec must not emit engine columns {sorted(bad)} — "
            f"op/seq/deleted/content_sha are managed by derive itself"
        )


def _payload_spec(mapping: MappingSpec, key_cols: list[str]) -> dict:
    """The spec minus identity key entries — what the derived payload is."""
    return {k: v for k, v in mapping.items() if k not in key_cols}


def _derived_schema(
    spark: SparkSession, src: LaketteTable, mapping: MappingSpec, key_cols: list[str]
) -> T.StructType:
    """Derived USER schema = source key columns + the spec's output columns,
    typed by compiling the spec against a zero-row frame of the source's
    user schema (Catalyst does the type inference — no duplicate typing
    rules here)."""
    empty = spark.createDataFrame([], src.user_schema())
    mapped = compile_mapping(empty, _payload_spec(mapping, key_cols))
    src_fields = {f.name: f for f in src.user_schema().fields}
    return T.StructType(
        [src_fields[k] for k in key_cols] + list(mapped.schema.fields)
    )


def _spec_fingerprint(mapping: MappingSpec, predicate) -> dict:
    """Serializable identity of the transform, used to detect a CHANGED
    spec against an existing derived table (silent drift guard): string
    entries are captured verbatim; Column / pandas entries cannot be
    serialized, so they are captured as opaque markers — changing between
    two opaque entries is not detectable, which the docstring of derive()
    calls out (prefer string/SQL entries for drift protection)."""
    ent = {
        k: (v if isinstance(v, str) else f"<non-sql:{type(v).__name__}>")
        for k, v in mapping.items()
    }
    pred = predicate if isinstance(predicate, (str, type(None))) else "<non-sql>"
    return {"mapping": ent, "predicate": pred}


def _events_from_span(
    diff: DataFrame,
    mapping: MappingSpec,
    key_cols: list[str],
    predicate: Column | str | None,
    *,
    mor_guard: bool = False,
) -> DataFrame:
    """Span change set -> merge envelope under the derive semantics table
    (module docstring). One Catalyst projection; D rows carry NULL payload
    (tombstones store no payload).

    `mor_guard=True` (the span must carry `_old_seq`) raises inside the
    merge job on any row whose seq did not advance (feed._guarded_seq)."""
    from ..functions.mapping import _compile_entry

    live = F.col("change").isin("insert", "update")
    keep = _keep_expr(predicate)
    kept = diff.filter(~((F.col("change") == "insert") & ~keep))
    payload = _payload_spec(mapping, key_cols)
    mapped = compile_mapping(kept, payload)  # type source for the NULL arms
    upsert = live & keep
    return kept.select(
        F.when(upsert, F.lit("U")).otherwise(F.lit("D")).alias("op"),
        *key_cols,
        *[
            F.when(upsert, _compile_entry(name, entry))
            .otherwise(F.lit(None).cast(fld.dataType))
            .alias(name)
            for (name, entry), fld in zip(payload.items(), mapped.schema.fields)
        ],
        _guarded_seq(key_cols) if mor_guard else F.col("seq"),
    )


def _expected_state(
    snap: DataFrame,
    mapping: MappingSpec,
    key_cols: list[str],
    predicate: Column | str | None,
) -> DataFrame:
    """Transform of a full source snapshot (include_deleted=True), shaped
    like a derived-table snapshot (keys + payload + seq/deleted/content_sha)
    — the resync comparison frame AND the recompute frame tests check
    convergence against. Source tombstones stay tombstones (the LWW floor
    transfers); live rows failing the filter are dropped."""
    from ..functions.mapping import _compile_entry

    keep = _keep_expr(predicate)
    tomb = F.coalesce(F.col("deleted"), F.lit(False))
    kept = snap.filter(tomb | keep)
    payload = _payload_spec(mapping, key_cols)
    mapped_cols = [
        F.when(~tomb, _compile_entry(name, entry)).alias(name)
        for name, entry in payload.items()
    ]
    out = kept.select(*key_cols, *mapped_cols, F.col("seq"), tomb.alias("deleted"))
    # content_sha is computed on the MAPPED content column (two-step select
    # so the mapped payload exists first), matching what merge_into stamps
    content_sha = (
        F.when(~F.col("deleted"), F.sha2(F.col("content"), 256))
        if "content" in payload
        else F.lit(None).cast("string")
    )
    return out.withColumn("content_sha", content_sha)


def derive(
    spark: SparkSession,
    src: LaketteTable,
    dst_root: str,
    mapping: MappingSpec,
    *,
    predicate: Column | str | None = None,
    derive_id: str = "derive",
    mode: str = "cow",
    n_buckets: int | None = None,
    every_version: bool = False,
    allow_spec_change: bool = False,
    force_resync: bool = False,
) -> DeriveReport:
    """Bring the derived table at `dst_root` up to the source's current
    version under the transform (mapping, predicate). Creates the
    destination on first call (schema inferred from the spec; source key
    columns). Safe to call repeatedly — whole source versions land
    atomically, exactly-once under `derive_id`; a poll loop over this call
    is a live derived view (availableNow semantics = one call).

    Spec drift guard: the transform's fingerprint is persisted next to the
    destination on first call; a later call with a DIFFERENT spec raises
    (incremental spans under a new spec would silently mix old-spec and
    new-spec rows). Pass `allow_spec_change=True` to accept the new spec —
    derive then runs a full RESYNC epoch (state-diff of new-spec expected
    state vs the destination, overwrite semantics) so every row is
    re-derived consistently, and updates the stored fingerprint. String/
    SQL spec entries get exact drift detection; Column/pandas entries are
    opaque (a swap between two opaque entries is not detectable).

    `force_resync=True` runs the same full resync epoch at an UNCHANGED
    spec — the repair lever for out-of-band destination drift (rows
    edited/merged into the derived table behind the deriver's back) or
    plain suspicion: expected state is recomputed from the current source
    snapshot, state-diffed against the destination (repair semantics:
    divergent payloads rewritten, extra keys deleted), and applied in a
    fresh marker namespace so it is never skipped as already-done. The
    SQL face is `REFRESH MATERIALIZED VIEW <name> FULL`."""
    src_meta = src._raw_current()
    target_v = int(src_meta["version"])
    key_cols = list(src_meta["key_cols"])
    _validate_spec(mapping, key_cols)
    dst = open_or_create(dst_root, lambda: LaketteTable.create(
        dst_root,
        _derived_schema(spark, src, mapping, key_cols),
        key_cols,
        n_buckets=int(n_buckets or src_meta["n_buckets"]),
        target_file_rows=src_meta.get("target_file_rows"),
    ))
    report = DeriveReport(src_version=target_v)

    # spec drift guard (see docstring / _spec_guard)
    qid, spec_changed, _store_fp = _spec_guard(
        dst, derive_id, _spec_fingerprint(mapping, predicate), allow_spec_change,
        force_resync=force_resync,
    )
    payload_cols = list(_payload_spec(mapping, key_cols))

    def _expected() -> DataFrame:
        return _expected_state(
            src.snapshot(spark, include_deleted=True, metadata=src_meta),
            mapping, key_cols, predicate,
        )

    def _resync() -> DeriveReport:
        report.resync = True
        report.applied_epochs.append(repair_epoch(
            spark, dst, _expected(), key_cols, payload_cols, qid, target_v
        ))
        _store_fp()
        return report

    if spec_changed or force_resync:
        # every row must be re-derived (fresh offsets: the gen-bumped qid
        # has no markers, so the resync epoch cannot be skipped)
        return _resync()

    last = last_replicated_version(dst, qid)
    if last is None:
        # initial sync: transform of the whole current snapshot, one epoch.
        # Source tombstones derive as deletes (LWW floor transfers).
        report.initial_sync = True
        batch = state_events(_expected(), key_cols, payload_cols)
        report.applied_epochs.append(
            apply_epoch(spark, dst, batch, qid, target_v, mode=mode)
        )
        _store_fp()
        return report
    if last >= target_v:
        report.src_version = last
        return report  # already current
    if not chain_intact(src, last):
        return _resync()  # vacuumed past the derived table's offset — repair

    spans = (
        [(v - 1, v) for v in range(last + 1, target_v + 1)]
        if every_version
        else [(last, target_v)]
    )
    for lo, hi in spans:
        if dst.epoch_committed(qid, hi):
            continue  # a crashed previous run already landed this span
        span = snapshot_diff(
            spark, src, lo, hi, full_rows=True, old_seq=(mode == "mor")
        )
        events = _events_from_span(
            span, mapping, key_cols, predicate, mor_guard=(mode == "mor")
        )
        # overwrite on COW destinations: a span is AUTHORITATIVE state
        # traffic (computed between two pinned source versions, and this
        # deriver's markers guarantee dst sits exactly at `lo`), so rows
        # that do NOT advance seq — predicate-DML edits (seq preserved)
        # and restores (seq regressed) on the source — must still apply;
        # the LWW guard would silently drop them. For event-driven spans
        # overwrite and LWW agree (seqs always advance), so this changes
        # nothing there. MOR destinations resolve reads by max seq and
        # cannot express a non-advancing update — with mode='mor', such a
        # row raises INSIDE the merge job (_guarded_seq): resync or a cow
        # destination is the remedy, never an arbitrary same-seq tie.
        report.applied_epochs.append(apply_epoch(
            spark, dst, events, qid, hi, mode=mode, overwrite=(mode == "cow")
        ))
    return report


def derived_state_recompute(
    spark: SparkSession,
    src: LaketteTable,
    mapping: MappingSpec,
    *,
    predicate: Column | str | None = None,
) -> DataFrame:
    """The transform applied to the CURRENT source snapshot in one shot —
    the convergence oracle: after derive() catches up, the derived table's
    live snapshot must equal this frame exactly (tests assert sha-equality
    row for row). Not an ingest path; a full recompute scans the whole
    source."""
    snap = src.snapshot(spark, include_deleted=True)
    state = _expected_state(snap, mapping, list(src.key_cols()), predicate)
    return state.filter(~F.col("deleted")).drop("deleted")
