"""Incrementally-maintained JOIN derived tables — the two-source silver
pattern (`derive` covers one source; real medallion pipelines' next step
is "fact enriched by dimension").

`derive_join` maintains a destination lakette table as

    SELECT mapping(fact ⋈ dim) FROM fact [LEFT|INNER] JOIN dim
    ON fact.fk_cols = dim.key_cols

incrementally from BOTH sources' changefeeds, with per-refresh cost
O(changed rows), never O(table):

  * fact-driven changes ride the fact span (`snapshot_diff`, bucket-
    pruned) joined against the dimension AT ITS PINNED TARGET VERSION;
  * dim-driven changes use a REVERSE LOOKUP: the span of changed dim
    keys (one row per key, bucket-pruned) selects the affected fact
    rows. When the changed-key set is small (<= reverse_lookup_max_keys)
    it is collected and pushed into `snapshot(col_eq={fk: [keys]})`, so
    per-file BLOOM filters + the IN row filter prune the fact scan down
    to the files that can hold an affected row — declare the fk in the
    fact table's `bloom_cols` to get file skipping; past the cap the
    lookup falls back to a distributed semi-join against the span frame
    (no driver materialization, one shuffle — disclosed in the report,
    never silent). Keys already covered by the fact span are excluded
    (they were computed against the fresh dimension already).

Join-shape contract (enforced loudly): `on` must map fact columns onto
ALL of the dimension's key columns — each fact row matches at most one
dim row (many-to-one enrichment), so fact-key identity is preserved and
row-level CDC stays row-level. A fan-out join (matching a non-key dim
column) turns one dim delete into an unknown set of derived keys — that
is `derive_agg` territory, not row derivation. The destination shares
the fact table's key columns; the mapping spec follows `derive`'s
KEY-PRESERVING v1 rule and sees the joined frame: fact columns under
their own names, dim payload columns under `dim_prefix` (default
``dim_``; collisions with fact columns are rejected at create time).

Sequence/LWW semantics: derived rows carry the FACT row's seq. A
dim-driven refresh changes a row's payload without advancing its seq —
exactly the non-advancing authoritative traffic `derive` already
handles for predicate DML — so every application uses the COW
overwrite path (spans are state computed between pinned versions; the
destination's markers guarantee it sits exactly at the span start).
MOR destinations cannot express non-advancing updates (max-seq read
resolution) and are not offered.

Exactly-once across TWO offset streams: the destination's epoch marker
gates idempotence with epoch = fact_version + dim_version (both offsets
are non-decreasing and at least one strictly advances per refresh, so
the sum is unique per committed refresh — two different (fact, dim)
pairs can only share a sum if one regressed, which versions never do).
The (fact, dim) PAIR itself is the resumable offset, stored in a
sidecar AFTER the merge: a crash between merge and sidecar re-enters
with the old pair, recomputes a superset span, and the marker (same
sum) skips the double-apply; if a source advanced meanwhile the sum
differs, and re-applying the wider span through overwrite is
idempotent state traffic. If either source vacuumed past its offset,
the refresh falls back to a one-epoch RESYNC: the repair epoch of
operators/feed.py with the join recomputed at the pinned targets as its
expected state — repair, never corruption.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.mapping import MappingSpec, compile_mapping, _compile_entry
from ..lakette.table import LaketteTable, META_COL_NAMES
from .changes import snapshot_diff
from .derive import _payload_spec, _validate_spec
from .feed import (
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
class DeriveJoinReport:
    fact_version: int
    dim_version: int
    applied_epochs: list[MergeStats] = field(default_factory=list)
    initial_sync: bool = False
    resync: bool = False
    #: how the dim-driven refresh found affected fact rows:
    #: "none" (no dim changes) | "pruned" (col_eq bloom/IN path) |
    #: "scan" (distributed semi-join past the key cap)
    dim_refresh_path: str = "none"
    dim_changed_keys: int = 0

    @property
    def applied_rows(self) -> int:
        return sum(s.applied_rows for s in self.applied_epochs)


def _validate_on(
    on: dict[str, str], fact_meta: dict, dim_meta: dict
) -> tuple[list[str], list[str]]:
    """fk columns on the fact side, aligned to the dim key columns."""
    dim_keys = list(dim_meta["key_cols"])
    if sorted(on.values()) != sorted(dim_keys):
        raise ValueError(
            f"on= must map fact columns onto ALL dim key columns "
            f"{dim_keys} exactly (got {sorted(on.values())}) — joining on "
            "a non-key dim column fans one dim change out to an unknown "
            "set of derived keys; that is an aggregation, not a row-level "
            "derivation"
        )
    fact_cols = {f["name"] for f in fact_meta["schema"]["fields"]}
    bad = [c for c in on if c not in fact_cols or c in META_COL_NAMES]
    if bad:
        raise ValueError(f"on= fact columns not in the fact schema: {bad}")
    # deterministic order: dim key order drives both sides
    fk_cols = [next(fc for fc, dk in on.items() if dk == k) for k in dim_keys]
    return fk_cols, dim_keys


#: dim key columns ride the join under this reserved rename, so a fact
#: fk column sharing the dim key's name never makes the condition
#: ambiguous; `_matched` reads the first renamed key (keys are non-NULL
#: in dim rows, so one non-NULL key proves the whole match)
_DK = "__dimkey_"


def _dim_frame(
    spark: SparkSession,
    dim: LaketteTable,
    dim_meta: dict,
    prefix: str,
    *,
    keys_filter: DataFrame | None = None,
    col_eq: dict | None = None,
) -> DataFrame:
    """Live dimension rows: key columns renamed under `_DK` (dropped
    after the join), payload columns renamed under `prefix`.
    `keys_filter` restricts to the changed-key tuples (small side);
    `col_eq` restricts to collected key values inside the snapshot read
    (bloom pruning plus an exact row filter, see LaketteTable.snapshot)."""
    d = dim.snapshot(spark, metadata=dim_meta, col_eq=col_eq)
    dim_keys = list(dim_meta["key_cols"])
    if keys_filter is not None:
        d = d.join(keys_filter, on=dim_keys, how="left_semi")
    payload = [
        f["name"] for f in dim_meta["schema"]["fields"]
        if f["name"] not in dim_keys and f["name"] not in META_COL_NAMES
        and f["name"] != "op"
    ]
    return d.select(
        *[F.col(k).alias(_DK + k) for k in dim_keys],
        *[F.col(p).alias(prefix + p) for p in payload],
    )


def _join_cond(fk_cols: list[str], dim_keys: list[str]):
    cond = None
    for fc, dk in zip(fk_cols, dim_keys):
        c = F.col(fc) == F.col(_DK + dk)
        cond = c if cond is None else (cond & c)
    return cond


def _matched(dim_keys: list[str]):
    return F.col(_DK + dim_keys[0]).isNotNull()


def _joined_schema(
    spark: SparkSession,
    fact: LaketteTable,
    fact_meta: dict,
    dim_meta: dict,
    mapping: MappingSpec,
    prefix: str,
) -> T.StructType:
    """Derived USER schema: fact keys + the spec compiled over a zero-row
    joined frame (Catalyst types it — no duplicate typing rules)."""
    key_cols = list(fact_meta["key_cols"])

    def _user_fields(meta: dict) -> list[T.StructField]:
        full = T.StructType.fromJson(meta["schema"])
        return [
            f for f in full.fields
            if f.name not in META_COL_NAMES and f.name != "op"
        ]

    fact_fields = _user_fields(fact_meta)
    dim_fields = [
        T.StructField(prefix + f.name, f.dataType, True)
        for f in _user_fields(dim_meta)
        if f.name not in dim_meta["key_cols"]
    ]
    collide = {f.name for f in dim_fields} & {f.name for f in fact_fields}
    if collide:
        raise ValueError(
            f"dim payload columns collide with fact columns under prefix "
            f"{prefix!r}: {sorted(collide)} — pass a different dim_prefix"
        )
    empty = spark.createDataFrame([], T.StructType(fact_fields + dim_fields))
    mapped = compile_mapping(empty, _payload_spec(mapping, key_cols))
    src_fields = {f.name: f for f in fact_fields}
    return T.StructType(
        [src_fields[k] for k in key_cols] + list(mapped.schema.fields)
    )


def _mapped_events(
    joined: DataFrame,
    mapping: MappingSpec,
    key_cols: list[str],
    *,
    upsert: "F.Column",
    drop: "F.Column | None" = None,
) -> DataFrame:
    """Joined rows -> merge envelope: `upsert` rows become U with the
    mapped payload, the rest D with typed-NULL payload; `drop` rows are
    removed entirely (inner-join unmatched inserts: nothing to delete)."""
    if drop is not None:
        joined = joined.filter(~drop)
    payload = _payload_spec(mapping, key_cols)
    mapped = compile_mapping(joined, payload)
    return joined.select(
        F.when(upsert, F.lit("U")).otherwise(F.lit("D")).alias("op"),
        *key_cols,
        *[
            F.when(upsert, _compile_entry(name, entry))
            .otherwise(F.lit(None).cast(fld.dataType))
            .alias(name)
            for (name, entry), fld in zip(payload.items(), mapped.schema.fields)
        ],
        F.col("seq"),
    )


def _expected_join_state(
    spark: SparkSession,
    fact: LaketteTable,
    dim: LaketteTable,
    fact_meta: dict,
    dim_meta: dict,
    on: dict[str, str],
    mapping: MappingSpec,
    how: str,
    prefix: str,
) -> DataFrame:
    """Full recompute of the derived state at the pinned versions, shaped
    like a derived-table snapshot (keys + payload + seq/deleted/
    content_sha) — initial sync, resync, and the tests' convergence
    oracle all share this one definition."""
    key_cols = list(fact_meta["key_cols"])
    fk_cols, dim_keys = _validate_on(on, fact_meta, dim_meta)
    f_snap = fact.snapshot(spark, include_deleted=True, metadata=fact_meta)
    d = _dim_frame(spark, dim, dim_meta, prefix)
    joined = f_snap.join(d, on=_join_cond(fk_cols, dim_keys), how="left")
    tomb = F.coalesce(F.col("deleted"), F.lit(False))
    matched = _matched(dim_keys)
    if how == "inner":
        # live-but-unmatched rows are simply absent; tombstones stay (the
        # LWW floor transfers regardless of enrichment)
        joined = joined.filter(tomb | matched)
    payload = _payload_spec(mapping, key_cols)
    out = joined.select(
        *key_cols,
        *[
            F.when(~tomb, _compile_entry(name, entry)).alias(name)
            for name, entry in payload.items()
        ],
        F.col("seq"),
        tomb.alias("deleted"),
    )
    content_sha = (
        F.when(~F.col("deleted"), F.sha2(F.col("content"), 256))
        if "content" in payload
        else F.lit(None).cast("string")
    )
    return out.withColumn("content_sha", content_sha)


def derived_join_recompute(
    spark: SparkSession,
    fact: LaketteTable,
    dim: LaketteTable,
    on: dict[str, str],
    mapping: MappingSpec,
    *,
    how: str = "left",
    dim_prefix: str = "dim_",
) -> DataFrame:
    """One-shot recompute of the LIVE derived state from the current
    snapshots — what the incrementally-maintained destination must equal
    row-for-row at convergence."""
    fm, dm = fact._raw_current(), dim._raw_current()
    st = _expected_join_state(
        spark, fact, dim, fm, dm, on, mapping, how, dim_prefix
    )
    return st.filter(~F.col("deleted")).drop("deleted", "content_sha")


def derive_join(
    spark: SparkSession,
    fact: LaketteTable,
    dim: LaketteTable,
    dst_root: str,
    on: dict[str, str],
    mapping: MappingSpec,
    *,
    how: str = "left",
    derive_id: str = "derive_join",
    n_buckets: int | None = None,
    dim_prefix: str = "dim_",
    reverse_lookup_max_keys: int = 1024,
    allow_spec_change: bool = False,
    force_resync: bool = False,
) -> DeriveJoinReport:
    """Bring the derived join table at `dst_root` up to both sources'
    current versions (module docstring). Safe to call repeatedly; fits
    `run_ingest(derived=[...])` as `lambda s: derive_join(s, ...)`.
    `force_resync=True` repairs out-of-band destination drift at an
    UNCHANGED spec: full expected-state recompute, state-diffed against
    the destination, applied in a fresh marker namespace (SQL: REFRESH
    MATERIALIZED VIEW x FULL)."""
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    if fact.root == dim.root:
        raise ValueError(
            "derive_join v1 does not support self-joins (fact and dim are "
            "the same table) — both offset streams would alias"
        )
    fact_meta = fact._raw_current()
    dim_meta = dim._raw_current()
    tf, td = int(fact_meta["version"]), int(dim_meta["version"])
    key_cols = list(fact_meta["key_cols"])
    fk_cols, dim_keys = _validate_on(on, fact_meta, dim_meta)
    _validate_spec(mapping, key_cols)

    dst = open_or_create(dst_root, lambda: LaketteTable.create(
        dst_root,
        _joined_schema(spark, fact, fact_meta, dim_meta, mapping, dim_prefix),
        key_cols,
        n_buckets=int(n_buckets or fact_meta["n_buckets"]),
        target_file_rows=fact_meta.get("target_file_rows"),
    ))

    report = DeriveJoinReport(fact_version=tf, dim_version=td)
    fp = {
        "mapping": {
            k: (v if isinstance(v, str) else f"<non-sql:{type(v).__name__}>")
            for k, v in mapping.items()
        },
        "on": dict(sorted(on.items())),
        "how": how,
        "dim_prefix": dim_prefix,
        "dim_root": dim.root,
    }
    qid, spec_changed, store_fp = _spec_guard(
        dst, derive_id, fp, allow_spec_change, force_resync=force_resync
    )
    off_path = os.path.join(dst.root, "_derive", f"{derive_id}.offsets.json")

    def _store_offsets() -> None:
        dst.fs.makedirs(os.path.dirname(off_path))
        dst.fs.put_json(off_path, {"fact": tf, "dim": td})

    def _full(initial: bool) -> DeriveJoinReport:
        report.initial_sync = initial
        report.resync = not initial
        expected = _expected_join_state(
            spark, fact, dim, fact_meta, dim_meta, on, mapping, how, dim_prefix
        )
        payload_cols = list(_payload_spec(mapping, key_cols))
        if initial:
            batch = state_events(expected, key_cols, payload_cols)
            stats = apply_epoch(
                spark, dst, batch, qid, tf + td, mode="cow", overwrite=True
            )
        else:
            stats = repair_epoch(
                spark, dst, expected, key_cols, payload_cols, qid, tf + td
            )
        report.applied_epochs.append(stats)
        store_fp()
        _store_offsets()
        return report

    if spec_changed or force_resync:
        return _full(initial=False)

    have_offsets = dst.fs.exists(off_path)
    if not have_offsets:
        if last_replicated_version(dst, qid) is None:
            return _full(initial=True)  # genuinely fresh destination
        if dst.epoch_committed(qid, tf + td):
            _store_offsets()  # crash between the first merge and sidecar
            return report
        # crashed sidecar AND a source advanced since: the destination
        # holds committed rows, so repair by state-diff (a re-run of the
        # append-shaped initial batch could strand inner-join rows whose
        # match vanished — resync cannot)
        return _full(initial=False)

    offs = dst.fs.read_json(off_path)
    lf, ld = int(offs["fact"]), int(offs["dim"])
    if lf >= tf and ld >= td:
        report.fact_version, report.dim_version = lf, ld
        return report  # already current

    if not (chain_intact(fact, lf) and chain_intact(dim, ld)):
        return _full(initial=False)  # a source vacuumed past our offset

    if dst.epoch_committed(qid, tf + td):
        _store_offsets()  # crash between merge and sidecar
        return report

    live = F.col("change").isin("insert", "update")
    parts: list[DataFrame] = []
    span_keys = None
    if tf > lf:
        span_f = snapshot_diff(spark, fact, lf, tf, full_rows=True)
        d_new = _dim_frame(spark, dim, dim_meta, dim_prefix)
        joined = span_f.join(
            d_new, on=_join_cond(fk_cols, dim_keys), how="left"
        )
        matched = _matched(dim_keys)
        if how == "left":
            parts.append(_mapped_events(
                joined, mapping, key_cols, upsert=live,
            ))
        else:
            # inner: unmatched updates must LEAVE; unmatched inserts were
            # never present — skip them (no tombstone bloat, same rule as
            # derive's filter-failing inserts)
            parts.append(_mapped_events(
                joined, mapping, key_cols,
                upsert=live & matched,
                drop=(F.col("change") == "insert") & ~matched,
            ))
        span_keys = span_f.select(*key_cols)

    if td > ld:
        span_d = snapshot_diff(spark, dim, ld, td)
        changed = span_d.select(*dim_keys).distinct()
        # one bounded collect yields the changed keys and, within the
        # bound, their exact count; past it, count() gives the count
        cap = max(reverse_lookup_max_keys, 0)
        head = changed.limit(cap + 1).collect()
        within = len(head) <= cap
        report.dim_changed_keys = len(head) if within else int(changed.count())
        if head:
            if within and len(dim_keys) == 1:
                # pruned point-lookup path: push the changed keys into the
                # snapshot as col_eq IN-set — bloom file pruning (declare
                # the fk in the fact's bloom_cols) + exact row filter
                report.dim_refresh_path = "pruned"
                keys = [r[0] for r in head]
                affected = fact.snapshot(
                    spark, metadata=fact_meta,
                    col_eq={fk_cols[0]: keys},
                )
                # the collected keys, not the `changed` frame: a semi-join
                # against it would run the dim diff again inside the merge
                d_changed = _dim_frame(
                    spark, dim, dim_meta, dim_prefix,
                    col_eq={dim_keys[0]: keys},
                )
            else:
                # distributed fallback: semi-join the live fact against
                # the changed-key frame — O(fact scan), one shuffle,
                # disclosed here rather than silently chosen
                report.dim_refresh_path = "scan"
                affected = fact.snapshot(spark, metadata=fact_meta).join(
                    changed.withColumnsRenamed(
                        dict(zip(dim_keys, fk_cols))
                    ),
                    on=fk_cols, how="left_semi",
                )
                d_changed = _dim_frame(
                    spark, dim, dim_meta, dim_prefix, keys_filter=changed
                )
            if span_keys is not None:
                affected = affected.join(span_keys, on=key_cols, how="left_anti")
            joined = affected.join(
                d_changed, on=_join_cond(fk_cols, dim_keys), how="left"
            )
            matched = _matched(dim_keys)
            # affected rows are LIVE fact rows: left join keeps them with
            # NULL enrichment when the dim row vanished; inner deletes them
            parts.append(_mapped_events(
                joined, mapping, key_cols,
                upsert=F.lit(True) if how == "left" else matched,
            ))

    if not parts:
        _store_offsets()
        return report
    batch = parts[0]
    for p in parts[1:]:
        batch = batch.unionByName(p)
    report.applied_epochs.append(apply_epoch(
        spark, dst, batch, qid, tf + td, mode="cow", overwrite=True
    ))
    _store_offsets()
    return report
