"""Incremental AGGREGATE derived tables — the silver -> gold operator.

`derive()` (operators/derive.py) is loudly restricted to KEY-PRESERVING
row-level transforms because a key-changing transform turns row-level CDC
into an aggregation problem: one source key's delete must know which
derived keys it contributed to. This module IS that other operator.
`derive_agg` maintains a destination lakette table keyed by GROUP columns
as a grouped aggregation of a source lakette table, incrementally — each
call consumes the committed-version span since the last applied one and
updates ONLY the affected groups, exactly-once, with the offsets,
spec-drift guard and vacuum resync of operators/feed.py.

Two maintenance strategies, chosen by aggregate algebra (Larson-style
incremental view maintenance split into the self-maintainable and
non-self-maintainable classes):

  delta   for SELF-MAINTAINABLE aggregates (`sum(e)`, `count(*)`,
          `count(e)`): the span is read as a RETRACTION feed
          (snapshot_diff old_rows=True) — every changed row contributes
          (G(new row), +e(new)) and (G(old row), -e(old)); deltas are
          summed per group and ADDED to the gold table's current values,
          read bucket-pruned to the touched groups only. Per-epoch cost is
          O(span + touched gold groups) with ZERO source-table scans — the
          100 TB steady-state gold path. An update that moves a row
          between groups retracts from the old group and adds to the new
          one by construction.

          NULL-sum contract (documented divergence from bare SQL): a
          delta-maintained `sum(e)` column stores COALESCE(SUM(e), 0) — a
          group whose every operand is NULL holds 0, not NULL (a running
          additive state cannot distinguish "no non-NULL operand ever"
          without extra state). The recompute/convergence helpers and the
          harness oracle use the same definition. Aggregates needing bare
          SQL NULL semantics belong in the groups strategy.

          Floating-point caveat: retraction arithmetic on FLOAT/DOUBLE
          sums drifts (a + x - x need not equal a in IEEE float, and the
          error accumulates over epochs) — delta-maintained sums should
          use integer or DECIMAL operands; for float sums pick
          strategy="groups" (recompute is drift-free by construction) or
          accept approximate convergence. sum(count)-shaped integer
          pipelines — the common gold shape — are exact.

  groups  for ARBITRARY aggregates (min/max, count(distinct ...), avg,
          any SQL aggregate expression): the span only identifies the set
          of AFFECTED groups (old and new side); those groups are then
          recomputed exactly from the source snapshot — one filter +
          semi-join + partial-aggregate scan, no full shuffle of the
          table — and upserted (groups recomputing to empty are deleted).
          min/max under deletes is exactly the case delta algebra cannot
          express (a retracted value may have been the extremum). Per-
          epoch cost is O(source scan + touched-group rows); the scan is
          map-side pruned by the predicate and any file-stat pruning the
          group columns admit.

  auto    delta when EVERY aggregate parses as sum/count, else groups.

Group semantics: `group_by` maps gold key-column names to SQL expressions
over the source row (list form = identity columns). The destination's
logical key IS the group — `n_rows` (count of contributing rows) is
auto-maintained as the group's liveness witness: when it reaches 0 the
group's gold row is tombstoned, so the gold table converges to exactly
`SELECT G..., aggs..., count(*) FROM src-snapshot WHERE pred GROUP BY G`
at every applied version (tests assert sha-equality against recompute).

The optional `predicate` filters SOURCE rows before aggregation, on both
sides of the retraction feed — a row updated out of the predicate set
retracts its old contribution and adds nothing.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lakette.table import LaketteTable, META_COL_NAMES, META_COLS
from .changes import snapshot_diff
from .feed import (
    _keep_expr,
    _spec_guard,
    apply_epoch,
    chain_intact,
    last_replicated_version,
    open_or_create,
    repair_epoch,
)
from .merge import MergeStats

#: auto-maintained liveness/count column — reserved in specs
N_ROWS = "n_rows"

_DELTA_RE = re.compile(r"^\s*(sum|count)\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL)

#: engine meta columns a LIVE snapshot exposes (seq, content_sha) — legal
#: in AGGREGATE expressions (e.g. max(seq) = the group's last-commit
#: watermark) but only under the groups strategy: the delta retraction
#: feed carries the OLD row's user payload, not its old meta values.
#: `deleted` is never visible to specs (the snapshot drops it).
_SNAPSHOT_META = ("seq", "content_sha")


def _refs_meta(expr: str) -> set[str]:
    """Meta columns a spec SQL string references (word-boundary match;
    a false positive — e.g. the name inside a string literal — merely
    forces the groups strategy, which is always correct)."""
    return {
        m for m in (*_SNAPSHOT_META, "deleted")
        if re.search(rf"\b{m}\b", expr, re.IGNORECASE)
    }


@dataclass
class AggDeriveReport:
    src_version: int  # source version the gold table now reflects
    strategy: str  # delta | groups (resolved from "auto")
    applied_epochs: list[MergeStats] = field(default_factory=list)
    initial_sync: bool = False
    resync: bool = False

    @property
    def applied_rows(self) -> int:
        return sum(s.applied_rows for s in self.applied_epochs)


def _rm_tree(fs, path: str) -> None:
    """Recursive delete through the Storage seam (works on both the posix
    and object-store backends; object stores have no real dirs, remove()
    per object is the native shape)."""
    if fs.isdir(path):
        for name in fs.listdir(path):
            _rm_tree(fs, os.path.join(path, name))
        try:
            os.rmdir(path)
        except OSError:
            pass  # object-store backend: dirs are virtual
    elif fs.exists(path):
        fs.remove(path)


def _parse_delta(expr: str) -> tuple[str, str] | None:
    """("sum"|"count"|"count_star", operand-SQL) when `expr` is a
    self-maintainable aggregate, else None (DISTINCT never is)."""
    m = _DELTA_RE.match(expr)
    if not m:
        return None
    kind, operand = m.group(1).lower(), m.group(2).strip()
    if operand.lower().startswith("distinct ") or operand.lower() == "distinct":
        return None
    if kind == "count" and operand in ("*", "1", ""):
        return ("count_star", "*")
    # reject anything whose operand itself contains an aggregate-breaking
    # top-level comma (sum(a, b) is not SQL; count(a, b) would be) — the
    # regex is permissive, Catalyst validates the operand when compiled
    return (kind, operand)


def _normalize_group_by(group_by) -> dict[str, str]:
    if isinstance(group_by, (list, tuple)):
        return {g: g for g in group_by}
    return dict(group_by)


def _validate(
    group_by: dict[str, str],
    aggs: dict[str, str],
    src_cols: set[str],
    predicate,
):
    if not group_by:
        raise ValueError("derive_agg needs at least one group column")
    if not aggs:
        raise ValueError("derive_agg needs at least one aggregate")
    if N_ROWS in aggs or N_ROWS in group_by:
        raise ValueError(
            f"{N_ROWS!r} is auto-maintained by derive_agg (the group's "
            f"liveness witness) — remove it from the spec"
        )
    reserved = {n for n in (*group_by, *aggs) if n in META_COL_NAMES}
    if reserved:
        raise ValueError(
            f"spec names collide with engine meta columns: {sorted(reserved)}"
        )
    dup = set(group_by) & set(aggs)
    if dup:
        raise ValueError(f"names used as both group and aggregate: {sorted(dup)}")
    # group exprs and the predicate run over the CHANGE SPAN's row sides,
    # which carry only key + user payload — meta references there would
    # resolve against the span's own bookkeeping columns (wrong values)
    # or not at all. Aggregates run over snapshots; `seq`/`content_sha`
    # are fine there (groups strategy enforced by _resolve_strategy).
    for n, e in group_by.items():
        bad = _refs_meta(e)
        if bad:
            raise ValueError(
                f"group column {n!r} references engine meta column(s) "
                f"{sorted(bad)} — group expressions may only use key and "
                f"payload columns"
            )
    if isinstance(predicate, str) and _refs_meta(predicate):
        raise ValueError(
            f"predicate references engine meta column(s) "
            f"{sorted(_refs_meta(predicate))} — predicates may only use "
            f"key and payload columns"
        )
    if any("deleted" in _refs_meta(a) for a in aggs.values()):
        raise ValueError(
            "aggregates cannot reference 'deleted' — tombstones are "
            "already excluded from the aggregated snapshot"
        )
    for n, e in group_by.items():
        if n in src_cols and e != n:
            raise ValueError(
                f"group column {n!r} shadows a source column with a "
                f"non-identity expression ({e!r}) — aggregate expressions "
                f"would silently see the transformed value. Pick a distinct "
                f"group name."
            )


def _resolve_strategy(strategy: str, aggs: dict[str, str]) -> str:
    if strategy not in ("auto", "delta", "groups"):
        raise ValueError(f"strategy must be auto/delta/groups, got {strategy!r}")
    meta_aggs = {n for n, a in aggs.items() if _refs_meta(a)}
    if strategy == "auto":
        if meta_aggs:
            return "groups"  # retraction feed lacks old meta values
        return "delta" if all(_parse_delta(a) for a in aggs.values()) else "groups"
    if strategy == "delta":
        bad = {n: a for n, a in aggs.items() if not _parse_delta(a)}
        if bad:
            raise ValueError(
                f"strategy='delta' requires self-maintainable aggregates "
                f"(sum/count, no DISTINCT); not maintainable by addition: "
                f"{bad} — use strategy='groups' (affected-group recompute)"
            )
        if meta_aggs:
            raise ValueError(
                f"strategy='delta' cannot maintain aggregates over engine "
                f"meta columns ({sorted(meta_aggs)} reference "
                f"{list(_SNAPSHOT_META)}): the retraction feed carries the "
                f"old USER payload, not old meta values — use "
                f"strategy='groups'"
            )
    return strategy


def _gold_schema(
    spark: SparkSession,
    src: LaketteTable,
    group_by: dict[str, str],
    aggs: dict[str, str],
) -> tuple[T.StructType, dict[str, T.DataType]]:
    """(gold user schema, agg-column dtypes) — typed by compiling the spec
    against a zero-row frame shaped like a LIVE snapshot: the source's
    user schema plus the meta columns snapshots expose (`seq`,
    `content_sha`), so aggregates like max(seq) type-compile (Catalyst
    does the inference; sum(int)=long, count=long, etc.)."""
    snap_fields = list(src.user_schema().fields) + [
        T.StructField(n, t, True)
        for n, t in META_COLS
        if n in _SNAPSHOT_META
    ]
    empty = spark.createDataFrame([], T.StructType(snap_fields))
    gcols = [F.expr(e).alias(n) for n, e in group_by.items()]
    acols = [F.expr(a).alias(n) for n, a in aggs.items()]
    compiled = empty.groupBy(*gcols).agg(*acols, F.count(F.lit(1)).alias(N_ROWS))
    types = {f.name: f.dataType for f in compiled.schema.fields}
    fields = [T.StructField(n, types[n], True) for n in group_by] + [
        T.StructField(n, types[n], True) for n in (*aggs, N_ROWS)
    ]
    return T.StructType(fields), types


def _agg_exprs(
    aggs: dict[str, str], types: dict[str, T.DataType], delta_semantics: bool
) -> list[Column]:
    """The aggregate columns for a RECOMPUTE (initial sync / groups
    strategy / resync / convergence oracle). Under delta semantics,
    sum() recomputes as COALESCE(SUM(e), 0) to match the additive state
    (module docstring)."""
    out = []
    for n, a in aggs.items():
        parsed = _parse_delta(a) if delta_semantics else None
        if parsed and parsed[0] == "sum":
            out.append(
                F.coalesce(
                    F.expr(a).cast(types[n]), F.lit(0).cast(types[n])
                ).alias(n)
            )
        else:
            out.append(F.expr(a).alias(n))
    return out + [F.count(F.lit(1)).alias(N_ROWS)]


def _contrib_exprs(
    aggs: dict[str, str], types: dict[str, T.DataType]
) -> list[Column]:
    """Per-row SIGNED contributions for the delta strategy, over a frame
    carrying the source payload plus a `sign` column (+1 add / -1
    retract). Summing these per group yields the group's net delta."""
    out = []
    for n, a in aggs.items():
        kind, operand = _parse_delta(a)  # validated by _resolve_strategy
        t = types[n]
        if kind == "count_star":
            c = F.col("sign").cast(t)
        elif kind == "count":
            c = (
                F.when(F.expr(operand).isNotNull(), F.col("sign"))
                .otherwise(F.lit(0))
                .cast(t)
            )
        else:  # sum
            c = (
                F.coalesce(F.expr(operand).cast(t), F.lit(0).cast(t))
                * F.col("sign").cast(t)
            ).cast(t)
        out.append(c.alias(f"_d_{n}"))
    return out + [F.col("sign").cast("long").alias(f"_d_{N_ROWS}")]


def _span_sides(
    span: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    keep: Column,
    *,
    signed: bool,
) -> DataFrame:
    """The retraction feed as one frame of source-shaped rows: new-side
    rows of inserts/updates (sign +1) unioned with the OLD payload of
    updates/deletes re-shaped to source columns (sign -1), each side
    filtered by the predicate. With signed=False (groups strategy's
    touched-set computation) the predicate is NOT applied — a row leaving
    the predicate set still dirties its group — and no sign is attached."""
    new_side = span.filter(F.col("change").isin("insert", "update")).select(
        *key_cols, *payload_cols
    )
    old_side = span.filter(F.col("change").isin("update", "delete")).select(
        *key_cols, *[F.col(f"_old_{c}").alias(c) for c in payload_cols]
    )
    if not signed:
        return new_side.unionByName(old_side)
    return new_side.filter(keep).withColumn("sign", F.lit(1)).unionByName(
        old_side.filter(keep).withColumn("sign", F.lit(-1))
    )


def derive_agg(
    spark: SparkSession,
    src: LaketteTable,
    dst_root: str,
    group_by,
    aggs: dict[str, str],
    *,
    predicate: Column | str | None = None,
    derive_id: str = "gold",
    strategy: str = "auto",
    mode: str = "cow",
    n_buckets: int | None = None,
    allow_spec_change: bool = False,
    force_resync: bool = False,
) -> AggDeriveReport:
    """Bring the gold table at `dst_root` up to the source's current
    version under (group_by, aggs, predicate) — see module docstring for
    the two strategies and the NULL-sum contract. Creates the destination
    on first call (keyed by the group columns). Safe to call repeatedly;
    whole source versions land atomically, exactly-once under `derive_id`.
    A changed spec raises unless `allow_spec_change=True`, which REBUILDS
    the destination under the new spec (drop + recreate + one recompute
    epoch — additive-only schema evolution cannot drop a removed aggregate
    column, and gold tables are small; same drift guard as derive(),
    feed._spec_guard).
    `force_resync=True` repairs out-of-band gold drift at an UNCHANGED
    spec: full recompute, state-diffed against the destination and applied
    in a fresh marker namespace (SQL: REFRESH MATERIALIZED VIEW x FULL)."""
    src_meta = src._raw_current()
    target_v = int(src_meta["version"])
    key_cols = list(src_meta["key_cols"])
    group_by = _normalize_group_by(group_by)
    src_cols = {f.name for f in src.user_schema().fields}
    _validate(group_by, aggs, src_cols, predicate)
    strategy = _resolve_strategy(strategy, aggs)
    gnames = list(group_by)
    schema, types = _gold_schema(spark, src, group_by, aggs)
    agg_payload = [*aggs, N_ROWS]
    keep = _keep_expr(predicate)
    payload_cols = [
        f["name"]
        for f in src_meta["schema"]["fields"]
        if f["name"] not in key_cols and f["name"] not in META_COL_NAMES
    ]

    dst = open_or_create(dst_root, lambda: LaketteTable.create(
        dst_root, schema, gnames, n_buckets=int(n_buckets or src_meta["n_buckets"])
    ))

    fp = {
        "kind": "derive_agg",
        "group_by": group_by,
        "aggs": dict(aggs),
        "predicate": predicate if isinstance(predicate, (str, type(None))) else "<non-sql>",
        "strategy": strategy,
    }
    qid, spec_changed, store_fp = _spec_guard(
        dst, derive_id, fp, allow_spec_change, force_resync=force_resync
    )
    report = AggDeriveReport(src_version=target_v, strategy=strategy)

    def _group_exprs(frame: DataFrame) -> DataFrame:
        # materialize group columns alongside the payload (identity names
        # replace in place — _validate forbids shadowing non-identities)
        return frame.withColumns({n: F.expr(e) for n, e in group_by.items()})

    def _recompute(snap: DataFrame) -> DataFrame:
        """Grouped state of a source snapshot frame under the spec —
        gnames + agg cols + n_rows, one row per live group."""
        return (
            _group_exprs(snap.filter(keep))
            .groupBy(*gnames)
            .agg(*_agg_exprs(aggs, types, strategy == "delta"))
        )

    def _state_to_batch(state: DataFrame, epoch: int) -> DataFrame:
        return state.select(
            F.lit("U").alias("op"), *gnames, *agg_payload,
            F.lit(epoch).cast("long").alias("seq"),
        )

    def _resync() -> AggDeriveReport:
        # vacuum-broken-chain repair (spec UNchanged, so the gold schema
        # is identical): feed.repair_epoch with the full recompute as the
        # expected state. Every surviving group gets rewritten (expected
        # seq = target_v is strictly greater than any stored seq, so
        # repair classifies them all); gold tables are the small end of
        # the pipeline, and a resync is the broken-chain exception, not
        # the steady state.
        report.resync = True
        expected = (
            _recompute(src.snapshot(spark, metadata=src_meta))
            .withColumn("seq", F.lit(target_v).cast("long"))
            .withColumn("deleted", F.lit(False))
            .withColumn("content_sha", F.lit(None).cast("string"))
        )
        report.applied_epochs.append(repair_epoch(
            spark, dst, expected, gnames, agg_payload, qid, target_v
        ))
        store_fp()
        return report

    if force_resync and not spec_changed:
        # same spec, forced repair: the schema is identical, so the
        # in-place state-diff resync applies (no rebuild needed); the
        # gen-bumped qid guarantees the epoch is never marker-skipped
        return _resync()

    if spec_changed:
        # An ACCEPTED spec change REBUILDS the gold table: the spec IS the
        # table's contract, and lakette schema evolution is additive-only —
        # an in-place repair would leave a dropped aggregate column
        # lingering as stale payload (and the repair diff could not even
        # see payload-only changes: gold rows carry no content_sha). Gold
        # tables are the small end of the pipeline; the rebuild is one
        # recompute epoch under the fresh per-spec qid. Crash between
        # delete and create is self-healing: the fingerprint died with the
        # root, so the next call takes the plain create + initial-sync
        # branch with no drift error.
        report.resync = True
        _rm_tree(dst.fs, dst.root)
        dst = LaketteTable.create(
            dst_root,
            schema,
            gnames,
            n_buckets=int(n_buckets or src_meta["n_buckets"]),
            storage=dst.fs,
        )

    last = last_replicated_version(dst, qid)
    if last is None:
        report.initial_sync = True
        state = _recompute(src.snapshot(spark, metadata=src_meta))
        report.applied_epochs.append(apply_epoch(
            spark, dst, _state_to_batch(state, target_v), qid, target_v, mode=mode
        ))
        store_fp()
        return report
    if last >= target_v:
        report.src_version = last
        return report  # already current

    if not chain_intact(src, last):
        return _resync()  # vacuumed past the gold table's offset — repair

    if dst.epoch_committed(qid, target_v):
        return report  # a crashed previous run already landed this span

    span = snapshot_diff(
        spark, src, last, target_v, full_rows=True, old_rows=True
    )

    if strategy == "groups":
        # affected-group recompute: the span names the dirty groups (both
        # sides, predicate NOT applied — leaving the predicate set dirties
        # the group too); those groups are recomputed exactly from the
        # source snapshot and upserted; groups recomputing to empty die.
        touched = (
            _group_exprs(_span_sides(span, key_cols, payload_cols, keep, signed=False))
            .select(*gnames)
            .distinct()
        )
        snap = _group_exprs(src.snapshot(spark, metadata=src_meta).filter(keep))
        cand = snap.join(
            touched,
            [snap[g].eqNullSafe(touched[g]) for g in gnames],
            "left_semi",
        )
        rec = cand.groupBy(*gnames).agg(*_agg_exprs(aggs, types, False)).alias("r")
        t = touched.alias("t")
        j = t.join(rec, [F.col(f"t.{g}").eqNullSafe(F.col(f"r.{g}")) for g in gnames], "left")
        live = F.col(f"r.{N_ROWS}").isNotNull()
        batch = j.select(
            F.when(live, F.lit("U")).otherwise(F.lit("D")).alias("op"),
            *[F.col(f"t.{g}").alias(g) for g in gnames],
            *[F.col(f"r.{c}").alias(c) for c in agg_payload],
            F.lit(target_v).cast("long").alias("seq"),
        )
        report.applied_epochs.append(
            apply_epoch(spark, dst, batch, qid, target_v, mode=mode)
        )
        return report

    # --- delta strategy: retraction feed -> per-group net deltas ->
    # additive update of the touched gold groups (bucket-pruned read).
    contrib = _group_exprs(
        _span_sides(span, key_cols, payload_cols, keep, signed=True)
    )
    deltas = (
        contrib.select(*gnames, *_contrib_exprs(aggs, types))
        .groupBy(*gnames)
        .agg(*[F.sum(f"_d_{n}").alias(f"_d_{n}") for n in agg_payload])
    )
    # net-zero groups (e.g. an in-group update of an unaggregated column)
    # would rewrite identical values — drop them before touching gold
    changed = None
    for n in agg_payload:
        c = F.col(f"_d_{n}") != 0
        changed = c if changed is None else (changed | c)
    deltas = deltas.filter(changed).cache()
    try:
        tb = sorted(
            r["_b"]
            for r in deltas.select(dst.bucket_expr().alias("_b")).distinct().collect()
        )
        if not tb:
            # logically-empty span (e.g. a compaction-only version chain):
            # nothing to write; the NEXT call re-diffs from `last`, which
            # is correct (no marker advances) and costs one empty diff
            return report
        gold = dst.snapshot(spark, buckets=tb).select(*gnames, *agg_payload).alias("g")
        d = deltas.alias("d")
        j = d.join(
            gold, [F.col(f"d.{g}").eqNullSafe(F.col(f"g.{g}")) for g in gnames], "left"
        )
        new_n = F.coalesce(F.col(f"g.{N_ROWS}"), F.lit(0)) + F.col(f"d._d_{N_ROWS}")
        upsert = new_n > 0
        # a never-seen group netting to zero within one span (insert +
        # delete inside it) needs no tombstone — gold never held it
        j = j.filter(upsert | F.col(f"g.{N_ROWS}").isNotNull())
        vals = []
        for n in aggs:
            t = types[n]
            nv = (
                F.coalesce(F.col(f"g.{n}"), F.lit(0).cast(t))
                + F.col(f"d._d_{n}").cast(t)
            ).cast(t)
            vals.append(F.when(upsert, nv).otherwise(F.lit(None).cast(t)).alias(n))
        vals.append(
            F.when(upsert, new_n.cast(types[N_ROWS]))
            .otherwise(F.lit(None).cast(types[N_ROWS]))
            .alias(N_ROWS)
        )
        batch = j.select(
            F.when(upsert, F.lit("U")).otherwise(F.lit("D")).alias("op"),
            *[F.col(f"d.{g}").alias(g) for g in gnames],
            *vals,
            F.lit(target_v).cast("long").alias("seq"),
        )
        report.applied_epochs.append(
            apply_epoch(spark, dst, batch, qid, target_v, mode=mode)
        )
    finally:
        deltas.unpersist()
    return report


def derived_agg_recompute(
    spark: SparkSession,
    src: LaketteTable,
    group_by,
    aggs: dict[str, str],
    *,
    predicate: Column | str | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """The grouped aggregation applied to the CURRENT source snapshot in
    one shot — the convergence oracle: after derive_agg catches up, the
    gold table's live snapshot must equal this frame exactly on
    group + aggregate + n_rows columns (tests assert row-for-row).
    Uses the SAME null-sum semantics the strategy maintains."""
    group_by = _normalize_group_by(group_by)
    strategy = _resolve_strategy(strategy, aggs)
    _, types = _gold_schema(spark, src, group_by, aggs)
    keep = _keep_expr(predicate)
    snap = src.snapshot(spark).filter(keep).withColumns(
        {n: F.expr(e) for n, e in group_by.items()}
    )
    return snap.groupBy(*list(group_by)).agg(
        *_agg_exprs(aggs, types, strategy == "delta")
    )
