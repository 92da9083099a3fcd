"""Routed ingest: ONE change feed fanned out to N destination tables.

The reference's ETL shape — a single source feed loading several
destination tables, each with its own row filter and column-mapping spec —
expressed Spark-first: per epoch the batch is materialized once
(`persist`), then every route applies `filter` (Catalyst predicate) +
`compile_mapping` (one codegen projection, functions/mapping.py) + the
ordinary exactly-once `merge_into`. No extra scans of the source, no
Python on the row path.

Exactly-once is PER ROUTE by default: each route merges under its own
query_id, so its destination's epoch markers gate it independently. A
crash between route A's commit and route B's commit replays the epoch —
A skips on its marker, B applies — which converges without cross-table
transactions (same contract as any multi-sink CDC fan-out). When a torn
epoch must never be OBSERVABLE either (dashboards joining the
destinations mid-replay), `atomic=True` upgrades the epoch to one
multi-table transaction (lakette/txn.py) at the cost of a txn record
put per epoch — see merge_routes.

A route's mapping spec defines the COMPLETE output envelope, so it must
emit `op`, `seq`, and the destination's key columns — enforced loudly at
plan time, not discovered as a merge analysis error."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession

from ..functions.mapping import MappingSpec, compile_mapping
from ..lakette.table import LaketteTable
from ..operators.merge import MergeStats, merge_into


@dataclass
class Route:
    """One destination of the fan-out."""

    table: LaketteTable
    predicate: Column | str | None = None  # row filter; None = every row
    mapping: MappingSpec | None = None  # full output envelope (op/seq/keys + payload)
    mode: str = "mor"
    salt_buckets: int | None = None


@dataclass
class RoutedIngestReport:
    epochs: list[dict[str, MergeStats]] = field(default_factory=list)

    def applied_rows(self, route: str) -> int:
        return sum(e[route].applied_rows for e in self.epochs if route in e)


def _validate_route(name: str, route: Route) -> None:
    if route.mapping is None:
        return
    out_cols = set(route.mapping.keys())
    needed = {"op", "seq", *route.table.key_cols()}
    missing = needed - out_cols
    if missing:
        raise ValueError(
            f"route {name!r}: mapping spec must emit the merge envelope — "
            f"missing {sorted(missing)} (op, seq, and the destination key "
            f"columns {route.table.key_cols()})"
        )


def merge_routes(
    spark: SparkSession,
    routes: dict[str, Route],
    batch_df: DataFrame,
    *,
    epoch: int,
    query_prefix: str = "route",
    src_offsets: tuple[int, int] | None = None,
    atomic: bool = False,
    txn_dir: str | None = None,
) -> dict[str, MergeStats]:
    """Apply one micro-batch to every route, exactly-once per route.

    The batch is persisted once and each route's filter + mapping +
    merge runs against the cached plan — the source is scanned at most
    once per epoch regardless of route count. Routes whose epoch already
    committed (crash replay) skip on their own markers.

    `atomic=True` (requires `txn_dir`) upgrades the per-route contract to
    a MULTI-TABLE TRANSACTION (lakette/txn.py): every route's merge
    STAGES (publish=False), then one publish_transaction lands them all —
    a reader can never observe epoch N on destination A but not B. Crash
    recovery is built in: each call first sweeps txn_dir
    (recover_transactions, grace 0 — this loop is the txn_dir's single
    owner BY CONTRACT; give concurrent publishers their own dirs), so a
    death after the commit point rolls the remainder FORWARD before the
    epoch gate reads the stamps, and a death before it rolls the staged
    members BACK and the replayed epoch re-stages fresh. Two routes
    sharing one destination table are rejected loudly (their publishes
    would conflict inside the transaction by construction)."""
    for name, r in routes.items():
        _validate_route(name, r)
    if atomic:
        if txn_dir is None:
            raise ValueError("atomic=True requires txn_dir=")
        seen: dict[str, str] = {}
        for name, r in routes.items():
            if r.table.root in seen:
                raise ValueError(
                    f"atomic fan-out routes {seen[r.table.root]!r} and "
                    f"{name!r} share destination {r.table.root} — their "
                    "publishes would conflict inside one transaction; give "
                    "them separate tables or drop atomic"
                )
            seen[r.table.root] = name
        from ..lakette.txn import publish_transaction, recover_transactions

        recover_transactions(
            txn_dir,
            tables={r.table.root: r.table for r in routes.values()},
            grace_seconds=0,
        )
        # sweep THIS epoch's staged twins from crashed attempts that died
        # before their txn record existed (or whose pre-flip abort left
        # the stage intact): without it each crash-replay cycle leaks one
        # staged record per route — and stage_commit documents that
        # vacuum() protects staged files, so the leak would be permanent
        for name, r in routes.items():
            qid = f"{query_prefix}:{name}"
            for srec in r.table.list_staged():
                w = srec.get("writer") or {}
                if w.get("query_id") == qid and w.get("epoch") == epoch:
                    r.table.abort_staged(srec["stage_id"])
    cached = batch_df.persist()
    out: dict[str, MergeStats] = {}
    try:
        for name, r in routes.items():
            part = cached
            if r.predicate is not None:
                part = part.filter(r.predicate)
            if r.mapping is not None:
                part = compile_mapping(part, r.mapping)
            out[name] = merge_into(
                spark,
                r.table,
                part,
                query_id=f"{query_prefix}:{name}",
                epoch=epoch,
                mode=r.mode,
                salt_buckets=r.salt_buckets,
                src_offsets=src_offsets,
                publish=not atomic,
            )
    finally:
        cached.unpersist()
    if atomic:
        members = [
            (routes[name].table, s.stage_id)
            for name, s in out.items()
            if not s.skipped and s.stage_id
        ]
        if members:
            rec = publish_transaction(members, txn_dir)
            published = {m["root"]: m["published_version"] for m in rec["members"]}
            for name, s in out.items():
                v = published.get(routes[name].table.root)
                if v is not None:
                    s.version = v
    return out


def run_ingest_routed(
    spark: SparkSession,
    log_dir: str,
    routes: dict[str, Route],
    checkpoint_dir: str,
    *,
    query_id: str = "routed",
    max_files_per_trigger: int = 8,
    schema=None,
    timeout_sec: int | None = None,
    compact_every: int | None = None,
    on_epoch: Callable[[int, dict[str, MergeStats]], None] | None = None,
    atomic: bool = False,
) -> RoutedIngestReport:
    """Streaming fan-out: rate-limited file tail -> foreachBatch ->
    merge_routes. availableNow drains the backlog and stops. Per-route
    incremental compaction keeps every destination's delta backlog
    bounded (same policy as run_ingest).

    `atomic=True` publishes every epoch as one multi-table transaction
    (merge_routes docstring): no reader ever sees a torn epoch across
    the destinations, crash recovery included. Transaction records live
    under `<checkpoint_dir>/txns` beside the stream's own state."""
    from .ingest import CHANGELOG_SCHEMA

    report = RoutedIngestReport()
    txn_dir = f"{checkpoint_dir}/txns" if atomic else None

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        stats = merge_routes(
            spark, routes, batch_df, epoch=epoch_id, query_prefix=query_id,
            atomic=atomic, txn_dir=txn_dir,
        )
        report.epochs.append(stats)
        if on_epoch is not None:
            on_epoch(epoch_id, stats)
        # cadence counts APPLIED epochs only — crash-replayed (skipped)
        # epochs must not shift the compaction schedule (same policy as
        # run_ingest; code-review r3)
        applied = sum(
            1 for e in report.epochs if any(not s.skipped for s in e.values())
        )
        if compact_every and applied and applied % compact_every == 0:
            from ..operators.merge import compact, select_compaction_candidates

            for r in routes.values():
                cands = select_compaction_candidates(r.table)
                if cands:
                    compact(spark, r.table, buckets=cands)

    src = (
        spark.readStream.schema(schema or CHANGELOG_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(f"{log_dir}/seg-*.parquet")
    )
    q = (
        src.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_id)
        .trigger(availableNow=True)
        .start()
    )
    if timeout_sec:
        if not q.awaitTermination(timeout_sec):
            # never return a silently-partial replay (same contract as
            # run_ingest's drain)
            q.stop()
            raise TimeoutError(
                f"routed drain timed out after {timeout_sec}s "
                f"({len(report.epochs)} epochs applied)"
            )
    else:
        q.awaitTermination()
    return report
