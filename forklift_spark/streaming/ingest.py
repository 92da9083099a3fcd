"""M2/M3 — the ingest pipeline: change-feed tail -> exactly-once merge.

Two entry points with identical semantics (LWW merge is confluent, so any
batching of the same event set converges to the same table state):

  replay_batch  — whole-log batch replay (the minimum end-to-end slice;
                  also the oracle path for streaming tests)
  run_ingest    — Structured Streaming: rate-limited file tail
                  (`maxFilesPerTrigger`) -> `foreachBatch(merge_into)` with
                  Spark checkpoint offsets + lakette epoch markers. Spark's
                  offset WAL gives replayable source ranges; our marker
                  protocol makes the sink idempotent => exactly-once.

`verify_state` (C9) checks the final table against an expected state by
sha2(content, 256) equality per row, both directions (anti-joins empty).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lakette.table import LaketteTable
from ..operators.merge import MergeStats, merge_into

CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("event_ts", T.TimestampType(), True),
        T.StructField("schema_ver", T.IntegerType(), True),
    ]
)

#: schema_ver=2 envelope — additive evolution fixture (adds size_bytes)
CHANGELOG_SCHEMA_V2 = T.StructType(
    list(CHANGELOG_SCHEMA.fields) + [T.StructField("size_bytes", T.LongType(), True)]
)

ENTITY_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)

KEY_COLS = ["repo", "path"]


def create_entity_table(
    root: str, n_buckets: int = 16, target_file_rows: int | None = None,
    column_lww: bool = False, cluster_by: list[str] | None = None,
    cluster_mode: str = "linear",
) -> LaketteTable:
    return LaketteTable.create(
        root, ENTITY_SCHEMA, KEY_COLS,
        n_buckets=n_buckets, target_file_rows=target_file_rows,
        column_lww=column_lww, cluster_by=cluster_by,
        cluster_mode=cluster_mode,
    )


def open_or_create_entity_table(root: str, n_buckets: int = 16) -> LaketteTable:
    if LaketteTable.exists(root):
        return LaketteTable(root)
    from ..lakette.table import CommitConflictError

    try:
        return create_entity_table(root, n_buckets=n_buckets)
    except CommitConflictError:
        # lost the create race to a twin process — its table is ours too
        return LaketteTable(root)


@dataclass
class IngestReport:
    epochs: list[MergeStats] = field(default_factory=list)
    #: per-refresh reports from the `derived` hooks (DeriveReport /
    #: AggDeriveReport), in invocation order
    derived: list = field(default_factory=list)
    #: per-epoch data-quality gate records when `expectations` is set:
    #: {"epoch": N, "quarantined": n, "fail_violations": n}
    dq: list = field(default_factory=list)

    @property
    def applied_rows(self) -> int:
        return sum(s.applied_rows for s in self.epochs)


def replay_batch(
    spark: SparkSession,
    log_dir: str,
    table: LaketteTable,
    *,
    query_id: str = "batch-replay",
    epoch: int = 0,
    salt_buckets: int | None = None,
    schema: T.StructType | None = None,
    mode: str = "cow",
) -> MergeStats:
    """M2: read the whole change log as one batch and merge it."""
    df = spark.read.schema(schema or CHANGELOG_SCHEMA).parquet(f"{log_dir}/seg-*.parquet")
    return merge_into(
        spark, table, df, query_id=query_id, epoch=epoch, salt_buckets=salt_buckets,
        mode=mode,
    )


def _apply_dq_gate(
    table: LaketteTable,
    batch_df: DataFrame,
    expectations: list,
    quarantine_dir: str,
    *,
    query_id: str,
    epoch_id: int,
    report: "IngestReport",
) -> DataFrame:
    """One epoch through the data-quality gate (run_ingest docstring).

    Returns the good-path events for the merge. Side effects — quarantine
    parquet under table/_quarantine/epoch=N, the IngestReport.dq record,
    the fail-action abort — run only for UNCOMMITTED epochs: a replayed
    epoch whose marker exists already landed its quarantine rows and its
    merge will no-op, so the gate is pass-through (exactly-once for the
    quarantine sink, same protocol as dead letters / the table commit).

    Costs: the split is two filters over one projection (expectations
    module docstring); the per-rule counts ride ONE Observation on the
    quarantine write, so the gate adds zero extra Spark jobs."""
    from pyspark.sql import Observation

    from ..operators import expectations as xp
    from ..operators.merge import _obs_count

    good, bad = xp.gate_events(batch_df, expectations)
    if table.epoch_committed(query_id, epoch_id):
        return good

    fail_rules = [e.name for e in expectations if e.action == "fail"]
    obs = Observation(f"dq-{query_id}-{epoch_id}")
    metrics = [F.count(F.lit(1)).alias("quarantined")] + [
        F.count(
            F.when(F.array_contains(xp.VIOLATIONS_COL, F.lit(r)), 1)
        ).alias(f"fail_{i}")
        for i, r in enumerate(fail_rules)
    ]
    (
        bad.observe(obs, *metrics)
        # tags as csv: the quarantine parquet is a human triage surface
        .withColumn(xp.VIOLATIONS_COL, F.array_join(xp.VIOLATIONS_COL, ","))
        .write.mode("overwrite")
        .parquet(os.path.join(quarantine_dir, f"epoch={epoch_id}"))
    )
    fail_counts = {
        r: _obs_count(obs, f"fail_{i}") for i, r in enumerate(fail_rules)
    }
    report.dq.append(
        {
            "epoch": int(epoch_id),
            "quarantined": _obs_count(obs, "quarantined"),
            "fail_violations": sum(fail_counts.values()),
        }
    )
    violated = {r: n for r, n in fail_counts.items() if n > 0}
    if violated:
        # abort BEFORE the merge: no commit, no marker — the stream dies
        # here and a restart replays this epoch exactly-once after the
        # operator intervenes (fix rules upstream or relax the spec)
        raise xp.ExpectationError(violated)
    return good


def read_quarantine(spark: SparkSession, table: LaketteTable) -> DataFrame:
    """All quarantined change events with their violation tags (csv of
    rule names) and epoch — the triage surface for the expectations gate."""
    path = os.path.join(table.root, "_quarantine")
    return (
        spark.read.option("basePath", path)
        .parquet(os.path.join(path, "epoch=*"))
    )


def run_ingest(
    spark: SparkSession,
    log_dir: str,
    table: LaketteTable,
    checkpoint_dir: str,
    *,
    query_id: str = "cdc-ingest",
    max_files_per_trigger: int = 8,
    available_now: bool = True,
    salt_buckets: int | str | None = None,
    schema: T.StructType | None = None,
    timeout_sec: int | None = None,
    mode: str = "cow",
    source: str = "file",
    dedupe_in_batch: bool = True,
    compact_every: int | None = None,
    drop_dup_within_watermark: str | None = None,
    vacuum_every: int | None = None,
    vacuum_keep_versions: int = 4,
    vacuum_grace_seconds: float = 3600.0,
    vacuum_keep_hours: float | None = None,
    expire_epochs_keep: int | None = None,
    derived: "list | None" = None,
    derived_every: int = 1,
    expectations: "list | None" = None,
) -> "IngestReport | tuple[IngestReport, object]":
    """M3: streaming replay. `availableNow` drains the backlog in rate-limited
    micro-batches and stops — the 10^10-replay mode; with a live feed, pass
    available_now=False and the return value is (report, StreamingQuery):
    manage the query lifecycle yourself.

    source="file" uses Spark's file stream source (maxFilesPerTrigger rate
    limit); source="wal_tail" uses the engine's pure-Python offset-tracked
    DataSource (SURVEY.md §2.1 S5) — identical semantics, custom offsets.

    mode="cow" | "mor" | "auto": storage layout per epoch — "auto" lets
    merge_into choose per epoch from the maintained per-bucket counters
    (COW while the batch is commensurate with the touched key groups,
    MOR once a trickle of updates runs against a big table); the per-epoch
    decision lands in each MergeStats.mode_used and the metrics records.

    `drop_dup_within_watermark` (e.g. "10 minutes") enables T4: duplicate
    deliveries of the same (repo, path, seq) within the watermark are
    dropped by Spark's stateful dedup BEFORE the merge shuffle — an
    optimization only; LWW idempotence remains the correctness backstop
    for duplicates arriving outside the watermark.

    salt_buckets="auto" turns on ADAPTIVE skew salting for merge-on-read
    epochs with in-batch dedupe: the dedupe's LWW resolver sums input
    events per key for free, the engine records max/mean as `key_skew`,
    and the dedupe splits into two salted resolver passes for the NEXT
    epoch when skew crosses 8x, releasing below 3x. No pre-pass — the
    signal rides the epoch's own aggregate — and at most one epoch of
    lag, which correctness never depends on (the two-pass resolve is
    identical for any salt count).
    Copy-on-write epochs never salt (their one fold is partitioned by
    bucket; merge_into records salt_buckets=None) but still report
    `key_skew`, so a mode="auto" loop keeps its signal across modes.

    `vacuum_every=N` wires RETENTION into the loop (VERDICT r3 #8): every N
    applied epochs the table vacuums expired versions' data/metadata/
    manifest files (keeping `vacuum_keep_versions` versions, respecting
    `vacuum_grace_seconds` — lower it to 0 only when this loop is the sole
    writer; `vacuum_keep_hours=H` additionally keeps every commit of the
    last H wall-clock hours so `snapshot(as_of=)` time travel stays valid
    across the whole window regardless of epoch cadence), and, with
    `expire_epochs_keep=K`, prunes epoch markers +
    lineage + metrics below (max epoch - K). Together these bound every
    file population a continuous 10^10-event ingest grows — data files,
    version files, manifest shards, markers — at O(retained), not
    O(stream lifetime). K must stay comfortably above the deepest replay
    the checkpoint can demand (see expire_epochs).

    `derived=[hook, ...]` wires the MEDALLION pattern into the loop: each
    hook is a callable `hook(spark) -> report` (typically a lambda over
    `derive()` / `derive_agg()` bound to this table as source) invoked
    after every `derived_every`-th applied epoch, in list order — so a
    bronze→silver hook followed by a silver→gold hook keeps the whole
    chain fresh within one epoch. Hooks carry their own exactly-once
    offsets, so they compose with crash/replay exactly like the merge
    itself; refresh runs BEFORE the vacuum cadence so retention can never
    out-run a lagging derived table's unread span (and if it somehow did,
    derive's vacuumed-span resync repairs rather than corrupts). After an
    availableNow drain the hooks run one final catch-up pass, so on
    return every derived table reflects the source's final version.
    Per-refresh reports land in `IngestReport.derived`. Any callable with
    its own offsets fits — `replicate()` (a live mirror) and
    `export_changes()` (a continuous marker-gated parquet changelog drop
    for external consumers) slot in unchanged
    (tests/test_export_changes.py).

    `expectations=[Expectation, ...]` puts the DATA-QUALITY GATE
    (operators/expectations.py) in front of every epoch's merge: delete
    events bypass (their NULL payloads must not be judged — gate_events
    docstring), violating upserts route per their rule's action —
    quarantine/fail rows land under table/_quarantine/epoch=N with their
    violation tags (marker-gated overwrite, so crash replays never
    duplicate), drop rows vanish, warn rows pass annotated-only. Any
    fail-action violation raises ExpectationError BEFORE the merge, so
    the epoch never commits and a restart replays it exactly-once after
    the operator intervenes. Per-epoch counts (one Observation on the
    quarantine write — zero extra jobs) land in `IngestReport.dq`."""
    report = IngestReport()
    adaptive_salt = salt_buckets == "auto"
    current_salt: int | None = None if adaptive_salt else salt_buckets  # type: ignore[assignment]

    dead_letter_dir: str | None = None
    if source == "wal_tail":
        from ..sources.wal_source import register_wal_source

        register_wal_source(spark)
        os.makedirs(checkpoint_dir, exist_ok=True)
        src = (
            spark.readStream.format("wal_tail")
            .schema(schema or CHANGELOG_SCHEMA)
            .option("path", log_dir)
            .option("maxFilesPerBatch", max_files_per_trigger)
            .option("progressFile", os.path.join(checkpoint_dir, f"{query_id}.hwm"))
            .load()
        )
    elif source == "jsonl":
        # raw binlog wire format: JSON lines, parsed + dead-letter-routed
        # inside each epoch (C1); rejects land under table/_dead_letters/
        src = (
            spark.readStream.schema(T.StructType([T.StructField("value", T.StringType())]))
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .text(f"{log_dir}/seg-*.jsonl")
        )
        dead_letter_dir = os.path.join(table.root, "_dead_letters")
        os.makedirs(dead_letter_dir, exist_ok=True)
    else:
        src = (
            spark.readStream.schema(schema or CHANGELOG_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(f"{log_dir}/seg-*.parquet")
        )

    if drop_dup_within_watermark:
        if source == "jsonl":
            # the jsonl stream is a single raw `value` column until
            # parse_events runs inside each epoch, so there is no event_ts
            # to watermark yet — fail with a clear contract error instead
            # of Spark's opaque analysis failure (ADVICE.md r2)
            raise ValueError(
                "drop_dup_within_watermark is not supported with "
                "source='jsonl': the raw stream has no event_ts column "
                "before in-epoch parsing; use source='file'/'wal_tail' or "
                "rely on LWW idempotence for duplicate deliveries"
            )
        src = src.withWatermark("event_ts", drop_dup_within_watermark)
        src = src.dropDuplicatesWithinWatermark(["repo", "path", "seq"])

    quarantine_dir = os.path.join(table.root, "_quarantine")

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        if source == "jsonl":
            from ..operators.parse import parse_events

            batch_df, dead = parse_events(batch_df, "value")
            # marker-gated like the table commit: a re-run epoch must not
            # duplicate its dead-letter rows
            if not table.epoch_committed(query_id, epoch_id):
                dead.write.mode("overwrite").parquet(
                    os.path.join(dead_letter_dir, f"epoch={epoch_id}")
                )
        if expectations:
            batch_df = _apply_dq_gate(
                table, batch_df, expectations, quarantine_dir,
                query_id=query_id, epoch_id=epoch_id, report=report,
            )
        nonlocal current_salt
        # mode="auto" in the STREAMING loop feeds the previous applied
        # epoch's measured stats back in, so the per-epoch layout decision
        # costs ZERO extra jobs in steady state (lagged telemetry —
        # merge_into docstring)
        prev = next(
            (s for s in reversed(report.epochs) if not s.skipped), None
        ) if mode == "auto" else None
        stats = merge_into(
            spark,
            table,
            batch_df,
            query_id=query_id,
            epoch=epoch_id,
            salt_buckets=current_salt,
            mode=mode,
            auto_prev=prev,
            dedupe_in_batch=dedupe_in_batch,
        )
        report.epochs.append(stats)
        if adaptive_salt and not stats.skipped and stats.key_skew:
            if stats.key_skew > 8.0:
                current_salt = 16
            elif stats.key_skew < 3.0:
                current_salt = None
        # medallion loop: refresh derived tables (bronze->silver->gold)
        # inside the streaming loop, in hook order so chained hooks see
        # each other's commits, and BEFORE the retention block below can
        # vacuum the source span a lagging hook would consume. Each hook
        # is exactly-once on its own offsets (derive/derive_agg markers),
        # so a crashed epoch re-runs the refresh idempotently.
        if derived and not stats.skipped:
            applied = sum(1 for e in report.epochs if not e.skipped)
            if applied % derived_every == 0:
                for hook in derived:
                    report.derived.append(hook(spark))
        # bound merge-on-read delta accumulation: periodically fold deltas
        # into compacted base files (a crash mid-compact is harmless — the
        # next compact rewrites from the committed snapshot). INCREMENTAL:
        # only buckets whose delta backlog crossed the threshold are
        # rewritten, so the epoch-latency spike is O(hot buckets), never
        # O(table) — the 100 TB requirement (VERDICT r1 #4).
        if compact_every and not stats.skipped:
            applied = sum(1 for e in report.epochs if not e.skipped)
            if applied % compact_every == 0:
                from ..operators.merge import compact, select_compaction_candidates

                cands = select_compaction_candidates(table)
                if cands:
                    compact(spark, table, buckets=cands)
        # retention cadence (VERDICT r3 #8): bound data/metadata/marker
        # file populations over an unbounded run. Driver-side file ops
        # between epochs — never on the row path.
        if vacuum_every and not stats.skipped:
            applied = sum(1 for e in report.epochs if not e.skipped)
            if applied % vacuum_every == 0:
                table.vacuum(
                    keep_versions=vacuum_keep_versions,
                    grace_seconds=vacuum_grace_seconds,
                    keep_since=(time.time() - vacuum_keep_hours * 3600.0)
                    if vacuum_keep_hours is not None else None,
                )
                if expire_epochs_keep is not None:
                    table.expire_epochs(keep_last=expire_epochs_keep)

    writer = (
        src.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_id)
    )
    if not available_now:
        q = writer.start()
        return report, q  # caller manages lifecycle
    if source == "wal_tail":
        # Python DataSources don't implement Trigger.AvailableNow (Spark
        # falls back to ONE batch, which would defeat the rate limit), so
        # drain explicitly: run micro-batches back-to-back and stop once a
        # completed batch's end offset covers every segment on disk.
        import ast as _ast
        import json as _json
        import time as _time

        def _parse_offset(raw):
            if isinstance(raw, dict):
                return raw
            if not raw:
                return None
            try:
                return _json.loads(raw)
            except _json.JSONDecodeError:
                # some progress paths repr() the dict instead of JSON-encoding
                return _ast.literal_eval(raw)

        q = writer.trigger(processingTime="0 seconds").start()
        target = len(
            [s for s in os.listdir(log_dir) if s.startswith("seg-") and s.endswith(".parquet")]
        )
        deadline = _time.monotonic() + (timeout_sec or 300)
        covered = -1
        while _time.monotonic() < deadline:
            p = q.lastProgress
            if p and p.get("sources"):
                end = _parse_offset(p["sources"][0].get("endOffset"))
                if end:
                    covered = int(end.get("segments", -1))
                if covered >= target:
                    break
            if q.exception() is not None:
                break
            _time.sleep(0.2)
        q.stop()
        q.awaitTermination(60)
        if q.exception() is not None:
            raise q.exception()
        if covered < target:
            # never return a silently-partial replay: callers assert
            # sha-exact state afterwards and must see the timeout, not a
            # quietly truncated table (ADVICE.md)
            raise TimeoutError(
                f"wal_tail drain timed out after {timeout_sec or 300}s: "
                f"end offset covered {covered}/{target} segments"
            )
    else:
        q = writer.trigger(availableNow=True).start()
        if timeout_sec:
            if not q.awaitTermination(timeout_sec):
                # never return a silently-partial replay (same contract as
                # the wal_tail drain above) — callers assert sha-exact
                # state afterwards and must see the timeout
                q.stop()
                raise TimeoutError(
                    f"availableNow drain timed out after {timeout_sec}s "
                    f"({len(report.epochs)} epochs applied)"
                )
        else:
            q.awaitTermination()
    if derived:
        # final catch-up: with derived_every > 1 (or a skipped tail epoch)
        # the drained table can be ahead of the derived chain; hooks no-op
        # cheaply when already current, so this is O(metadata) in the
        # common case and leaves every derived table at the source's final
        # version on return.
        for hook in derived:
            report.derived.append(hook(spark))
    return report


def read_dead_letters(spark: SparkSession, table: LaketteTable) -> DataFrame:
    """All dead-lettered raw lines with their reject reason and epoch."""
    path = os.path.join(table.root, "_dead_letters")
    return (
        spark.read.schema("raw string, reason string")
        .option("basePath", path)
        .parquet(os.path.join(path, "epoch=*"))
    )


def reprocess_dead_letters(
    spark: SparkSession,
    table: LaketteTable,
    *,
    query_id: str = "dead-letter-replay",
    epoch: int = 0,
    mode: str = "cow",
) -> tuple[MergeStats, int]:
    """C1 closure: re-parse every dead-lettered line (e.g. after an
    upstream producer fix made previously-malformed payloads valid) and
    merge the now-valid events. Idempotent like any merge (epoch marker);
    late lines can never regress rows (LWW). Returns (merge stats,
    still-dead count)."""
    from ..operators.parse import parse_events

    dead = read_dead_letters(spark, table).select("raw")
    events, still_dead = parse_events(dead.withColumnRenamed("raw", "value"))
    stats = merge_into(
        spark, table, events, query_id=query_id, epoch=epoch, mode=mode
    )
    return stats, still_dead.count()


def expected_final_state_spark(
    spark: SparkSession, log_dir: str, schema: T.StructType | None = None
) -> DataFrame:
    """Batch-oracle final state computed with Spark itself (argmax over the
    whole log) — used at bench scale where the pandas oracle would not fit
    on the driver. The argmax path (lww_dedupe) is itself validated against
    the pandas oracle at small scale by the pytest suite."""
    from ..operators.merge import lww_dedupe

    df = spark.read.schema(schema or CHANGELOG_SCHEMA).parquet(f"{log_dir}/seg-*.parquet")
    final = lww_dedupe(df, KEY_COLS, "seq").filter(F.col("op") != F.lit("D"))
    return final.select(*KEY_COLS, "content")


def verify_state(
    spark: SparkSession,
    table: LaketteTable,
    expected: DataFrame,
    *,
    content_col: str = "content",
) -> dict:
    """C9 — per-row sha2(content,256) equality vs an expected final state.

    `expected` carries key cols + content (+ optionally seq). Returns dict
    with counts; `ok` iff both anti-joins are empty and all hashes match."""
    # presence is tracked with dedicated markers, NOT null content_sha —
    # a legitimate row with NULL content hashes to NULL on both sides and
    # must verify as a match, not as missing+extra (code-review r3)
    snap = table.snapshot(spark).select(
        *KEY_COLS,
        F.col("content_sha"),
        F.col("seq").alias("_snap_seq"),
        F.lit(True).alias("_snap_present"),
    )
    exp = expected.select(
        *KEY_COLS,
        F.sha2(F.col(content_col), 256).alias("_exp_sha"),
        F.lit(True).alias("_exp_present"),
    )
    j = snap.join(exp, KEY_COLS, "full_outer")
    agg = j.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("_snap_present").isNull(), 1).otherwise(0)).alias("missing"),
        F.sum(F.when(F.col("_exp_present").isNull(), 1).otherwise(0)).alias("extra"),
        F.sum(
            F.when(
                F.col("_snap_present").isNotNull()
                & F.col("_exp_present").isNotNull()
                & ~F.col("content_sha").eqNullSafe(F.col("_exp_sha")),
                1,
            ).otherwise(0)
        ).alias("sha_mismatch"),
    ).collect()[0]
    res = {k: int(agg[k] or 0) for k in ("total", "missing", "extra", "sha_mismatch")}
    res["ok"] = res["missing"] == 0 and res["extra"] == 0 and res["sha_mismatch"] == 0
    return res
