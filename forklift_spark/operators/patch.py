"""Partial-update CDC events (op='P') with per-column last-writer-wins.

Real change feeds rarely redeliver full rows: MySQL binlog with
binlog_row_image=MINIMAL, Debezium patch events, and Mongo $set oplog
entries carry only the columns an update touched. Row-level LWW cannot
apply such events (the unwritten columns would overwrite good data with
NULL), and resolving them against "whatever the table currently holds"
is order-dependent across batch boundaries — a different micro-batching
of the same log would produce a different table. This module implements
the confluent semantics instead (SURVEY.md §2.10 C-family extension):

  per COLUMN, the writer with the highest commit seq wins, where a
  full row ('I'/'U') and a delete ('D') write EVERY payload column
  ('D' writes NULL — a delete resets the row) and a patch ('P')
  writes exactly its non-NULL columns; row PRESENCE is row-level LWW
  over ALL events (so a patch sequenced above a tombstone resurrects
  the key carrying only its own columns — the MySQL/Mongo replay
  shape where a row reappears via partial writes).

Every rule is an associative, commutative max / argmax, so ANY partition
of the event log into ANY sequence of micro-batches converges to the
same table state (tests/test_patch_lww.py randomizes the batching) —
the same confluence contract the row-level engine has (SURVEY.md §7
hard-point 5). The price is per-column state: rows of a `column_lww`
table store `col_seqs[c]` — the seq of the last writer of each payload
column (engine META column, lakette/table.py PATCH_COL). Without stored
per-column seqs a LATE patch (below a column's last writer but above
the row's tombstone floor) could not be dropped per-column.

Applied through BOTH storage modes. Batch events become physical rows
that carry their own col_seqs (`mor_patch_row_shape`). On the
MERGE-ON-READ path those rows (or their `column_lww_dedupe` in-batch
resolve) are appended as deltas and the snapshot read resolves dirty
groups with `column_lww_fold` instead of the row-level argmax (compact()
inherits it through snapshot). On the COPY-ON-WRITE path the raw event
rows are unioned with the touched buckets' stored rows and the same
`column_lww_fold` resolves both sides in one bucket-partitioned
aggregate (`src_col=` makes equal writer seqs keep the stored row). The
write / commit / marker machinery is untouched. Associativity makes any
split between in-batch resolve, delta granularity, and read fold
converge, so cow, mor and auto epochs mix freely — same as the
row-level engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: ops that write every payload column (a delete writes NULLs)
_FULL_WRITERS = ("I", "U", "D")


def ensure_patch_mode(meta: dict, *, mode: str, overwrite: bool,
                      dedupe_strategy: str) -> str:
    """Validate merge options for a column_lww table; returns the mode
    unchanged (cow, mor and auto are all supported: the merge-on-read
    read path folds per-column writer seqs, see column_lww_fold)."""
    if overwrite:
        raise ValueError(
            "overwrite=True is not supported on a column_lww table: "
            "overwrite is the row-level repair primitive (replicate "
            "resync); per-column state has no force-this-row analogue yet"
        )
    if dedupe_strategy != "agg":
        raise ValueError(
            "dedupe_strategy='prefilter' is row-level (it keeps only each "
            "key's max-seq row — a losing row's patch columns would be "
            "lost); column_lww tables require the 'agg' strategy"
        )
    return mode


def op_guard(op_col: Column) -> Column:
    """The op column, raising AT EXECUTION TIME if a patch event reaches a
    row-level (non-column_lww) table — where 'P' would silently be applied
    as a full row and its NULL columns would overwrite good data. Runs
    inside the merge job, so the error fires before anything commits."""
    return F.when(
        op_col == "P",
        F.raise_error(F.lit(
            "op='P' patch event sent to a table without column_lww "
            "semantics — create the table with column_lww=True or send "
            "full-row events"
        )).cast("string"),
    ).otherwise(op_col)


def _writes(c: str) -> Column:
    """Does this event write payload column c? Full rows and deletes write
    every column; a patch writes its non-NULL columns."""
    return F.col("op").isin(*_FULL_WRITERS) | F.col(c).isNotNull()


def column_lww_dedupe(
    df: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    *,
    salt_buckets: int | None = None,
    count_col: str | None = None,
) -> DataFrame:
    """Collapse a patch-event batch to ONE effective row per key:
    key cols, resolved payload values, `col_seqs` (per-column writer seq,
    NULL = this batch never wrote the column), row-level `seq` (max),
    `deleted` (op of the row-level argmax event == 'D'), and optionally a
    per-key input-event count (the adaptive-salting skew signal, same
    contract as lww_dedupe(count_col=)).

    Like lww_dedupe this is an aggregate argmax — per column,
    `max(struct(written_seq, value))` partial-aggregates map-side before
    the shuffle; struct comparison puts NULL first, so any writing event
    beats every non-writing one and ties are impossible (seq is unique
    per key by engine contract). With `salt_buckets`, the same two-phase
    shape as lww_dedupe: every per-column/row rule is an associative max,
    so phase1-within-salt-shards + phase2-across-shards is identical to
    the unsalted result."""
    def packed(c: str) -> Column:
        return F.max(
            F.struct(
                F.when(_writes(c), F.col("seq")).alias("s"),
                F.when(F.col("op") == "D", F.lit(None))
                .otherwise(F.col(c)).alias("v"),
            )
        )

    row_del = F.max_by(F.col("op") == F.lit("D"), F.col("seq"))
    extra = [F.count(F.lit(1)).alias(count_col)] if count_col else []

    if salt_buckets and salt_buckets > 1:
        salted = df.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("seq")), F.lit(salt_buckets))
        )
        p1 = salted.groupBy(*key_cols, "_salt").agg(
            *[packed(c).alias(f"_p_{c}") for c in payload_cols],
            F.max("seq").alias("_seq"),
            row_del.alias("_del"),
            *extra,
        )
        grouped = p1.groupBy(*key_cols).agg(
            *[F.max(f"_p_{c}").alias(f"_p_{c}") for c in payload_cols],
            F.max("_seq").alias("seq"),
            F.max_by(F.col("_del"), F.col("_seq")).alias("deleted"),
            *([F.sum(count_col).alias(count_col)] if count_col else []),
        )
    else:
        grouped = df.groupBy(*key_cols).agg(
            *[packed(c).alias(f"_p_{c}") for c in payload_cols],
            F.max("seq").alias("seq"),
            row_del.alias("deleted"),
            *extra,
        )
    return grouped.select(
        *key_cols,
        *[F.col(f"_p_{c}.v").alias(c) for c in payload_cols],
        F.map_from_arrays(
            F.array(*[F.lit(c) for c in payload_cols]),
            F.array(*[F.col(f"_p_{c}.s") for c in payload_cols]),
        ).alias("col_seqs"),
        F.col("seq"),
        F.col("deleted"),
        *([F.col(count_col)] if count_col else []),
    )


def column_lww_fold(
    df: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    *,
    src_col: str | None = None,
) -> DataFrame:
    """Read-time per-column LWW resolve over STORED rows of a column_lww
    table (the merge-on-read dirty-group path; compact() inherits it via
    snapshot). Input rows carry resolved values + `col_seqs` + row `seq` +
    `deleted` + `content_sha` — base rows and delta appends alike. Per
    key, each payload column takes the value of the row with the highest
    col_seqs[c] (NULL entries never win — that row never wrote c);
    presence is the max-seq row's `deleted`. `content_sha` rides the SAME
    struct as `content`, so the sha always belongs to the winning content
    row (correct even when a caller pruned the content column itself
    away). The algebra is identical to column_lww_dedupe — associative —
    so any split between in-batch resolve, delta granularity, and this
    read fold converges.

    `src_col` is the copy-on-write merge fold (operators/merge.py): an int
    column, 1 on stored rows and 0 on incoming batch rows, that ranks
    right after the writer seq in every argmax — an equal seq keeps the
    stored row, so a redelivered event changes nothing. The output then
    also carries `_applied` (the batch won the row or some column) and
    `_n` (batch rows in the group).

    One aggregate, map-side combining, one exchange on the key — the same
    shuffle shape as the row-level lww_dedupe read resolve: per-column
    semantics cost zero extra exchanges at read time too."""
    cols = [c for c in payload_cols if c in df.columns]
    rank = [F.col(src_col).alias("src")] if src_col else []

    def packed(c: str) -> Column:
        fields = [F.col("col_seqs").getItem(c).alias("s"), *rank, F.col(c).alias("v")]
        if c == "content" and "content_sha" in df.columns:
            fields.append(F.col("content_sha").alias("sha"))
        return F.max(F.struct(*fields)).alias(f"_p_{c}")

    aggs = [packed(c) for c in cols]
    # content pruned away but content_sha still needed (META always rides):
    # resolve the sha by content's writer seq alone
    sha_alone = "content" not in cols and "content_sha" in df.columns
    if sha_alone:
        aggs.append(
            F.max(
                F.struct(
                    F.col("col_seqs").getItem("content").alias("s"),
                    *rank,
                    F.col("content_sha").alias("sha"),
                )
            ).alias("_p_sha")
        )
    row_order = F.struct("seq", src_col) if src_col else F.col("seq")
    if src_col:
        aggs += [
            F.max_by(F.col(src_col), row_order).alias("_row_src"),
            F.sum(F.lit(1) - F.col(src_col)).alias("_n"),
        ]
    grouped = df.groupBy(*key_cols).agg(
        *aggs,
        F.max("seq").alias("seq"),
        F.max_by(F.col("deleted"), row_order).alias("deleted"),
    )
    sel = [
        *key_cols,
        *[F.col(f"_p_{c}.v").alias(c) for c in cols],
        F.map_from_arrays(
            F.array(*[F.lit(c) for c in cols]),
            F.array(*[F.col(f"_p_{c}.s") for c in cols]),
        ).alias("col_seqs"),
        F.col("seq"),
        F.col("deleted"),
    ]
    if "content" in cols and "content_sha" in df.columns:
        sel.append(F.col("_p_content.sha").alias("content_sha"))
    elif sha_alone:
        sel.append(F.col("_p_sha.sha").alias("content_sha"))
    if src_col:
        applied = F.col("_row_src") == 0
        for c in cols:
            applied = applied | (
                (F.col(f"_p_{c}.src") == 0) & F.col(f"_p_{c}.s").isNotNull()
            )
        sel += [applied.alias("_applied"), F.col("_n")]
    return grouped.select(*sel)


def mor_patch_row_shape(
    batch_cols: list[str], payload_cols: list[str], types: dict
) -> tuple[dict, Column, Column]:
    """Physical row shaping for a column_lww MERGE-ON-READ append:
    (per-column value exprs, col_seqs expr, deleted expr), handling both
    batch shapes — a column_lww_dedupe output (already resolved, carries
    col_seqs/deleted) and RAW events (dedupe_in_batch=False, the
    one-exchange-per-byte fast path: each event row becomes one delta row
    whose col_seqs marks exactly the columns IT wrote, the read fold does
    all resolution)."""
    deduped = "col_seqs" in batch_cols
    if deduped:
        vals = {
            c: (F.col(c) if c in batch_cols else F.lit(None).cast(types[c]))
            for c in payload_cols
        }
        return vals, F.col("col_seqs"), F.col("deleted")
    present = [c for c in payload_cols if c in batch_cols]
    vals = {
        c: (
            F.when(F.col("op") == "D", F.lit(None)).otherwise(F.col(c))
            if c in batch_cols
            else F.lit(None).cast(types[c])
        )
        for c in payload_cols
    }
    col_seqs = F.map_from_arrays(
        F.array(*[F.lit(c) for c in present]),
        F.array(*[F.when(_writes(c), F.col("seq")) for c in present]),
    )
    # no op_guard here: this path is only reached on a column_lww table,
    # where 'P' events are the point
    return vals, col_seqs, F.col("op") == F.lit("D")
