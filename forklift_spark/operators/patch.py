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
that carry their own col_seqs (`mor_patch_row_shape`), and every LWW
step runs the engine's one resolver (merge.resolve), which takes
`column_lww_fold` on these tables: the merge-on-read in-batch dedupe
over the shaped events, the snapshot read of dirty groups (compact()
inherits it through snapshot), and the copy-on-write fold of the shaped
events with the touched buckets' stored rows (`src_col=` makes equal
writer seqs keep the stored row). The write / commit / marker machinery
is untouched. Associativity makes any split between in-batch resolve,
delta granularity, and read fold converge, so cow, mor and auto epochs
mix freely — same as the row-level engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: ops that write every payload column (a delete writes NULLs)
_FULL_WRITERS = ("I", "U", "D")


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


def column_lww_fold(
    df: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    *,
    src_col: str | None = None,
) -> DataFrame:
    """Per-column LWW resolve over physical rows of a column_lww table —
    the column_lww half of merge.resolve, which every fold calls. Input
    rows carry values + `col_seqs` + row `seq` + `deleted` +
    `content_sha`: shaped batch events, base rows and delta appends
    alike. Per key, each payload column takes the value of the row with
    the highest col_seqs[c] (NULL entries never win — that row never
    wrote c); presence is the max-seq row's `deleted`. `content_sha`
    rides the SAME struct as `content`, so the sha always belongs to the
    winning content row (correct even when a caller pruned the content
    column itself away). Every rule is an associative max and the output
    has the input's shape, so any split between in-batch resolve, delta
    granularity, and the read fold converges.

    `src_col` is the copy-on-write merge fold (operators/merge.py): an int
    column, 1 on stored rows and 0 on incoming batch rows, that ranks
    right after the writer seq in every argmax — an equal seq keeps the
    stored row, so a redelivered event changes nothing. The output's
    `src_col` is 0 where the batch won the row or some column. A per-row
    event count `_n`, when present, is summed per key.

    One aggregate, map-side combining, one exchange on the key — the same
    shuffle shape as the row-level resolve: per-column semantics cost
    zero extra exchanges."""
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
        aggs.append(F.max_by(F.col(src_col), row_order).alias("_row_src"))
    count = ["_n"] if "_n" in df.columns else []
    aggs += [F.sum(c).alias(c) for c in count]
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
        sel.append(F.when(applied, 0).otherwise(1).alias(src_col))
    return grouped.select(*sel, *count)


def mor_patch_row_shape(
    batch_cols: list[str], payload_cols: list[str], types: dict
) -> tuple[dict, Column, Column]:
    """Physical row shaping of RAW column_lww events: (per-column value
    exprs, col_seqs expr, deleted expr). Each event becomes one row whose
    col_seqs marks exactly the columns IT wrote; the resolver does all
    resolution (in-batch, in the copy-on-write fold, or at read time)."""
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
