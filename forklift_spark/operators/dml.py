"""Predicate DML over lakette tables — DELETE WHERE and UPDATE SET WHERE
(SURVEY.md §2.10 lakehouse parity: the out-of-band correction surface
every Delta/Iceberg user has; the event path stays the primary write API).

Execution shape, built for 100 TB:

  1. DISCOVERY — one pruned snapshot scan (column-pruned to the predicate's
     referenced columns + keys, filter pushed to parquet) finds the DISTINCT
     hash buckets holding matching live rows. Cost: one narrow scan; result
     is bounded by n_buckets.
  2. REWRITE — the touched buckets' key groups go through the engine's one
     group rewrite (merge._rewrite_groups), the same one compact runs, with
     the transform as its shaping step: read back through the ordinary
     merge-on-read snapshot (pending deltas fold in), tagged, transformed,
     written as base files in the table's layout. Mid-rescale the groups'
     old-spec files are replaced too. Cost: O(touched buckets), never
     O(table).
  3. COMMIT — the standard CAS commit with base-snapshot validation: a
     concurrent writer that touched an overlapping bucket surfaces as
     CommitConflictError (re-run the DML), never a lost update. The writer
     stamp carries a per-invocation nonce (same reasoning as compact,
     ADVICE r4 #1: two DMLs from one base commit different content).

LWW interplay (documented contract, asserted in tests): DML edits do NOT
advance row seqs — a late/replayed change event with seq >= the stored
row's still wins over the DML edit, because seq-ordered last-writer-wins
remains the table's single arbitration rule. `delete_where` therefore
writes TOMBSTONES (deleted=true, payload nulled, seq preserved) rather
than physically dropping rows: a duplicate delivery of the deleted row's
original event (same seq) must NOT resurrect it, which only a tombstone
guarantees — identical to how event deletes and compact treat confluence.

Column-LWW (patch) tables are rejected loudly: a per-column-seq table
arbitrates each column independently, and an out-of-band edit that
preserves col_seqs would be silently indistinguishable from the writer it
overwrote. Send patch/delete EVENTS to those tables instead.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lakette.table import LaketteTable
from .merge import _enforce_constraints, _obs_count, _rewrite_groups

#: engine-maintained physical columns a SET clause may never assign
_ENGINE_COLS = {"seq", "content_sha", "deleted", "col_seqs"}


def _referenced_columns(expr_sql: str, schema: T.StructType) -> list[str]:
    """Schema columns the SQL expression might reference — the identifier
    tokens of the expression intersected with the schema's field names.
    Over-approximation is harmless (a function name colliding with a column
    name just widens the discovery scan); under-approximation is impossible
    for a real column reference, which must appear as an identifier."""
    idents = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", expr_sql))
    return [f.name for f in schema.fields if f.name in idents]


def _discover_touched(
    spark: SparkSession,
    table: LaketteTable,
    meta: dict,
    predicate: str,
) -> list[int]:
    """Step 1: distinct current-spec buckets holding LIVE rows matching the
    predicate — a column-pruned, filter-pushed scan whose result set is
    bounded by n_buckets."""
    schema = T.StructType.fromJson(meta["schema"])
    payload_needed = [
        c for c in _referenced_columns(predicate, schema)
        if c not in meta["key_cols"]
    ]
    snap = table.snapshot(spark, metadata=meta, columns=payload_needed)
    rows = (
        snap.filter(F.expr(predicate))
        .select(table.bucket_expr(metadata=meta).alias("b"))
        .distinct()
        .collect()
    )
    return sorted(int(r.b) for r in rows)


def _rewrite_buckets(
    spark: SparkSession,
    table: LaketteTable,
    meta: dict,
    predicate: str,
    transform,
    op_name: str,
) -> dict:
    """Steps 1-3: discovery, then the group rewrite (merge._rewrite_groups)
    of the touched buckets with `transform(df, match_col)` as its shaping
    step, then the commit with base validation; a no-match predicate
    commits nothing. Pending MOR deltas of the touched buckets fold into
    clean base files as a side effect."""
    touched = _discover_touched(spark, table, meta, predicate)
    if not touched:
        return {
            "version": meta["version"], "touched_buckets": 0,
            "rows_scanned": 0, "rows_matched": 0,
        }
    obs = Observation(f"dml-{op_name}")

    def shape(snap: DataFrame) -> DataFrame:
        live = ~F.coalesce(F.col("deleted"), F.lit(False))
        # NULL predicate result = no match (SQL WHERE semantics), and
        # tombstones are never matched — their NULL payloads must stay
        # tombstones
        match = live & F.coalesce(F.expr(predicate), F.lit(False))
        tagged = snap.withColumn("_match", match).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("_match").cast("long")).alias("matched"),
        )
        out = transform(tagged, F.col("_match")).drop("_match")
        out = out.withColumn("_bucket", table.bucket_expr(metadata=meta))
        if op_name == "update":
            # CHECK constraints bind every writer: the UPDATE's post-image
            # rows must satisfy them before any file is written
            _enforce_constraints(meta, out, live)
        return out

    new_files, replaced = _rewrite_groups(
        spark, table, meta, touched, shape, n_partitions=len(touched)
    )
    commit = table.commit_version(
        new_files=new_files,
        replaced_buckets=replaced,
        writer={
            "query_id": f"__dml_{op_name}__",
            "epoch": meta["version"],
            "nonce": uuid.uuid4().hex,
        },
        base_version=meta["version"],
    )
    return {
        "version": commit.version,
        "touched_buckets": len(touched),
        "rows_scanned": _obs_count(obs, "rows"),
        "rows_matched": _obs_count(obs, "matched"),
    }


def _check_table(table: LaketteTable, meta: dict) -> None:
    if meta.get("column_lww"):
        raise ValueError(
            "predicate DML is not supported on column_lww (patch) tables: "
            "per-column writer seqs arbitrate each column independently and "
            "an out-of-band edit cannot be attributed — send patch/delete "
            "events instead (operators/patch.py)"
        )


def delete_where(
    spark: SparkSession, table: LaketteTable, predicate: str
) -> dict:
    """DELETE FROM table WHERE predicate. Matching live rows become
    tombstones (module docstring: physical removal would let a duplicate
    delivery resurrect the row); their payloads are nulled like event
    tombstones. Returns {version, touched_buckets, rows_scanned,
    rows_matched}; a no-match predicate commits nothing."""
    meta = table._raw_current()
    _check_table(table, meta)
    schema = T.StructType.fromJson(meta["schema"])
    types = {f.name: f.dataType for f in schema.fields}
    from ..lakette.table import META_COL_NAMES

    payload = [
        f.name for f in schema.fields
        if f.name not in meta["key_cols"] and f.name not in META_COL_NAMES
    ]

    def _to_tombstone(df: DataFrame, m) -> DataFrame:
        for c in payload:
            df = df.withColumn(
                c, F.when(m, F.lit(None).cast(types[c])).otherwise(F.col(c))
            )
        if "content_sha" in df.columns:
            df = df.withColumn(
                "content_sha",
                F.when(m, F.lit(None).cast("string")).otherwise(F.col("content_sha")),
            )
        return df.withColumn(
            "deleted", F.coalesce(F.col("deleted"), F.lit(False)) | m
        )

    return _rewrite_buckets(spark, table, meta, predicate, _to_tombstone, "delete")


def update_where(
    spark: SparkSession,
    table: LaketteTable,
    set_exprs: dict[str, str],
    predicate: str,
) -> dict:
    """UPDATE table SET col = sql_expr, ... WHERE predicate. Expressions
    may reference the row's own columns (pre-update values, standard SQL
    UPDATE semantics — all assignments read the OLD row). Key columns and
    engine columns are not assignable (a key-changing update is a
    delete+insert: send events). `content_sha` is recomputed when the SET
    touches `content`, preserving the sha2 invariant the replay benches
    verify. Row seqs are preserved — see the module docstring for the LWW
    interplay contract."""
    meta = table._raw_current()
    _check_table(table, meta)
    schema = T.StructType.fromJson(meta["schema"])
    types = {f.name: f.dataType for f in schema.fields}
    bad = set(set_exprs) & (set(meta["key_cols"]) | _ENGINE_COLS)
    if bad:
        raise ValueError(
            f"update_where cannot assign key/engine columns: {sorted(bad)}"
        )
    unknown = set(set_exprs) - {f.name for f in schema.fields}
    if unknown:
        raise ValueError(f"update_where: unknown columns {sorted(unknown)}")

    def _apply_set(df: DataFrame, m) -> DataFrame:
        # all assignments evaluate against the OLD row: compute the new
        # values in ONE select so no assignment sees another's output
        sel = []
        for c in df.columns:
            if c in set_exprs:
                sel.append(
                    F.when(m, F.expr(set_exprs[c]).cast(types[c]))
                    .otherwise(F.col(c)).alias(c)
                )
            elif c == "content_sha" and "content" in set_exprs:
                sel.append(
                    F.when(
                        m,
                        F.sha2(F.expr(set_exprs["content"]).cast("string"), 256),
                    ).otherwise(F.col(c)).alias(c)
                )
            else:
                sel.append(F.col(c))
        return df.select(*sel)

    return _rewrite_buckets(spark, table, meta, predicate, _apply_set, "update")
