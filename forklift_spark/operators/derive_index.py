"""Record-level SECONDARY INDEX as derived state — point lookups by a
non-key expression over a 10^10-row table without scanning it.

`snapshot(col_eq=...)` (per-file blooms) and `snapshot(col_ranges=...)`
(per-file min/max) SKIP files probabilistically / by layout luck; both
still plan over every bucket's manifests and degrade to a full scan when
the layout doesn't cooperate. A record-level index answers "which rows
have commit = X" EXACTLY, from a table whose size is O(distinct terms +
rows), maintained incrementally at O(changed rows) per epoch — the Hudi
record-index / Iceberg-bloom gap in this engine until now.

Shape: the index is an ordinary lakette table keyed
`(term, *source_keys)` with NO payload columns — presence of the key IS
the posting. Because base files are key-sorted, every file's
(kmin, kmax) range on the FIRST key column (the term) is tight, so
`plan_files(key_range=(t, t))` file-prunes lookups; the source rows are
then fetched with hash-BUCKET pruning on the source table (the matched
source keys name their buckets exactly).

Why this is not `derive()`: the transform is key-CHANGING — an update
that moves a row's term must DELETE the old index entry `(old_term, k)`
and insert `(new_term, k)`, which a key-preserving mapping spec cannot
express (derive() refuses such specs loudly; VERDICT r4 #1 left the
key-changing case as an open rule). It is also not `derive_agg`: the
groups strategy would recompute affected term-groups from a full
snapshot join per epoch; the index's 1 row -> 1 posting shape is
self-maintainable from the span's old/new sides alone, with no snapshot
read at all in the steady state.

Maintenance per epoch (one changefeed span, `old_rows=True`):

    U (new_term, keys, seq)   for insert/update rows passing `predicate`
    D (old_term, keys, seq)   for update/delete rows that WERE live,
                              unless the new side re-asserts the exact
                              same (term, liveness) — emitting both would
                              race two ops on one index key at equal seq

Exactly-once, crash-resume, spec-drift guard, vacuumed-chain resync and
`force_resync` (REFRESH ... FULL semantics) are the feed protocol of
operators/feed.py (`_spec_guard` + epoch markers + `repair_epoch`).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lakette.table import LaketteTable
from .changes import snapshot_diff
from .feed import (
    _keep_expr,
    _spec_guard,
    _spec_qid,
    apply_epoch,
    chain_intact,
    last_replicated_version,
    open_or_create,
    repair_epoch,
)
from .merge import MergeStats


@dataclass
class IndexDeriveReport:
    src_version: int
    initial_sync: bool = False
    resync: bool = False
    applied_epochs: list[MergeStats] = field(default_factory=list)

    @property
    def applied_rows(self) -> int:
        return sum(s.applied_rows for s in self.applied_epochs)


def _term_field(
    spark: SparkSession, src: LaketteTable, term_expr: str, term_col: str
) -> T.StructField:
    empty = spark.createDataFrame([], src.user_schema())
    f = empty.select(F.expr(term_expr).alias(term_col)).schema.fields[0]
    if isinstance(f.dataType, (T.MapType, T.ArrayType, T.StructType)):
        raise ValueError(
            f"index term must be an atomic type (it becomes a key column "
            f"with file min/max stats); {term_expr!r} is {f.dataType.simpleString()}"
        )
    if isinstance(f.dataType, T.BooleanType):
        # Two reasons, both load-bearing: (1) a two-valued term cannot
        # select — every posting list is ~half the table; use a PARTIAL
        # index (predicate=) to scope rows instead. (2) soundness of the
        # SQL acceleration matcher: a boolean term's top-level operator
        # (OR/AND/NOT) binds LOOSER than '='/IN/BETWEEN, so a textual
        # whole-conjunct match like `a = 1 OR b` = 2 would mis-bracket
        # what SQL parses as `a = 1 OR (b = 2)`. Every non-boolean term's
        # top-level operator (arithmetic, ||, CASE..END) binds tighter,
        # which is what makes the matcher's bracketing exact.
        raise ValueError(
            f"index term must not be boolean ({term_expr!r}): a two-valued "
            "posting list cannot select; use a partial index "
            "(predicate=...) to scope rows instead"
        )
    return f


def derive_index(
    spark: SparkSession,
    src: LaketteTable,
    dst_root: str,
    term_expr: str,
    *,
    term_col: str = "term",
    predicate: Column | str | None = None,
    derive_id: str = "index",
    n_buckets: int | None = None,
    target_file_rows: int | None = None,
    allow_spec_change: bool = False,
    force_resync: bool = False,
) -> IndexDeriveReport:
    """Bring the secondary index at `dst_root` up to the source's current
    version. Creates the index on first call (keyed `(term_col,
    *src_keys)`, zero payload). Safe to call repeatedly / from
    `run_ingest(derived=[...])`; whole source versions land atomically,
    exactly-once under `derive_id`. `predicate` scopes which source rows
    are indexed (rows leaving it retract their posting). One term per
    row (the expression is scalar); multi-term text indexes are a
    different cost class and out of scope here."""
    src_meta = src._raw_current()
    target_v = int(src_meta["version"])
    key_cols = list(src_meta["key_cols"])
    if term_col in key_cols:
        raise ValueError(f"term_col {term_col!r} collides with a source key")
    src_fields = {f.name: f for f in src.user_schema().fields}
    payload_cols = [n for n in src_fields if n not in key_cols]
    tf = _term_field(spark, src, term_expr, term_col)
    index_keys = [term_col, *key_cols]
    keep = _keep_expr(predicate)

    dst = open_or_create(dst_root, lambda: LaketteTable.create(
        dst_root,
        T.StructType([tf, *[src_fields[k] for k in key_cols]]),
        index_keys,
        n_buckets=int(n_buckets or src_meta["n_buckets"]),
        # file size bounds how tight each file's term range is —
        # lookups open ~1 file per bucket, not the whole bucket
        target_file_rows=(
            target_file_rows
            if target_file_rows is not None
            else src_meta.get("target_file_rows")
        ),
    ))

    fp = {
        "kind": "derive_index",
        "term": term_expr,
        "term_col": term_col,
        "predicate": predicate if isinstance(predicate, (str, type(None))) else "<non-sql>",
    }
    qid, spec_changed, store_fp = _spec_guard(
        dst, derive_id, fp, allow_spec_change, force_resync=force_resync
    )
    report = IndexDeriveReport(src_version=target_v)

    def _expected(snap: DataFrame) -> DataFrame:
        """Index state of a source snapshot: one posting per live,
        predicate-passing row."""
        return (
            snap.filter(~F.col("deleted"))
            .filter(keep)
            .select(
                F.expr(term_expr).alias(term_col), *key_cols, F.col("seq"),
            )
        )

    def _resync() -> IndexDeriveReport:
        report.resync = True
        expected = (
            _expected(src.snapshot(spark, include_deleted=True, metadata=src_meta))
            .withColumn("deleted", F.lit(False))
            .withColumn("content_sha", F.lit(None).cast("string"))
        )
        report.applied_epochs.append(repair_epoch(
            spark, dst, expected, index_keys, [], qid, target_v
        ))
        store_fp()
        return report

    if spec_changed or force_resync:
        return _resync()

    last = last_replicated_version(dst, qid)
    if last is None:
        report.initial_sync = True
        snap = src.snapshot(spark, include_deleted=True, metadata=src_meta)
        batch = _expected(snap).select(
            F.lit("U").alias("op"), *index_keys, F.col("seq")
        )
        report.applied_epochs.append(
            apply_epoch(spark, dst, batch, qid, target_v, mode="cow")
        )
        store_fp()
        return report
    if last >= target_v:
        report.src_version = last
        return report  # already current

    if not chain_intact(src, last):
        return _resync()  # vacuumed past the index's offset — repair

    if dst.epoch_committed(qid, target_v):
        return report  # a crashed previous run already landed this span

    span = snapshot_diff(
        spark, src, last, target_v, full_rows=True, old_rows=True
    )
    is_del = F.col("change") == "delete"
    # new-side term/liveness must be materialized BEFORE the old payload
    # is re-aliased over the plain column names (one span pass, two sides)
    base = span.withColumns({
        "_new_term": F.expr(term_expr),
        "_new_live": F.coalesce(~is_del & keep, F.lit(False)),
    })
    ups = base.filter(F.col("_new_live")).select(
        F.lit("U").alias("op"),
        F.col("_new_term").alias(term_col), *key_cols, F.col("seq"),
    )
    old = (
        base.filter(F.col("change").isin("update", "delete"))
        .select(
            *key_cols, "seq", "_new_term", "_new_live",
            *[F.col(f"_old_{c}").alias(c) for c in payload_cols],
        )
        .withColumns({"_old_term": F.expr(term_expr), "_old_live": keep})
    )
    dels = old.filter(
        F.col("_old_live")
        & (
            ~F.col("_new_live")
            | ~F.col("_new_term").eqNullSafe(F.col("_old_term"))
        )
    ).select(
        F.lit("D").alias("op"),
        F.col("_old_term").alias(term_col), *key_cols, F.col("seq"),
    )
    report.applied_epochs.append(apply_epoch(
        spark, dst, ups.unionByName(dels), qid, target_v,
        mode="cow", overwrite=True,
    ))
    return report


def index_version(dst: LaketteTable, derive_id: str = "index") -> int | None:
    """The SOURCE version this index currently reflects, or None if it
    was never synced. Read-only: recomputes the spec-scoped epoch-marker
    namespace from the persisted fingerprint (`_derive/<id>.json`,
    including the repair generation) and reads the derive offsets — no
    Spark session, no snapshot. The freshness gate for transparent SQL
    index acceleration: a lookup may only be served from an index whose
    `index_version` >= the source's current version."""
    fp_path = os.path.join(dst.root, "_derive", f"{derive_id}.json")
    if not dst.fs.exists(fp_path):
        return None
    stored = dst.fs.read_json(fp_path)
    gen = int(stored.pop("_repair_gen", 0))
    return last_replicated_version(dst, _spec_qid(derive_id, stored, gen))


def index_lookup(
    spark: SparkSession, index: LaketteTable, term, *, hi=None
) -> DataFrame:
    """Posting list for one term (or the [term, hi] range): the source
    keys whose indexed expression currently evaluates inside the range.
    File-pruned by the index's (kmin, kmax) stats on the term key — the
    scan opens only index files whose sorted term range intersects.

    The (kmin, kmax) prune is LEXICOGRAPHIC, so it applies only when the
    comparison itself is string-vs-string: a non-string term argument
    against a string term column compares NUMERICALLY in Spark
    ('0107' = 107 is true), and a str(term) range could prune the very
    file holding a match (same gate as sqlindex.accelerate). Numeric
    term columns carry no kmin/kmax stats at all, so nothing is lost."""
    lo, hi_v = term, term if hi is None else hi
    all_str = isinstance(lo, str) and isinstance(hi_v, str)
    term_col = index.key_cols()[0]
    snap = index.snapshot(
        spark, key_range=(lo, hi_v) if all_str else None
    )
    cond = (
        (F.col(term_col) == F.lit(term))
        if hi is None
        else F.col(term_col).between(F.lit(term), F.lit(hi))
    )
    return snap.filter(cond).select(*index.key_cols())


def index_point_read(
    spark: SparkSession,
    index: LaketteTable,
    src: LaketteTable,
    term,
    *,
    max_keys: int = 1024,
) -> DataFrame:
    """Full source rows for one term: look the term up in the index,
    collect the (small) matched key set, and read ONLY those keys'
    hash buckets from the source — two pruned point reads instead of a
    table scan. Refuses terms whose posting list exceeds `max_keys`
    (driver-side key collection is the point-lookup fast path, not a
    bulk join — use index_lookup + a distributed semi join for those)."""
    src_keys = src.key_cols()
    matches = index_lookup(spark, index, term).select(*src_keys).collect()
    if len(matches) > max_keys:
        raise ValueError(
            f"term {term!r} matches {len(matches)} rows (> max_keys="
            f"{max_keys}) — use index_lookup() and join distributed"
        )
    if not matches:
        return spark.createDataFrame([], src.snapshot(spark).schema)
    keys_df = spark.createDataFrame(matches)
    buckets = sorted({
        r[0]
        for r in keys_df.select(src.bucket_expr().alias("b")).distinct().collect()
    })
    snap = src.snapshot(spark, buckets=buckets)
    return snap.join(F.broadcast(keys_df), on=src_keys, how="left_semi")
