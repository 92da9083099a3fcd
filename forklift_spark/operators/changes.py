"""CDC-out: row-level changes between two committed table versions
(Iceberg changelog-scan parity, built on lakette time travel).

One full-outer join of the two snapshots — O(|old| + |new|), bucket-pruned
reads on both sides. Change taxonomy per logical key:

  old absent/tombstoned, new live            -> insert
  old live, new tombstoned                   -> delete
  old live, new live, physical state differs
  on ANY scanned column (seq, content_sha,
  and payload when full_rows)                -> update
  anything else (identical rows, both
  tombstoned, tombstone for a never-visible
  key)                                       -> not emitted

Emitted columns: change, key cols, seq (new side), content_sha (new side;
NULL for deletes) — plus, with `full_rows=True`, every user payload column
from the new side, which makes the change set directly APPLYABLE as a merge
batch downstream (operators/replicate.py, operators/feed.py). At 100 TB the join reads only
the two metadata file lists — no log replay — and prunes to buckets whose
file sets differ between the versions (changed_buckets_only=True, the
default)."""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lakette.table import META_COL_NAMES, LaketteTable


def diff_frames(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    payload_cols: list[str] | None = None,
    *,
    full_rows: bool = False,
    old_rows: bool = False,
    repair: bool = False,
    old_seq: bool = False,
) -> DataFrame:
    """Row-level change set turning `old` into `new` — the join core shared
    by snapshot_diff (two versions of one table) and the feed repair epoch
    (operators/feed.py `repair_epoch`: two DIFFERENT tables whose histories
    diverged past vacuum, or a destination against its expected state).

    Both frames carry key cols + payload cols + seq + deleted (snapshot
    include_deleted=True shape).

    `repair=True` is the resync shape (old = the diverged replica, new =
    the source of truth): an update is emitted whenever the seq OR the
    content_sha differs (a diverged replica can disagree at the SAME seq,
    which the version-diff classifier would miss), keys live in `old` but
    entirely absent from `new` come out as deletes with seq 0 (a tombstone
    floor any future source event outranks), and emitted seqs are the
    SOURCE's — the caller applies the result with merge_into(
    overwrite=True), which forces the replica to the source's exact rows
    and seqs regardless of how high the rogue writes' seqs were."""
    o = old.alias("o")
    n = new.alias("n")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in key_cols]
    j = o.join(n, cond, "full_outer")

    o_live = F.col("o.seq").isNotNull() & ~F.coalesce(F.col("o.deleted"), F.lit(False))
    n_live = F.col("n.seq").isNotNull() & ~F.coalesce(F.col("n.deleted"), F.lit(False))
    n_tomb = F.col("n.seq").isNotNull() & F.coalesce(F.col("n.deleted"), F.lit(False))
    if repair:
        # state-based: emit whenever the replica's physical key state
        # (seq, tombstone flag, content) differs from the source's in ANY
        # way — including same-seq payload divergence and tombstone-seq
        # drift, which a version-diff classifier has no reason to handle
        o_exists = F.col("o.seq").isNotNull()
        n_exists = F.col("n.seq").isNotNull()
        same = (
            F.col("o.seq").eqNullSafe(F.col("n.seq"))
            & F.coalesce(F.col("o.deleted"), F.lit(False)).eqNullSafe(
                F.coalesce(F.col("n.deleted"), F.lit(False))
            )
            & F.col("o.content_sha").eqNullSafe(F.col("n.content_sha"))
        )
        # content_sha only witnesses the CONTENT column; a table whose
        # payload has no content (or diverged in a non-content column at
        # the same seq — a spec-change resync does exactly this) needs the
        # payload itself compared. Columns the caller's scans carry both
        # sides join the comparison; a narrow keys-only scan keeps the
        # historical (seq, deleted, sha) basis unchanged.
        new_cols = set(new.columns)
        for f in old.schema.fields:
            if (
                f.name in new_cols and f.name not in key_cols
                and f.name not in ("seq", "deleted", "content_sha")
                and not isinstance(f.dataType, T.MapType)
            ):
                same = same & F.col(f"o.{f.name}").eqNullSafe(
                    F.col(f"n.{f.name}")
                )
        change = F.when(
            n_exists & (~o_exists | ~same),
            F.when(n_tomb, F.lit("delete"))
            .when(o_live, F.lit("update"))
            .otherwise(F.lit("insert")),
        ).when(o_exists & ~n_exists, F.lit("delete"))
        seq = F.coalesce(F.col("n.seq"), F.lit(0).cast("long"))
    else:
        # update = the row's PHYSICAL state differs across every column the
        # scan carries — not merely seq. Event-driven merges always advance
        # seq, but predicate DML (operators/dml.py) edits rows IN PLACE with
        # seq preserved (the LWW contract), so a seq-only classifier would
        # silently hide DML updates from every downstream consumer. The
        # caller (snapshot_diff) therefore scans the full comparison basis
        # on BOTH sides: seq, deleted, content_sha (the witness for the
        # `content` column — content bodies never move for classification)
        # plus every other comparable payload column, so EVERY DML edit is
        # classified, content or not, on tables with or without a content
        # column.
        new_cols = set(new.columns)
        shared = [
            f.name for f in old.schema.fields
            if f.name in new_cols and f.name not in key_cols
            and f.name != "deleted"
            # map columns (patch tables' col_seqs) are not comparable in
            # Catalyst; their row-level seq/sha still drive classification
            and not isinstance(f.dataType, T.MapType)
        ]
        phys_same = F.lit(True)
        for c in shared:
            phys_same = phys_same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        change = (
            F.when(~o_live & n_live, F.lit("insert"))
            .when(o_live & n_tomb, F.lit("delete"))
            .when(o_live & n_live & ~phys_same, F.lit("update"))
        )
        seq = F.col("n.seq")

    cols = [
        change.alias("change"),
        *[F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in key_cols],
    ]
    if full_rows:
        # payload from the new side: live rows carry their values, deletes
        # carry the tombstone's payload (NULL in a standard changelog) —
        # exactly the envelope merge_into applies
        cols += [
            F.when(F.col("n.seq").isNotNull(), F.col(f"n.{c}")).alias(c)
            for c in (payload_cols or [])
        ]
    if old_rows:
        # RETRACTION view (derive_agg's delta strategy): the PRE-span
        # payload as `_old_<c>`, populated only where the old side was a
        # LIVE row (updates and deletes — the rows whose prior
        # contribution an incremental aggregate must subtract). Inserts
        # and old-side tombstones carry NULL _old_ payload: they
        # contributed nothing before the span.
        cols += [
            F.when(o_live, F.col(f"o.{c}")).alias(f"_old_{c}")
            for c in (payload_cols or [])
        ]
    cols.append(seq.alias("seq"))
    if old_seq:
        # the PRE-span seq (NULL where the key was absent) — free (seq is
        # always scanned) and what lets MOR-destination span consumers
        # detect non-seq-advancing changes they cannot express (derive/
        # replicate raise loudly instead of letting the LWW read resolve
        # an arbitrary same-seq tie)
        cols.append(F.col("o.seq").alias("_old_seq"))
    cols.append(F.when(n_live, F.col("n.content_sha")).alias("content_sha"))
    return j.select(*cols).filter(F.col("change").isNotNull())


def changes_since(
    spark: SparkSession,
    table: LaketteTable,
    version: int,
    *,
    full_rows: bool = False,
) -> tuple[int, DataFrame]:
    """One-shot CDC-out: (current_version, changes turning snapshot@version
    into the current snapshot). The caller persists current_version as its
    offset and passes it back next time — the same resumable-offset shape
    replicate() uses internally."""
    cur = int(table._raw_current()["version"])
    return cur, snapshot_diff(spark, table, version, cur, full_rows=full_rows)


def follow_changes(
    spark: SparkSession,
    table: LaketteTable,
    *,
    from_version: int | None = None,
    poll_interval: float = 1.0,
    timeout: float | None = None,
    full_rows: bool = False,
):
    """Follow the table's committed-version chain as a LIVE change feed:
    a generator yielding (from_version, to_version, changes DataFrame) for
    each new committed span, polling CURRENT between yields. The driver
    only sequences versions (two metadata reads per poll — O(1) driver
    work at any table size); every row moves through JVM DataFrame jobs,
    which is why this is a driver loop and not a Python DataSource (a
    custom streaming source would drag replicated bytes through Python
    workers — see operators/replicate.py design note).

    `from_version=None` starts at the CURRENT version (new changes only).
    Ends when `timeout` seconds pass with no new commit (None = forever).
    Exactly-once consumption is the caller's job: persist to_version
    durably only after applying the span (or feed spans into merge_into
    with epoch=to_version, which is what replicate() does)."""
    import time as _time

    last = int(table._raw_current()["version"]) if from_version is None else int(from_version)
    deadline = None if timeout is None else _time.monotonic() + timeout
    while True:
        cur = int(table._raw_current()["version"])
        if cur > last:
            yield last, cur, snapshot_diff(
                spark, table, last, cur, full_rows=full_rows
            )
            last = cur
            deadline = None if timeout is None else _time.monotonic() + timeout
            continue
        if deadline is not None and _time.monotonic() >= deadline:
            return
        _time.sleep(poll_interval)


def export_changes(
    spark: SparkSession,
    table: LaketteTable,
    out_root: str,
    *,
    export_id: str = "export",
    from_version: int | None = None,
    every_version: bool = False,
    full_rows: bool = False,
    storage=None,
) -> dict:
    """CDC-out SINK: materialize committed change spans as parquet
    directories an EXTERNAL consumer (another warehouse, a search indexer,
    a downstream team without this engine) can tail — the file-drop
    counterpart of follow_changes' in-process generator.

    Layout under `out_root`:
      spans/v{lo:09d}-v{hi:09d}/*.parquet   the span's change set
      _spans/{export_id}-v{lo:09d}-v{hi:09d}.json   commit marker

    Exactly-once for consumers BY CONTRACT: a span directory is valid iff
    its marker exists — data is written first (mode="overwrite", so a
    crashed attempt's partial files are replaced wholesale on retry), the
    marker last, and a marker'd span is never rewritten (re-runs skip it).
    Markers double as resumable offsets (resume = max committed hi) and
    carry lineage: version range, rows exported (one Observation on the
    write — zero extra jobs), wall-clock stamp.

    First call needs `from_version` (exporting "since the beginning" is
    not generally possible — vacuum may have dropped old versions); later
    calls resume from the markers and ignore it. Driver work is O(spans)
    marker I/O; every row moves through one JVM write job per span."""
    import json as _json
    import time as _time

    from pyspark.sql import Observation

    from ..lakette.storage import PosixStorage

    fs = storage or PosixStorage()
    marker_dir = os.path.join(out_root, "_spans")
    fs.makedirs(marker_dir)
    pat = re.compile(rf"^{re.escape(export_id)}-v(\d+)-v(\d+)\.json$")
    committed = [
        (int(m.group(1)), int(m.group(2)))
        for fn in sorted(fs.listdir(marker_dir))
        if (m := pat.match(fn))
    ]
    last = max((hi for _, hi in committed), default=None)
    if last is None:
        if from_version is None:
            raise ValueError(
                "first export needs from_version= (no committed spans under "
                f"{marker_dir!r}; 'since the beginning' may be vacuumed away)"
            )
        last = int(from_version)
    target = int(table._raw_current()["version"])
    report = {"src_version": target, "exported": [], "skipped": [], "rows": 0}
    if last >= target:
        return report
    spans = (
        [(v - 1, v) for v in range(last + 1, target + 1)]
        if every_version
        else [(last, target)]
    )
    done = set(committed)
    for lo, hi in spans:
        if (lo, hi) in done:
            report["skipped"].append((lo, hi))
            continue
        span_rel = f"spans/v{lo:09d}-v{hi:09d}"
        obs = Observation(f"export-{lo}-{hi}")
        df = snapshot_diff(spark, table, lo, hi, full_rows=full_rows).observe(
            obs, F.count(F.lit(1)).alias("rows")
        )
        df.write.mode("overwrite").parquet(os.path.join(out_root, span_rel))
        rows = int(obs.get["rows"])
        fs.put_json(
            os.path.join(marker_dir, f"{export_id}-v{lo:09d}-v{hi:09d}.json"),
            {
                "export_id": export_id,
                "from_version": lo,
                "to_version": hi,
                "path": span_rel,
                "rows": rows,
                "full_rows": bool(full_rows),
                "committed_at": _time.time(),
            },
        )
        report["exported"].append((lo, hi))
        report["rows"] += rows
    return report


def read_exported_changes(
    spark: SparkSession,
    out_root: str,
    *,
    export_id: str = "export",
    storage=None,
) -> DataFrame:
    """Consumer side of export_changes: the union of all COMMITTED span
    directories (marker'd only — partial/crashed attempts are invisible by
    contract), in one spark.read over their paths."""
    from ..lakette.storage import PosixStorage

    fs = storage or PosixStorage()
    marker_dir = os.path.join(out_root, "_spans")
    pat = re.compile(rf"^{re.escape(export_id)}-v(\d+)-v(\d+)\.json$")
    import json as _json

    paths = [
        os.path.join(out_root, _json.loads(
            fs.read_text(os.path.join(marker_dir, fn)))["path"])
        for fn in sorted(fs.listdir(marker_dir))
        if pat.match(fn)
    ]
    if not paths:
        raise ValueError(f"no committed spans under {marker_dir!r}")
    # mergeSchema: spans written before a source schema evolution lack the
    # evolved columns — the union carries them as typed NULLs (additive
    # evolution only, same rule the engine enforces on merge)
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def expire_exported_spans(
    out_root: str,
    *,
    export_id: str = "export",
    keep_last: int = 10,
    storage=None,
) -> dict:
    """Retention for an export drop: delete all but the newest `keep_last`
    committed spans — marker FIRST, span dir after (the export write
    discipline inverted: a crash between the two leaves an invisible
    orphan dir the next expire run can't even see but any cleanup can
    delete freely — NEVER a live marker pointing at deleted data, which
    would break every consumer until someone noticed). Consumers past the
    cut are unaffected; a NEW consumer can no longer bootstrap from the
    expired history — the same time-travel-vs-retention trade vacuum()
    makes, so run it on the same cadence contract (only expire spans
    every live consumer has passed)."""
    import json as _json
    import shutil as _shutil

    from ..lakette.storage import PosixStorage

    fs = storage or PosixStorage()
    marker_dir = os.path.join(out_root, "_spans")
    pat = re.compile(rf"^{re.escape(export_id)}-v(\d+)-v(\d+)\.json$")
    marked = sorted(
        (int(m.group(2)), fn)
        for fn in fs.listdir(marker_dir)
        if (m := pat.match(fn))
    )
    expired = marked[: max(0, len(marked) - max(1, int(keep_last)))]
    report = {"expired": len(expired), "kept": len(marked) - len(expired)}
    for _, fn in expired:
        rec = _json.loads(fs.read_text(os.path.join(marker_dir, fn)))
        fs.remove(os.path.join(marker_dir, fn))  # invisible from here on
        _shutil.rmtree(os.path.join(out_root, rec["path"]), ignore_errors=True)
    return report


def snapshot_diff(
    spark: SparkSession,
    table: LaketteTable,
    from_version: int,
    to_version: int,
    *,
    changed_buckets_only: bool = True,
    full_rows: bool = False,
    old_rows: bool = False,
    old_seq: bool = False,
) -> DataFrame:
    """Changes that turn snapshot@from_version into snapshot@to_version.
    `full_rows=True` adds every user payload column (new side), making the
    result a merge-applyable change feed (lake-to-lake replication).
    `old_rows=True` additionally emits the pre-span payload as
    `_old_<col>` on update/delete rows (NULL elsewhere) — the retraction
    feed incremental aggregation (operators/derive_agg.py) subtracts; it
    widens the OLD side's scan from keys-only to full payload, so pay for
    it only when retractions are consumed."""
    from ..lakette.table import _colmap, _file_nb, _specs

    meta_old = table._raw_metadata_at(from_version)
    meta_new = table._raw_metadata_at(to_version)
    # column-mapping guard: a RENAME inside the span moves a physical
    # column's logical name, and a diff cannot align payload columns whose
    # names changed mid-span — misaligning them would emit phantom updates
    # (or silently compare nothing). Loud; consumers resync (derive/
    # replicate handle vacuumed/unbridgeable spans the same way). Adds and
    # drops stay fine: the diff compares the columns both sides carry.
    inv_old = {p: l for l, p in _colmap(meta_old).items()}
    inv_new = {p: l for l, p in _colmap(meta_new).items()}
    moved = {
        p: (inv_old[p], inv_new[p])
        for p in inv_old.keys() & inv_new.keys()
        if inv_old[p] != inv_new[p]
    }
    buckets = None
    no_data_change = False
    if changed_buckets_only and _specs(meta_old) == _specs(meta_new):
        # a bucket can only differ if its file set changed (files are
        # immutable) — and since manifest SHARDS are immutable too, a
        # bucket's file set changed iff its manifest ref changed, so the
        # changed set comes straight from the two version files' ref maps:
        # zero manifest shard loads to plan the diff (VERDICT r3 #1).
        # Keyed per (spec, bucket) so ids never collide mid-rescale;
        # changed pairs expand to current-spec ids for the pruned reads.
        n = int(meta_new["n_buckets"])
        n0 = _specs(meta_new)[0]

        def by_pair(meta):
            if "files" in meta:  # legacy lakette/1 inline file list
                d: dict[tuple[int, int], object] = {}
                for f in meta["files"]:
                    d.setdefault((_file_nb(f, n0), f["bucket"]), set()).add(f["path"])  # type: ignore[union-attr]
                return d
            return {
                table._ref_pair(k, n0): ref
                for k, ref in (meta.get("manifests") or {}).items()
            }

        old_b, new_b = by_pair(meta_old), by_pair(meta_new)
        changed = [
            p for p in set(old_b) | set(new_b) if old_b.get(p) != new_b.get(p)
        ]
        buckets = sorted({b for nb, bk in changed for b in range(bk, n, nb)})
        # identical ref maps = the span changed METADATA only (rename,
        # layout/ref bookkeeping): zero row changes by construction — the
        # diff below runs on limit(0) frames instead of self-comparing the
        # whole table (a pure-rename span is thus consumable AND free)
        no_data_change = not changed

    if moved and not no_data_change:
        raise ValueError(
            f"snapshot_diff v{from_version}->v{to_version}: column(s) were "
            f"RENAMED inside the span ({moved}); a change feed cannot "
            "align payload columns across a rename mixed with data changes "
            "— consume up to the rename's version first, then resume past "
            "it (the rename commit itself diffs as an empty span)"
        )
    key_cols = meta_new["key_cols"]
    payload_cols = [
        f["name"]
        for f in meta_new["schema"]["fields"]
        if f["name"] not in key_cols and f["name"] not in META_COL_NAMES
    ]
    # Comparison basis for the update classifier (diff_frames compares the
    # columns BOTH scans carry): `content` is witnessed by the engine's
    # content_sha, so content bodies never need to move for classification
    # — but every OTHER payload column must be scanned on BOTH sides.
    # Predicate DML (operators/dml.py) edits rows in place with seq
    # PRESERVED; a basis of only (seq, deleted, content_sha) makes a
    # same-seq edit to a non-content column (or any edit on a table with
    # no content column) invisible, and downstream consumers — the CDC
    # feed, derive(), replicate(), derive_join's dim span — silently
    # diverge from the source. Map-typed columns stay excluded (Catalyst
    # cannot equality-compare maps; patch tables' col_seqs rides the
    # row-level seq/sha instead). Cost at scale: the non-content payload
    # of the entity schema (commit, lang) is a few % of content bytes.
    schema_new = T.StructType.fromJson(meta_new["schema"])
    old_cols = {f["name"] for f in meta_old["schema"]["fields"]}
    cmp_cols = [
        f.name for f in schema_new.fields
        if f.name in payload_cols and f.name != "content"
        and f.name in old_cols  # evolved columns exist on one side only:
        # pre-evolution rows are NULL there by construction, so they can
        # never flip an otherwise-identical row to "update"
        and not isinstance(f.dataType, T.MapType)
    ]
    old = table.snapshot(
        spark,
        include_deleted=True,
        metadata=meta_old,
        buckets=buckets,
        columns=None if old_rows else cmp_cols,
    )
    new = table.snapshot(
        spark,
        include_deleted=True,
        metadata=meta_new,
        buckets=buckets,
        columns=None if full_rows else cmp_cols,
    )
    if moved:
        # reachable only on a no-data-change span: align the old side's
        # logical names so the (empty) diff carries the NEW schema
        ren = {inv_old[p]: inv_new[p] for p in moved}
        old = old.select(
            *[F.col(c).alias(ren.get(c, c)) for c in old.columns]
        )
    if no_data_change:
        old, new = old.limit(0), new.limit(0)
    return diff_frames(
        old, new, key_cols, payload_cols,
        full_rows=full_rows, old_rows=old_rows, old_seq=old_seq,
    )
