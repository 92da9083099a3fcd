"""M1 — "lakette": a minimal from-scratch Iceberg-semantics table format.

There is no Iceberg/Delta jar in this image, so the engine implements the
subset of Iceberg semantics the north star requires (BASELINE.json:6,14):

  * snapshot isolation + atomic commit — versioned metadata JSON files
    (`metadata/v{N}.json`, created via the storage backend's
    compare-and-swap: posix hard-link / object-store conditional PUT)
    plus a `CURRENT` pointer file swapped atomically; optimistic
    concurrency with base-snapshot validation makes multi-writer safe
    (process-level fuzz: BENCH/STRESS_MULTIWRITER.md),
  * additive schema evolution — the schema lives in metadata; data files
    written before an ALTER simply lack the new columns and are read with
    the current schema (missing parquet columns -> NULL),
  * file-level pruning metadata — every data file is tagged with its hash
    bucket of the logical key (repo, path), so a MERGE only reads and
    rewrites the buckets its batch touches (bounded write amplification;
    this replaces Iceberg manifest/partition pruning),
  * idempotent epoch markers — `_epochs/{query_id}/{epoch}.json` written
    *after* the metadata commit; metadata records its writer
    (query_id, epoch) so a crash between table-commit and marker-write is
    detected on replay (see operators/merge.py).

All of this is driver-side *planning* metadata — row data only ever moves
through Spark DataFrame jobs.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections.abc import Mapping
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .storage import PosixStorage, Storage

#: engine-managed columns appended to the user schema
META_COLS = [
    ("seq", T.LongType()),  # commit sequence of the writing event (cross-batch LWW)
    ("content_sha", T.StringType()),  # sha2(content, 256) — the per-row invariant
    ("deleted", T.BooleanType()),  # tombstone flag (confluent deletes)
]
#: per-column writer sequences — present ONLY on tables created with
#: column_lww=True (partial-update / patch-event semantics): col_seqs[c]
#: is the seq of the last event that WROTE payload column c (full rows
#: and deletes write every column; 'P' patch events write only their
#: non-null columns). Stored state, because per-column LWW cannot be
#: decided against a row-level seq once batches interleave.
PATCH_COL = ("col_seqs", T.MapType(T.StringType(), T.LongType()))

#: name filter used across the engine ("not a user/payload column") —
#: includes col_seqs so patch state never leaks into payload handling on
#: ANY table; the column itself exists only on column_lww tables
META_COL_NAMES = [c for c, _ in META_COLS] + [PATCH_COL[0]]


def _colmap(meta: dict) -> dict[str, str]:
    """LOGICAL -> PHYSICAL column names for user columns (Iceberg field-id /
    Delta column-mapping analogue). Physical names are fixed at column
    birth and written into every data file; renames move only the logical
    side, so files written before and after a rename read consistently and
    manifest stats/bloom entries (keyed physical) stay valid forever.
    Tables that never renamed (and every pre-mapping table) map
    identically; engine META columns are never mapped."""
    cm = meta.get("colmap")
    if cm:
        return dict(cm)
    return {
        f["name"]: f["name"]
        for f in meta["schema"]["fields"]
        if f["name"] not in META_COL_NAMES
    }


def _extend_colmap(
    old_cm: dict[str, str], retired: list[str], logicals: list[str]
) -> dict[str, str]:
    """Assign physical names for logical columns not yet mapped: a column's
    own name when free, else the first `name__K` not colliding with any
    live or RETIRED physical (so a re-added logical twin of a dropped
    column can never read the dropped data). Deterministic in
    (old_cm, retired, logicals) alone — schema-evolving writers compute the
    mapping BEFORE writing files and commit_version re-derives the exact
    same assignment, so the two can never disagree."""
    cm = dict(old_cm)
    used = set(cm.values()) | set(retired)
    for name in logicals:
        if name in META_COL_NAMES or name in cm:
            continue
        phys, k = name, 2
        while phys in used:
            phys = f"{name}__{k}"
            k += 1
        cm[name] = phys
        used.add(phys)
    return cm


class CommitConflictError(RuntimeError):
    """Another writer's commit conflicts with this one — either it won the
    same-version CAS race, or it landed between this writer's snapshot read
    and its commit and touched overlapping buckets / changed the schema
    (true optimistic concurrency: base-snapshot validation, like Iceberg).
    The table state is untouched; the loser's data files are orphans
    (re-run the merge against the new snapshot, or vacuum them)."""


#: manifest files are immutable once written (uuid-suffixed names), so a
#: tiny driver-side cache makes parent-chain walks and repeated snapshot
#: planning cheap. Cleared wholesale when it grows past the cap.
_MANIFEST_CACHE: dict[str, list] = {}
_MANIFEST_CACHE_CAP = 4096


def _specs(meta: dict) -> list[int]:
    """The table's bucket-spec chain, oldest first. Single-element = no
    in-flight rescale (every file agrees on the bucket function). During a
    rescale each spec is an exact MULTIPLE of the previous one, so a key's
    bucket under an older spec is recoverable from its current bucket:
    hash % n_old == (hash % n_new) % n_old. Metadata predating spec
    evolution implies [n_buckets]."""
    return [int(x) for x in (meta.get("bucket_specs") or [meta["n_buckets"]])]


def _file_nb(f: dict, n0: int) -> int:
    """Bucket-count a file's `bucket` id was computed under. Files written
    before spec evolution carry no tag — they all predate the first
    rescale, i.e. the OLDEST live spec."""
    return int(f.get("nb", n0))


@dataclass
class TableCommit:
    version: int
    snapshot_id: int


class LaketteTable:
    """Handle on a lakette table rooted at a local/posix directory (or,
    for metadata-protocol tests, any Storage backend — see storage.py:
    row data always moves through Spark jobs against real files, so a
    non-posix backend supports the COMMIT protocol surface only)."""

    def __init__(self, root: str, storage: Storage | None = None):
        self.root = root
        self.fs: Storage = storage or PosixStorage()
        self.meta_dir = os.path.join(root, "metadata")
        self.manifests_dir = os.path.join(root, "metadata", "manifests")
        self.staged_dir = os.path.join(root, "metadata", "staged")
        self.data_dir = os.path.join(root, "data")
        self.epochs_dir = os.path.join(root, "_epochs")
        self.lineage_dir = os.path.join(root, "_lineage")
        self.metrics_dir = os.path.join(root, "_metrics")

    def _put_exclusive(self, path: str, payload: dict) -> None:
        """Version-file CAS: create-if-absent via the storage backend
        (posix hard link / object-store conditional PUT) — two committers
        racing to create v{N+1}.json: exactly one succeeds, the other gets
        a clean conflict."""
        try:
            self.fs.put_json_exclusive(path, payload)
        except FileExistsError:
            raise CommitConflictError(
                f"metadata version {os.path.basename(path)} already committed "
                "by a concurrent writer"
            ) from None

    # ------------------------------------------------------------------ setup

    @classmethod
    def create(
        cls,
        root: str,
        user_schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 16,
        target_file_rows: int | None = None,
        storage: Storage | None = None,
        stats_cols: list[str] | None = None,
        column_lww: bool = False,
        bloom_cols: list[str] | None = None,
        cluster_by: list[str] | None = None,
        cluster_mode: str = "linear",
    ) -> "LaketteTable":
        if cluster_by:
            user_fields = {f.name for f in user_schema.fields}
            bad = [c for c in cluster_by if c not in user_fields]
            if bad:
                raise ValueError(f"cluster_by columns not in schema: {bad}")
            overlap = [c for c in cluster_by if c in key_cols]
            if overlap:
                raise ValueError(
                    f"cluster_by must be NON-key columns (keys are already "
                    f"the default sort): {overlap}"
                )
        if cluster_mode not in ("linear", "zorder"):
            raise ValueError(
                f"cluster_mode must be 'linear' or 'zorder': {cluster_mode!r}"
            )
        if cluster_mode == "zorder" and len(cluster_by or []) < 2:
            raise ValueError(
                "zorder needs >= 2 cluster columns (with one, linear is "
                "strictly better — it sorts by the column directly)"
            )
        t = cls(root, storage=storage)
        for d in (
            t.meta_dir, t.manifests_dir, t.data_dir,
            t.epochs_dir, t.lineage_dir, t.metrics_dir,
        ):
            t.fs.makedirs(d)
        meta_cols = list(META_COLS) + ([PATCH_COL] if column_lww else [])
        full = T.StructType(
            list(user_schema.fields)
            + [T.StructField(c, typ, True) for c, typ in meta_cols]
        )
        # lakette/2: the version file carries only per-bucket manifest REFS
        # (+ summary counters), never the flat file list — commit cost is
        # O(touched buckets), independent of total table file count. File
        # entries live in immutable metadata/manifests/b{B}-{uuid}.json.
        meta = {
            "format": "lakette/2",
            "version": 1,
            "snapshot_id": 0,
            "key_cols": key_cols,
            "n_buckets": n_buckets,
            # Iceberg target-file-size analogue (rows, since rows are the
            # writer's unit): base-file writes roll to a new file at this
            # size, bounding file size and keeping sorted files' key ranges
            # tight for min/max pruning. None = one file per bucket/task.
            "target_file_rows": target_file_rows,
            # Iceberg per-column-stats analogue (VERDICT r3 missing #3):
            # extra columns whose per-file min/max the writer records into
            # manifests ("cstats"); snapshot(col_ranges=...) prunes CLEAN
            # files by them. First key col (kmin/kmax) + seq (smax) are
            # always recorded regardless.
            "stats_cols": list(stats_cols or []),
            "bloom_cols": list(bloom_cols or []),
            # Iceberg sort-order analogue: compact() clusters base files
            # by these columns (then key cols as tie-break) instead of the
            # default key sort, making their per-file cstats ranges TIGHT
            # so snapshot(col_ranges=) pruning bites on non-key scans.
            # cluster_mode "linear" = lexicographic (first column's cstats
            # tight) — FREE on every base rewrite (COW merge epochs and
            # predicate DML apply it too: same partition-local sort the
            # writer already does, only the columns change), so the layout
            # survives between compactions. "zorder" = Morton interleave
            # of per-bucket ranks (EVERY cluster column's cstats tight —
            # multi-dimension scans) — COMPACT-ONLY: its rank windows cost
            # real CPU the hot merge path must not pay per epoch; zorder
            # epochs write key-sorted and the next compact restores the
            # curve. MOR delta appends are unsorted either way (folded at
            # compact).
            "cluster_by": list(cluster_by or []),
            "cluster_mode": cluster_mode,
            # partial-update semantics (op='P' patch events, per-column
            # LWW): rows carry per-column writer seqs in `col_seqs`;
            # merges resolve column-by-column. COW-only in v1.
            "column_lww": bool(column_lww),
            "schema": json.loads(full.json()),
            # column mapping (rename/drop without rewrite): logical ->
            # physical names, identity at birth; physical names of dropped
            # columns are RETIRED so a re-added logical twin gets a fresh
            # physical id and old file data never resurrects
            "colmap": {f.name: f.name for f in user_schema.fields},
            "retired_cols": [],
            # online rescale support: the chain of bucket-counts live files
            # were written under (see _specs); rescale() appends, migration
            # (COW rewrites + compaction) drains, commit auto-collapses
            "bucket_specs": [n_buckets],
            "manifests": {},  # {"{nb}:{bucket}": "metadata/manifests/...json"}
            "total_files": 0,
            "total_rows": 0,
            "total_delta_files": 0,
            "spec_files": {str(n_buckets): 0},  # live files per spec
            "touched_buckets": [],
            "touched_nb": n_buckets,  # spec the touched ids are expressed in
            "writer": None,  # {"query_id": str, "epoch": int} of the committing merge
            "parent_version": None,
            "committed_at": time.time(),  # informational (history_df)
        }
        # exclusive create: two processes racing to create the same table
        # root must not silently reset each other (open_or_create's
        # exists-then-create is TOCTOU without this — code-review r3)
        try:
            t._put_exclusive(os.path.join(t.meta_dir, "v1.json"), meta)
        except CommitConflictError:
            if not t.fs.exists(os.path.join(t.meta_dir, "CURRENT")):
                # a twin's create crashed between v1.json and the CURRENT
                # swap — finish it (v1 is a valid empty table) so open works
                t._swap_current("v1.json")
            raise CommitConflictError(
                f"table already exists at {root} (v1.json present) — open it "
                "instead of creating"
            ) from None
        t._swap_current("v1.json")
        return t

    @classmethod
    def exists(cls, root: str, storage: Storage | None = None) -> bool:
        return (storage or PosixStorage()).exists(
            os.path.join(root, "metadata", "CURRENT")
        )

    def shallow_clone(
        self,
        dst_root: str,
        *,
        version: int | None = None,
        storage: Storage | None = None,
        pin: bool = True,
    ) -> tuple["LaketteTable", str | None]:
        """ZERO-COPY table clone (Delta SHALLOW CLONE analogue): the clone
        is a fully independent lakette table whose initial manifests
        reference the SOURCE's data files by absolute path — no data
        moves. Returns (clone, pin_ref_name).

        Independence after birth: writes to either table never touch the
        other (the clone's COW rewrites and compactions land in its own
        data/ dir and progressively replace source references — a full
        compact() makes the clone physically self-contained). The clone's
        vacuum() is structurally safe for source files: it only ever
        deletes inside its OWN data/ directory.

        The famous shallow-clone hazard — the SOURCE vacuuming files the
        clone still references — is closed by default: `pin=True` creates
        a tag ref `clone-<id>` on the source at the cloned version, which
        vacuum() honors until dropped. Drop the pin
        (src.drop_ref(pin_name)) only once the clone is compacted away
        from source files or deleted. `pin=False` opts out and accepts
        Delta's caveat verbatim.

        Cost: O(metadata) — every manifest entry is rewritten with an
        absolutized path (driver-side, proportional to live FILES, not
        bytes; the same cost class as Iceberg/Delta clone). Cloning a
        table mid-rescale is rejected (multi-spec manifests would need
        spec surgery; finish the migration with compact() first).

        The full schema surface travels: colmap/retired (a clone of a
        renamed table reads correctly, and a dropped column can never
        resurrect in the clone either), declared layout, counters,
        column_lww flag, target sizes."""
        meta = self.metadata_at(version) if version is not None else self.current_metadata()
        if len(_specs(meta)) > 1:
            raise ValueError(
                "shallow_clone mid-rescale is not supported (multi-spec "
                "manifests); compact() to finish the migration first"
            )
        pin_name = None
        if pin:
            pin_name = f"clone-{uuid.uuid4().hex[:8]}"
            self.create_ref(pin_name, kind="tag", version=int(meta["version"]))
        dst = LaketteTable(dst_root, storage=storage)
        for d in (
            dst.meta_dir, dst.manifests_dir, dst.data_dir,
            dst.epochs_dir, dst.lineage_dir, dst.metrics_dir,
        ):
            dst.fs.makedirs(d)
        by_pair: dict[tuple[int, int], list[dict]] = {}
        n0 = _specs(meta)[0]
        for f in meta["files"]:
            e = dict(f)
            e["path"] = os.path.join(self.root, e["path"])
            by_pair.setdefault((_file_nb(e, n0), e["bucket"]), []).append(e)
        refs = {
            f"{nb}:{b}": dst._write_manifest((nb, b), fs)
            for (nb, b), fs in sorted(by_pair.items())
        }
        carry = (
            "format", "key_cols", "n_buckets", "target_file_rows",
            "stats_cols", "bloom_cols", "cluster_by", "cluster_mode",
            "column_lww", "schema", "colmap", "retired_cols", "bucket_specs",
            "total_files", "total_rows", "total_delta_files", "spec_files",
            "requires_dedup", "constraints",
        )
        v1 = {k: meta[k] for k in carry if k in meta}
        v1.update(
            version=1,
            snapshot_id=int(meta.get("snapshot_id", 0)),
            manifests=refs,
            touched_buckets=[],
            touched_nb=int(meta["n_buckets"]),
            writer={
                "query_id": "__clone__",
                "epoch": int(meta["version"]),
                "nonce": uuid.uuid4().hex,
            },
            parent_version=None,
            committed_at=time.time(),
            clone_of={"root": self.root, "version": int(meta["version"]),
                      "pin": pin_name},
        )
        try:
            dst._put_exclusive(os.path.join(dst.meta_dir, "v1.json"), v1)
        except CommitConflictError:
            if pin_name:
                self.drop_ref(pin_name)
            raise CommitConflictError(
                f"table already exists at {dst_root} — clone into a fresh root"
            ) from None
        dst._swap_current("v1.json")
        return dst, pin_name

    # ------------------------------------------------------------ metadata io

    def _swap_current(self, meta_name: str) -> None:
        cur = os.path.join(self.meta_dir, "CURRENT")
        # atomic overwrite (posix rename / object-store PUT) — this IS the
        # commit point
        self.fs.write_text_atomic(cur, meta_name)

    # -- per-bucket manifests (lakette/2): immutable file-list shards ------

    def _read_manifest(self, rel: str) -> list[dict]:
        full = os.path.join(self.root, rel)
        cached = _MANIFEST_CACHE.get(full)
        if cached is not None:
            return cached
        files = json.loads(self.fs.read_text(full))["files"]
        if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_CAP:
            _MANIFEST_CACHE.clear()
        _MANIFEST_CACHE[full] = files
        return files

    def _write_manifest(self, pair: tuple[int, int], files: list[dict]) -> str:
        nb, bucket = pair
        self.fs.makedirs(self.manifests_dir)
        rel = os.path.join(
            "metadata",
            "manifests",
            f"s{nb}b{bucket:04d}-{uuid.uuid4().hex[:12]}.json",
        )
        self.fs.put_json(
            os.path.join(self.root, rel),
            {"nb": nb, "bucket": bucket, "files": files},
        )
        return rel

    @staticmethod
    def _ref_pair(key: str, n0: int) -> tuple[int, int]:
        """Manifest-ref key -> (spec nb, bucket). New keys are
        \"{nb}:{bucket}\"; legacy plain-\"{bucket}\" keys predate spec
        evolution, i.e. the oldest live spec."""
        nb, sep, b = key.partition(":")
        return (int(nb), int(b)) if sep else (n0, int(key))

    def _materialize(self, meta: dict[str, Any]) -> dict[str, Any]:
        """Attach the flat `files` list to a loaded version dict. lakette/1
        metadata carries it inline; lakette/2 shards it into per-bucket
        manifests, loaded (and cached) here. Readers keep seeing
        meta[\"files\"] either way, and every entry gets its `nb` tag
        (files predating spec evolution default to the oldest spec)."""
        n0 = _specs(meta)[0]
        if "files" not in meta:
            files: list[dict] = []
            for key in sorted(meta.get("manifests", {})):
                files.extend(self._read_manifest(meta["manifests"][key]))
            meta["files"] = files
        for f in meta["files"]:
            f.setdefault("nb", n0)
        return meta

    def current_metadata(self) -> dict[str, Any]:
        return self._materialize(self._raw_current())

    def _raw_current(self) -> dict[str, Any]:
        """Current version dict WITHOUT manifest materialization — the
        commit path works at the manifest-ref level so it never pays
        O(total files) to plan a commit."""
        name = self.fs.read_text(os.path.join(self.meta_dir, "CURRENT")).strip()
        return self.fs.read_json(os.path.join(self.meta_dir, name))

    def _counters(self, raw: dict[str, Any]) -> dict[str, Any]:
        """Summary counters the commit path maintains incrementally. For
        metadata predating a counter (older engine versions), bootstrap it
        once with a full materialize — every later commit then carries the
        maintained values forward.

        FIRST-COMMIT COST on legacy metadata (VERDICT r4 #9): the one-time
        bootstrap opens EVERY manifest shard of the legacy snapshot —
        O(total files), the cost this counter exists to avoid. On a huge
        pre-counter table expect the first commit after the engine upgrade
        to pay one full metadata materialization (tens of seconds at
        millions of files); from the SECOND commit on, counters ride the
        version file and no commit opens untouched shards again (asserted
        in tests/test_round5.py). There is no cheaper exact bootstrap: the
        legacy version file simply does not carry the totals."""
        need = ("total_files", "total_rows", "total_delta_files", "spec_files")
        if all(k in raw for k in need):
            return {k: raw[k] for k in need}
        meta = self._materialize(dict(raw))
        n0 = _specs(raw)[0]
        spec_files: dict[str, int] = {}
        for f in meta["files"]:
            nb = str(_file_nb(f, n0))
            spec_files[nb] = spec_files.get(nb, 0) + 1
        return {
            "total_files": len(meta["files"]),
            "total_rows": sum(f["rows"] for f in meta["files"]),
            "total_delta_files": sum(1 for f in meta["files"] if f.get("delta")),
            "spec_files": spec_files,
        }

    def _bucket_stats(self, raw: dict[str, Any]) -> dict[str, list[int]]:
        """Per-(spec, bucket) summary stats maintained incrementally by the
        commit path: key \"{nb}:{bucket}\" -> [files, rows, delta_files,
        delta_rows]. This is what stats() and compaction planning read, so
        dashboards and select_compaction_candidates never open a manifest
        shard (VERDICT r3 #1). O(n_buckets) entries in the version file —
        bucket count is configuration, never file count. Metadata predating
        the counter bootstraps once with a full materialize; every later
        commit carries the maintained values forward."""
        if "bucket_stats" in raw:
            return raw["bucket_stats"]
        meta = self._materialize(dict(raw))
        n0 = _specs(raw)[0]
        out: dict[str, list[int]] = {}
        for f in meta["files"]:
            nb = _file_nb(f, n0)
            e = out.setdefault(f"{nb}:{f['bucket']}", [0, 0, 0, 0])
            e[0] += 1
            e[1] += f["rows"]
            if f.get("delta"):
                e[2] += 1
                e[3] += f["rows"]
        return out

    def metadata_at(self, version: int) -> dict[str, Any]:
        """Metadata of a specific committed version (time travel),
        materialized (inline `files` list). See _raw_metadata_at."""
        return self._materialize(self._raw_metadata_at(version))

    def _raw_metadata_at(self, version: int) -> dict[str, Any]:
        """Raw (manifest refs, no file list) metadata of a specific
        committed version. Only versions reachable from CURRENT are valid —
        an orphaned loser of a commit race has a v{N}.json too, but it was
        never the table state, so walk the parent chain instead of trusting
        the file name. Zero manifest loads (VERDICT r3 #1)."""
        meta = self._raw_current()
        while meta["version"] != version:
            parent = meta.get("parent_version")
            if parent is None or parent < version:
                raise ValueError(f"version {version} not in this table's history")
            ppath = os.path.join(self.meta_dir, f"v{parent}.json")
            if not self.fs.exists(ppath):
                raise ValueError(
                    f"version {version} expired (metadata pruned by vacuum)"
                )
            cand = self.fs.read_json(ppath)
            if cand["version"] != parent:
                raise ValueError(f"corrupt history at v{parent}.json")
            meta = cand
        return meta

    def version_as_of(self, ts) -> int:
        """Resolve a wall-clock timestamp to a version number — the Iceberg
        `FOR TIMESTAMP AS OF` analogue over the `committed_at` stamp every
        commit records (see _commit): the NEWEST reachable version whose
        stamp is <= ts. Accepts epoch seconds (float/int) or a datetime
        (naive = UTC, matching the time.time() stamps).

        Chain walk is newest-first and purely driver-side metadata
        (O(versions-newer-than-ts) small JSON reads, zero manifest loads —
        same discipline as metadata_at). Stamps are assigned under the
        serialized commit CAS, so they are monotone per table up to writer
        clock skew; resolution is deterministic either way (first match on
        the walk). Raises if ts predates the oldest reachable commit, if
        the walk crosses into pre-stamp-era versions (committed_at absent —
        those are addressable by version=, not by time), or if vacuum
        already expired the metadata needed to reach ts."""
        if isinstance(ts, datetime):
            ts = ts.timestamp() if ts.tzinfo else ts.replace(
                tzinfo=timezone.utc).timestamp()
        ts = float(ts)
        meta = self._raw_current()
        while True:
            stamp = meta.get("committed_at")
            if stamp is None:
                raise ValueError(
                    f"version {meta['version']} has no committed_at stamp "
                    "(pre-stamp metadata) — time travel by timestamp only "
                    "covers stamped commits; use version= instead"
                )
            if stamp <= ts:
                return int(meta["version"])
            parent = meta.get("parent_version")
            if parent is None:
                raise ValueError(
                    f"timestamp {ts} predates the oldest reachable commit "
                    f"(v{meta['version']} at {stamp})"
                )
            ppath = os.path.join(self.meta_dir, f"v{parent}.json")
            if not self.fs.exists(ppath):
                raise ValueError(
                    f"timestamp {ts} resolves past v{meta['version']} but "
                    "older metadata was pruned by vacuum"
                )
            meta = self.fs.read_json(ppath)

    def history(self) -> list[dict[str, Any]]:
        """Commit log, newest first: one row per reachable version (the
        chain ends early where vacuum() already expired old metadata)."""
        out = []
        meta = self._raw_current()
        while True:
            out.append(
                {
                    "version": meta["version"],
                    "snapshot_id": meta["snapshot_id"],
                    "writer": meta.get("writer"),
                    # lakette/2 stores summary counters in the version file
                    # so history never loads manifests; lakette/1 falls back
                    # to the inline file list
                    "n_files": meta.get("total_files", len(meta.get("files", []))),
                    "rows": meta.get(
                        "total_rows", sum(f["rows"] for f in meta.get("files", []))
                    ),
                    "n_buckets": meta["n_buckets"],
                    "committed_at": meta.get("committed_at"),
                }
            )
            parent = meta.get("parent_version")
            if parent is None:
                return out
            ppath = os.path.join(self.meta_dir, f"v{parent}.json")
            if not self.fs.exists(ppath):
                return out  # expired by vacuum
            meta = self.fs.read_json(ppath)

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self._raw_current()["schema"])

    def user_schema(self) -> T.StructType:
        return T.StructType(
            [f for f in self.schema().fields if f.name not in META_COL_NAMES]
        )

    def key_cols(self) -> list[str]:
        return list(self._raw_current()["key_cols"])

    def n_buckets(self) -> int:
        return int(self._raw_current()["n_buckets"])

    def bucket_expr(self, prefix: str = "", n_buckets: int | None = None,
                    metadata: dict | None = None):
        """Deterministic hash bucket of the logical key — recomputable
        anywhere, so it is never stored in row data. `n_buckets` overrides
        the table's current bucket count (compact()'s re-bucketing path
        MUST share this definition — a divergent inline copy would silently
        mis-route keys, see ADVICE.md). `metadata` takes key columns and
        bucket count from an already-loaded version dict instead of
        re-reading CURRENT and the version file."""
        meta = metadata if metadata is not None else self._raw_current()
        cols = [F.col(prefix + c) for c in meta["key_cols"]]
        n = int(meta["n_buckets"]) if n_buckets is None else int(n_buckets)
        return F.pmod(F.xxhash64(*cols), F.lit(n)).cast("int")

    def create_or_replace_view(
        self,
        spark: SparkSession,
        name: str,
        *,
        version: int | None = None,
        **snapshot_kwargs,
    ) -> DataFrame:
        """Register a (optionally time-travelled / pruned) snapshot as a
        session temp view so plain `spark.sql` works over lakette tables
        (VERDICT r4 #4) — the first thing an analyst asks for:

            table.create_or_replace_view(spark, "repos")
            spark.sql("SELECT lang, count(*) FROM repos GROUP BY lang")

        Any snapshot() kwarg passes through (version= pins a past commit;
        buckets=/key_range=/min_seq=/columns= pre-prune the scan the view
        wraps — pruning decided at REGISTRATION time from file metadata).
        The view is a lazy plan over the snapshot's file set: queries on it
        get Catalyst pushdown/pruning as usual, but new commits are NOT
        reflected until the view is re-registered (a temp view pins the
        plan, exactly like registering any DataFrame). Returns the
        underlying DataFrame."""
        df = self.snapshot(spark, version=version, **snapshot_kwargs)
        df.createOrReplaceTempView(name)
        return df

    # ------------------------------------------------------- metadata tables

    def files_df(
        self,
        spark: SparkSession,
        *,
        version: int | None = None,
        ref: str | None = None,
        view: str | None = None,
    ) -> DataFrame:
        """The Iceberg `table.files` metadata-table analogue: one row per
        live data file of the (optionally time-travelled) snapshot —
        (path, bucket, nb, delta, rows, kmin, kmax, smax) plus the per-file
        column-stats map as a JSON string (`cstats_json`; blooms are
        intentionally omitted — kilobyte blobs with no analytical value).

        Scale posture: the driver touches only the version file's manifest
        REFS (O(buckets)); the shards themselves are parsed by EXECUTORS
        via spark.read.json — a metadata query over a 10^7-file table is a
        distributed scan of immutable JSON shards, never a driver
        materialization. Legacy lakette/1 tables (inline file list) fall
        back to createDataFrame of that list — bounded by their own
        pre-shard size. `view=` additionally registers the result as a
        temp view (plan pinned at registration, like
        create_or_replace_view)."""
        if ref is not None:
            version = self.ref_version(ref)
        meta = (
            self._raw_current() if version is None
            else self._raw_metadata_at(int(version))
        )
        n0 = _specs(meta)[0]
        entry = T.StructType([
            T.StructField("path", T.StringType()),
            T.StructField("bucket", T.IntegerType()),
            T.StructField("nb", T.IntegerType()),
            T.StructField("delta", T.BooleanType()),
            T.StructField("rows", T.LongType()),
            T.StructField("kmin", T.StringType()),
            T.StructField("kmax", T.StringType()),
            T.StructField("smax", T.LongType()),
            # values are [min, max] typed per column (string vs numeric) in
            # the shards; parsed as strings here — the stable surface is
            # the JSON text, callers from_json what they need
            T.StructField(
                "cstats", T.MapType(T.StringType(), T.ArrayType(T.StringType()))
            ),
        ])
        if "files" in meta:  # legacy inline list — already materialized
            rows = [
                {
                    **{k: f.get(k) for k in
                       ("path", "bucket", "rows", "kmin", "kmax", "smax")},
                    "nb": f.get("nb", n0),
                    "delta": bool(f.get("delta", False)),
                    "cstats": {
                        c: [None if x is None else str(x) for x in v]
                        for c, v in (f.get("cstats") or {}).items()
                    },
                }
                for f in meta["files"]
            ]
            df = spark.createDataFrame(rows, T.StructType(entry.fields))
        else:
            shard = T.StructType([
                T.StructField("nb", T.IntegerType()),
                T.StructField("bucket", T.IntegerType()),
                T.StructField("files", T.ArrayType(entry)),
            ])
            paths = [
                os.path.join(self.root, rel)
                for _, rel in sorted(meta.get("manifests", {}).items())
            ]
            if not paths:
                # same schema + view semantics as the populated path — a
                # dashboard query must work identically on an empty table
                df = spark.createDataFrame([], entry)
                df = df.withColumn(
                    "cstats_json",
                    F.when(F.col("cstats").isNotNull(), F.to_json("cstats")),
                ).drop("cstats")
                if view:
                    df.createOrReplaceTempView(view)
                return df
            df = (
                spark.read.schema(shard).json(paths)
                .select(F.explode("files").alias("f"), F.col("nb").alias("_snb"))
                .select(
                    "f.path",
                    "f.bucket",
                    F.coalesce("f.nb", "_snb").alias("nb"),
                    F.coalesce("f.delta", F.lit(False)).alias("delta"),
                    "f.rows", "f.kmin", "f.kmax", "f.smax", "f.cstats",
                )
            )
        df = df.withColumn(
            "cstats_json",
            F.when(F.col("cstats").isNotNull(), F.to_json("cstats")),
        ).drop("cstats")
        if view:
            df.createOrReplaceTempView(view)
        return df

    def history_df(
        self, spark: SparkSession, *, view: str | None = None
    ) -> DataFrame:
        """The Iceberg `table.history`/`table.snapshots` analogue: one row
        per RETAINED committed version — (version, snapshot_id,
        parent_version, committed_at, writer_query_id, writer_epoch,
        n_buckets, total_files, total_rows, total_delta_files). Versions
        already vacuumed are absent by definition; `committed_at` is the
        informational wall-clock stamp (NULL on pre-stamp versions).
        Driver cost is one listdir of metadata/ (O(retained versions),
        bounded by vacuum retention); parsing happens in executors."""
        pat = re.compile(r"^v(\d+)\.json$")
        paths = [
            os.path.join(self.meta_dir, fn)
            for fn in sorted(self.fs.listdir(self.meta_dir))
            if pat.match(fn)
        ]
        schema = T.StructType([
            T.StructField("version", T.LongType()),
            T.StructField("snapshot_id", T.LongType()),
            T.StructField("parent_version", T.LongType()),
            T.StructField("committed_at", T.DoubleType()),
            T.StructField("writer", T.StructType([
                T.StructField("query_id", T.StringType()),
                T.StructField("epoch", T.LongType()),
            ])),
            T.StructField("n_buckets", T.IntegerType()),
            T.StructField("total_files", T.LongType()),
            T.StructField("total_rows", T.LongType()),
            T.StructField("total_delta_files", T.LongType()),
        ])
        df = (
            spark.read.schema(schema).json(paths)
            .select(
                "version", "snapshot_id", "parent_version", "committed_at",
                F.col("writer.query_id").alias("writer_query_id"),
                F.col("writer.epoch").alias("writer_epoch"),
                "n_buckets", "total_files", "total_rows", "total_delta_files",
            )
            .orderBy("version")
        )
        if view:
            df.createOrReplaceTempView(view)
        return df

    # ------------------------------------------------------------------- refs

    def _ref_path(self, name: str) -> str:
        return os.path.join(self.meta_dir, "refs", f"{name}.json")

    def create_ref(
        self,
        name: str,
        *,
        kind: str = "tag",
        version: int | None = None,
        replace: bool = False,
    ) -> dict[str, Any]:
        """Named ref to a version (Iceberg tags/branches re-expressed on
        the lakette chain): a `tag` is an immutable pointer — named time
        travel for audits, rollback anchors, "the snapshot we trained on";
        a `branch` is a movable pointer advanced with fast_forward().
        Both PIN their version against vacuum(): the ref'd version's
        metadata and data files survive retention until the ref is
        dropped, so a tag is a durable reproducibility handle, not a hint.

        Metadata-only: one small exclusive PUT under metadata/refs/ (CAS —
        two writers racing to create the same tag: one loses loudly).
        `replace=True` re-points an existing ref (tags included: that is
        the explicit operator override, same spirit as snapshot rollback).
        Writes to a branch are not supported — the version chain is
        single-headed; branch refs exist for staged reading and promotion
        workflows (pair with write-audit-publish), documented loudly."""
        if kind not in ("tag", "branch"):
            raise ValueError(f"ref kind must be 'tag' or 'branch', got {kind!r}")
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name or ""):
            raise ValueError(f"invalid ref name {name!r}")
        v = int(version) if version is not None else int(self._raw_current()["version"])
        # fail fast on an unreachable version (vacuumed or never existed)
        self.metadata_at(v)
        rec = {"name": name, "kind": kind, "version": v}
        self.fs.makedirs(os.path.join(self.meta_dir, "refs"))
        if replace:
            self.fs.put_json(self._ref_path(name), rec)
        else:
            self._put_exclusive(self._ref_path(name), rec)
        return rec

    def ref_version(self, name: str) -> int:
        try:
            return int(self.fs.read_json(self._ref_path(name))["version"])
        except OSError:
            raise ValueError(f"unknown ref {name!r}") from None

    def list_refs(self) -> list[dict[str, Any]]:
        d = os.path.join(self.meta_dir, "refs")
        if not self.fs.isdir(d):
            return []
        return sorted(
            (
                self.fs.read_json(os.path.join(d, fn))
                for fn in self.fs.listdir(d)
                if fn.endswith(".json")
            ),
            key=lambda r: r["name"],
        )

    def drop_ref(self, name: str) -> None:
        self.ref_version(name)  # loud on unknown
        self.fs.remove(self._ref_path(name))

    def fast_forward(self, name: str, version: int | None = None) -> dict[str, Any]:
        """Advance a BRANCH ref to `version` (default: current head).
        Strictly forward — rewinding is create_ref(replace=True), the
        explicit override. Tags never move."""
        rec = self.fs.read_json(self._ref_path(name))
        if rec["kind"] != "branch":
            raise ValueError(f"ref {name!r} is a tag — tags never move")
        v = int(version) if version is not None else int(self._raw_current()["version"])
        if v < int(rec["version"]):
            raise ValueError(
                f"fast_forward {name!r}: {v} is behind the ref "
                f"({rec['version']}) — use create_ref(replace=True) to rewind"
            )
        self.metadata_at(v)
        rec = {**rec, "version": v}
        self.fs.put_json(self._ref_path(name), rec)
        return rec

    def restore(self, version: int | None = None, *, ref: str | None = None,
                as_of=None) -> TableCommit:
        """ROLL BACK the table head to a past version's state (Delta
        RESTORE / Iceberg rollback analogue) — as a NEW commit, never by
        rewinding the chain: history stays intact, the audit trail shows
        the restore, and concurrent writers race through the ordinary CAS.

        Metadata-only and instant: the old version's file entries are
        re-committed as the next version's file set (the data files are
        still on disk — within the vacuum retention window or pinned by a
        ref; restoring a vacuumed version fails at metadata_at, and the
        reliable pattern is restoring a TAG, whose files vacuum never
        collects). The old schema is restored with the files — rows that
        only exist in newer files are gone, which is the point.

        Restoring across an online bucket rescale is rejected: old-spec
        file entries under a replaced spec set would corrupt pruning.
        Finish the migration (compact) first.

        Address the target by exactly one of `version=`, `ref=` (named
        tag/branch), or `as_of=` (wall-clock instant, resolved through
        version_as_of — "roll back to how the table was at 3pm")."""
        n_addr = sum(x is not None for x in (version, ref, as_of))
        if n_addr != 1:
            raise ValueError(
                "restore: pass exactly one of version=, ref=, as_of="
            )
        if as_of is not None:
            version = self.version_as_of(as_of)
        if ref is not None:
            version = self.ref_version(ref)
        old = self.metadata_at(int(version))
        cur = self._raw_current()
        if int(version) == int(cur["version"]):
            raise ValueError("restore: already at that version")
        if _specs(old) != _specs(cur):
            raise ValueError(
                "restore across a bucket rescale is not supported — the "
                "bucket specs differ; compact() to finish the migration, "
                "then restore"
            )
        replaced = {
            (nb, b % nb) for nb in _specs(cur) for b in range(int(cur["n_buckets"]))
        }
        return self.commit_version(
            new_files=[dict(f) for f in old["files"]],
            replaced_buckets=replaced,
            schema=T.StructType.fromJson(old["schema"]),
            # the old COLUMN MAPPING travels with the old schema: restoring
            # across a rename must read the restored files under their true
            # physical names (auto-reconciliation would mint fresh ids and
            # silently NULL the column); physicals current-only columns
            # held get retired by the commit's reconciliation
            colmap=_colmap(old),
            writer={
                "query_id": "__restore__",
                "epoch": int(version),
                "nonce": uuid.uuid4().hex,
            },
            requires_dedup=bool(old.get("requires_dedup", False)),
            base_version=int(cur["version"]),
        )

    def rename_column(self, old: str, new: str, *, writer: dict | None = None) -> TableCommit:
        """Rename a user column WITHOUT rewriting any data (Delta
        column-mapping / Iceberg field-id rename): a metadata-only commit
        that moves the LOGICAL name while the physical name — fixed at the
        column's birth and baked into every data file and manifest
        stat/bloom key — stays put. Files written before and after the
        rename read back consistently; time travel to a pre-rename version
        serves the old name. Key columns may be renamed (bucket hashing is
        on values, not names); declared layout lists (cluster_by,
        stats_cols, bloom_cols) follow the rename atomically.

        Rejected on column_lww tables: patch tables store per-column
        writer seqs keyed by PHYSICAL column name inside row data
        (`col_seqs`), and v1 keeps those tables at identity mapping rather
        than translating map keys on every read.

        Changefeed interplay: `changes_since`/`follow_changes` across a
        span containing a rename raises loudly — a diff cannot align
        payload columns whose logical names moved mid-span; consumers
        resync (derive/replicate do so automatically)."""
        cur = self._raw_current()
        if cur.get("column_lww"):
            raise ValueError(
                "rename_column is not supported on column_lww tables: "
                "per-column writer seqs (col_seqs) key on physical column "
                "names inside row data"
            )
        user = [f["name"] for f in cur["schema"]["fields"]
                if f["name"] not in META_COL_NAMES]
        if old not in user:
            raise ValueError(f"rename_column: no such user column {old!r}")
        hit = [n for n, e in (cur.get("constraints") or {}).items()
               if re.search(rf"\b{re.escape(old)}\b", e)]
        if hit:
            raise ValueError(
                f"rename_column: {old!r} is referenced by CHECK constraint(s) "
                f"{sorted(hit)} — drop them first, rename, re-add with the "
                "new name (constraint expressions are SQL text; a silent "
                "rewrite could change semantics)"
            )
        if new in [f["name"] for f in cur["schema"]["fields"]] or new in META_COL_NAMES:
            raise ValueError(f"rename_column: target name {new!r} already in use")
        schema = T.StructType([
            T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
            for f in T.StructType.fromJson(cur["schema"]).fields
        ])
        cm = _colmap(cur)
        cm[new] = cm.pop(old)

        def _ren(names: list[str]) -> list[str]:
            return [new if c == old else c for c in names]

        return self.commit_version(
            new_files=[], replaced_buckets=set(), schema=schema, colmap=cm,
            meta_updates={
                k: _ren(list(cur.get(k) or []))
                for k in ("key_cols", "cluster_by", "stats_cols", "bloom_cols")
            },
            writer=writer or {"query_id": "__rename__", "epoch": int(cur["version"]),
                              "nonce": uuid.uuid4().hex},
            base_version=int(cur["version"]),
        )

    def drop_column(self, name: str, *, writer: dict | None = None) -> TableCommit:
        """Drop a user column WITHOUT rewriting any data: a metadata-only
        commit removes the logical column and RETIRES its physical name.
        Old files keep the bytes (time travel to a pre-drop version still
        serves them; vacuum never needs to know), current reads simply stop
        projecting the column, and future writes omit it. Re-adding the
        same logical name later (additive schema evolution) mints a FRESH
        physical id, so the dropped data can never resurrect under the new
        column — the classic rename/drop correctness trap, tested in
        tests/test_column_mapping.py.

        Key columns cannot be dropped. Columns declared in cluster_by are
        rejected (the clustered layout is a physical contract — re-cluster
        first); stats_cols/bloom_cols membership is removed automatically
        (pruning on the column just ends). column_lww tables are rejected
        (see rename_column)."""
        cur = self._raw_current()
        if cur.get("column_lww"):
            raise ValueError(
                "drop_column is not supported on column_lww tables: "
                "per-column writer seqs key on physical names in row data"
            )
        if name in (cur.get("key_cols") or []):
            raise ValueError(f"drop_column: {name!r} is a key column")
        if name in (cur.get("cluster_by") or []):
            raise ValueError(
                f"drop_column: {name!r} is a cluster_by column — re-cluster "
                "(create a new declared layout) before dropping it"
            )
        user = [f["name"] for f in cur["schema"]["fields"]
                if f["name"] not in META_COL_NAMES]
        if name not in user:
            raise ValueError(f"drop_column: no such user column {name!r}")
        hit = [n for n, e in (cur.get("constraints") or {}).items()
               if re.search(rf"\b{re.escape(name)}\b", e)]
        if hit:
            raise ValueError(
                f"drop_column: {name!r} is referenced by CHECK constraint(s) "
                f"{sorted(hit)} — drop them first"
            )
        schema = T.StructType([
            f for f in T.StructType.fromJson(cur["schema"]).fields
            if f.name != name
        ])
        cm = _colmap(cur)
        cm.pop(name)
        return self.commit_version(
            new_files=[], replaced_buckets=set(), schema=schema, colmap=cm,
            meta_updates={
                k: [c for c in (cur.get(k) or []) if c != name]
                for k in ("stats_cols", "bloom_cols")
            },
            writer=writer or {"query_id": "__drop__", "epoch": int(cur["version"]),
                              "nonce": uuid.uuid4().hex},
            base_version=int(cur["version"]),
        )

    def add_columns(
        self, columns: Mapping[str, Any], *, writer: dict | None = None
    ) -> TableCommit:
        """Add nullable user columns WITHOUT rewriting any data — the
        explicit-DDL twin of merge_into's implicit additive evolution
        (operators/merge.py _schema_evolve): a metadata-only commit
        appends the fields before the engine meta tail; files written
        earlier simply lack the new physical columns and read back as
        typed NULLs under the current schema. `columns` maps name -> Spark
        DataType or DDL type string (anything `StructType.fromDDL`
        accepts). Re-using a previously DROPPED logical name mints a FRESH
        physical id through the retired list (commit_version's colmap
        extension), so the dropped column's old bytes can never resurrect
        under the new column."""
        if not columns:
            raise ValueError("add_columns: no columns given")
        cur = self._raw_current()
        schema_cur = T.StructType.fromJson(cur["schema"])
        existing = {f.name for f in schema_cur.fields}
        new_fields: list[T.StructField] = []
        for name, typ in dict(columns).items():
            if name in existing:
                raise ValueError(f"add_columns: column {name!r} already exists")
            if name in META_COL_NAMES or name == "op":
                raise ValueError(
                    f"add_columns: {name!r} is reserved for the engine "
                    "(op/seq/content_sha/deleted/col_seqs)"
                )
            if isinstance(typ, T.DataType):
                dt = typ
            else:
                try:
                    dt = T.StructType.fromDDL(f"__x {typ}")[0].dataType
                except Exception as e:
                    raise ValueError(
                        f"add_columns: cannot parse type {typ!r} for "
                        f"{name!r}: {e}"
                    ) from None
            new_fields.append(T.StructField(name, dt, True))
        body = [f for f in schema_cur.fields if f.name not in META_COL_NAMES]
        meta_tail = [f for f in schema_cur.fields if f.name in META_COL_NAMES]
        return self.commit_version(
            new_files=[], replaced_buckets=set(),
            schema=T.StructType(body + new_fields + meta_tail),
            writer=writer or {"query_id": "__add_column__",
                              "epoch": int(cur["version"]),
                              "nonce": uuid.uuid4().hex},
            base_version=int(cur["version"]),
        )

    def add_constraint(
        self, spark, name: str, expr: str, *, writer: dict | None = None
    ) -> TableCommit:
        """Add a table-level CHECK constraint (Delta parity): a named SQL
        boolean expression over user columns that every FULL-ROW event
        ('I'/'U') must satisfy from now on — merge_into enforces it with
        one bounded aggregate per batch and aborts BEFORE any write on a
        violation (operators/expectations.py's fail action; NULL counts
        as a violation, three-valued logic never silently passes).

        Exactly like Delta's ALTER TABLE ADD CONSTRAINT, the CURRENT
        snapshot is validated first — one scan, refused loudly if any
        live row violates, so a constraint can never be born already
        broken. Writers enforce it everywhere rows enter (merge_into for
        events/INSERT/MERGE/COPY/derive/replicate; dml.py for UPDATE);
        the one deliberate gap, same as Delta: RESTORE to a
        pre-constraint version is a metadata rollback and does NOT
        re-validate — it can resurface rows written before the rule
        existed (the constraint gates WRITES, not time travel).
        column_lww tables are rejected: a 'P' patch event carries
        only its written columns, so a row-level predicate over the
        post-image cannot be checked against the event alone (same class
        of reasoning as rename_column's rejection)."""
        cur = self._raw_current()
        if cur.get("column_lww"):
            raise ValueError(
                "CHECK constraints are not supported on column_lww tables: "
                "a patch event carries only its written columns, so the "
                "post-image predicate cannot be enforced per event"
            )
        if not re.match(r"[A-Za-z_][A-Za-z0-9_]*$", name):
            raise ValueError(f"constraint name {name!r} is not an identifier")
        cons = dict(cur.get("constraints") or {})
        if name in cons:
            raise ValueError(
                f"constraint {name!r} already exists: {cons[name]!r} "
                "(DROP CONSTRAINT first)"
            )
        snap = self.snapshot(spark)
        try:
            probe = snap.filter(
                ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(False))
            )
            bad = probe.limit(1).collect()
        except Exception as e:
            if isinstance(e, ValueError):
                raise
            raise ValueError(
                f"constraint {name!r}: expression {expr!r} does not "
                f"evaluate over the table's columns: {e}"
            ) from None
        if bad:
            key_view = {k: bad[0][k] for k in self.key_cols()}
            n_bad = probe.count()
            raise ValueError(
                f"cannot add constraint {name!r}: {n_bad} existing row(s) "
                f"violate {expr!r} (e.g. key {key_view})"
            )
        cons[name] = expr
        return self.commit_version(
            new_files=[], replaced_buckets=set(),
            meta_updates={"constraints": cons},
            writer=writer or {"query_id": "__constraint__",
                              "epoch": int(cur["version"]),
                              "nonce": uuid.uuid4().hex},
            base_version=int(cur["version"]),
        )

    def drop_constraint(self, name: str, *, writer: dict | None = None) -> TableCommit:
        """Remove a CHECK constraint — metadata-only commit; enforcement
        simply stops at the new version (already-written rows were all
        checked while it lived)."""
        cur = self._raw_current()
        cons = dict(cur.get("constraints") or {})
        if name not in cons:
            raise ValueError(
                f"no such constraint {name!r}; declared: {sorted(cons)}"
            )
        del cons[name]
        return self.commit_version(
            new_files=[], replaced_buckets=set(),
            meta_updates={"constraints": cons},
            writer=writer or {"query_id": "__constraint__",
                              "epoch": int(cur["version"]),
                              "nonce": uuid.uuid4().hex},
            base_version=int(cur["version"]),
        )

    # ------------------------------------------------------------------- scan

    def plan_files(
        self,
        *,
        buckets: list[int] | None = None,
        key_range: tuple[str, str] | None = None,
        min_seq: int | None = None,
        metadata: dict | None = None,
    ) -> list[dict]:
        """Driver-side scan planning from metadata alone (no Spark job):
        select the data files a scan must read. Three pruning dimensions:

          * `buckets` — hash-bucket pruning (key-equality workloads: a key
            lives in exactly one bucket),
          * `key_range=(lo, hi)` — file-level min/max statistics on the
            FIRST key column (e.g. repo): a file whose [kmin, kmax] range
            misses [lo, hi] cannot contain a matching row. This is the
            Iceberg-manifest-stats analogue for range/prefix predicates
            (`repo LIKE 'org/%'`), which hash buckets cannot prune.
            Recorded for string keys only (lexicographic comparison).
          * `min_seq` — per-file max(seq) stats (`smax`): a file whose
            newest row predates the requested sequence floor cannot
            contribute a row with seq >= min_seq, so incremental/CDC
            readers skip files with no new data (VERDICT r3 #6).

        Files written before stats existed carry no kmin/kmax/smax and are
        kept conservatively. Pruning is safe under merge-on-read LWW: all
        versions of a key share its repo value, so any file holding a
        version of an in-range key intersects the range and is retained;
        for min_seq the caller additionally row-filters seq >= min_seq
        after the LWW resolve (snapshot() does), which drops any stale
        survivor whose true winner lived in a pruned file.

        `buckets` are CURRENT-spec ids. During an online rescale, files
        written under an older (coarser) spec match when the requested
        bucket folds onto theirs: hash % n_old == (hash % n_new) % n_old
        (specs are exact multiples — see _specs), so pruning stays exact
        across the migration.

        O(touched) driver I/O (VERDICT r3 #1): with bucket pruning on
        lakette/2 metadata, manifest shards are pruned at the REF level —
        the `{nb}:{bucket}` keys already say which buckets a shard holds —
        so only the requested buckets' shards are ever opened. Accepts raw
        (non-materialized) metadata; a materialized dict (inline `files`)
        falls back to file-level pruning."""
        meta = metadata if metadata is not None else self._raw_current()
        n = int(meta["n_buckets"])
        n0 = _specs(meta)[0]
        folded: dict[int, set[int] | None] = {}  # spec nb -> requested ids mod nb

        def _want(nb: int) -> set[int] | None:
            # a foreign spec that doesn't divide the current one can only
            # appear mid-crash of a full re-bucket; keep its files
            # conservatively rather than mis-prune
            if nb not in folded:
                folded[nb] = {b % nb for b in buckets} if n % nb == 0 else None
            return folded[nb]

        if "files" in meta:  # materialized / lakette-1 metadata
            files = meta["files"]
            for f in files:
                f.setdefault("nb", n0)
        else:
            files = []
            refs = meta.get("manifests") or {}
            for key in sorted(refs):
                nb, b = self._ref_pair(key, n0)
                if buckets is not None:
                    want = _want(nb)
                    if want is not None and b not in want:
                        continue  # shard pruned by ref key — never opened
                for f in self._read_manifest(refs[key]):
                    f.setdefault("nb", nb)
                    files.append(f)
        if buckets is not None:
            files = [
                f
                for f in files
                if (w := _want(f["nb"])) is None or f["bucket"] in w
            ]
        if key_range is not None:
            lo, hi = key_range
            files = [
                f
                for f in files
                if not (
                    (f.get("kmax") is not None and f["kmax"] < lo)
                    or (f.get("kmin") is not None and f["kmin"] > hi)
                )
            ]
        if min_seq is not None:
            files = [
                f
                for f in files
                if f.get("smax") is None or f["smax"] >= int(min_seq)
            ]
        return files

    def snapshot(
        self,
        spark: SparkSession,
        *,
        include_deleted: bool = False,
        buckets: list[int] | None = None,
        key_range: tuple[str, str] | None = None,
        min_seq: int | None = None,
        metadata: dict | None = None,
        version: int | None = None,
        columns: list[str] | None = None,
        exact_buckets: bool = True,
        col_ranges: dict[str, tuple] | None = None,
        col_eq: dict[str, Any] | None = None,
        ref: str | None = None,
        as_of=None,
    ) -> DataFrame:
        """Read the current committed snapshot (or, with `version`, a past
        one — time travel; fails if vacuum() already collected its files).
        `as_of=` (epoch seconds or datetime) time-travels by wall clock
        instead: the newest commit stamped at or before that instant
        (version_as_of). `ref=` resolves a named tag/branch. The three
        addressing modes are mutually exclusive.

        `buckets` prunes to the given hash buckets, `key_range=(lo, hi)`
        prunes files by min/max stats of the first key column AND filters
        rows to the range (so the result is exactly the range subset),
        `min_seq` prunes files by per-file max(seq) stats AND filters rows
        to seq >= min_seq (the incremental-reader path: files with no new
        data are never opened) — all driver-side planning from file-level
        metadata, no Spark job needed to plan the scan. Reading with the
        *current* schema makes pre-evolution files surface NULL for
        later-added columns.

        `exact_buckets` (default True) makes bucket pruning EXACT during
        an online rescale (ADVICE r3): old-spec files span several
        current-spec buckets, so mid-migration a file-level prune alone
        would surface sibling buckets' rows (possibly stale ones when the
        siblings' delta files were pruned away); a row-level
        hash-bucket filter removes them. Its one internal user,
        operators/merge.py `_rewrite_groups` (the group rewrite of COW
        merge, compact and predicate DML), passes False — it must see and
        re-emit every row of the old-spec files it replaces. No-op
        outside a migration (single spec => file-level pruning is already
        exact).

        `col_ranges={"lang": (lo, hi)}` prunes files by the per-column
        min/max stats the writer records for the table's `stats_cols`
        (Iceberg column-stats analogue) AND filters rows to the ranges.
        Exactness under merge-on-read: a PAYLOAD column can change across
        versions of a key, so pruning a dirty group's file could hide a
        key's true winner and let a kept stale version through the range
        filter — therefore only CLEAN groups' files are stats-pruned;
        dirty groups are read whole and resolved, then row-filtered. A
        fully-compacted (or COW) table prunes everywhere. NULLs never
        match a range (tombstones carry NULL payloads).

        `col_eq={"commit": "abc123"}` prunes files by the per-file BLOOM
        filters the writer records for the table's `bloom_cols` (reverse
        lookups on high-cardinality non-key columns, where min/max stats
        cannot discriminate) AND filters rows to the equalities. Same
        exactness discipline as col_ranges: only CLEAN groups' files are
        bloom-pruned (a dirty group's stale file could hide a key's true
        winner); dirty groups are read whole, resolved, then row-filtered.
        Files without a stored bloom are kept conservatively. NULL values
        are rejected (use a filter — NULL never equals anything). A value
        may also be a list/tuple/set — IN-set semantics: a file survives
        if ANY member might be present (pruned only when every member is
        provably absent), rows filter to membership. This is the
        reverse-lookup shape derive_join's dimension-driven refresh uses
        ("A rows whose fk is one of these N changed B keys").

        `columns` restricts the PAYLOAD columns read (key + engine columns
        always ride along; pass [] for keys-and-metadata only). This
        matters beyond ordinary projection pushdown: the merge-on-read LWW
        resolve packs every selected payload column into one argmax
        struct, which Catalyst cannot prune INTO — a narrow
        query over a wide dirty table would otherwise scan and shuffle the
        full content bodies. Pruning here reaches the parquet scan."""
        if as_of is not None:
            if version is not None or ref is not None:
                raise ValueError(
                    "pass at most one of as_of=, version=, ref="
                )
            version = self.version_as_of(as_of)
        if ref is not None:
            # named time travel: `ref=` resolves a tag/branch pointer
            # (create_ref) to its pinned version — vacuum-safe, because
            # refs pin their version's files against retention
            if version is not None:
                raise ValueError("pass either ref= or version=, not both")
            version = self.ref_version(ref)
        if version is not None and metadata is None:
            metadata = self.metadata_at(version)
        meta = metadata if metadata is not None else self._raw_current()
        schema = T.StructType.fromJson(meta["schema"])
        # column mapping: files and manifest stat/bloom keys live under
        # PHYSICAL names; everything user-facing below is LOGICAL. The two
        # differ only after a rename (identity otherwise — zero overhead).
        cmap = _colmap(meta)
        mapped = any(l != p for l, p in cmap.items())
        if columns is not None:
            keep = (
                set(meta["key_cols"]) | set(columns) | set(META_COL_NAMES)
                | set(col_ranges or {}) | set(col_eq or {})
            )
            unknown = set(columns) - {f.name for f in schema.fields}
            if unknown:
                raise ValueError(f"unknown snapshot columns: {sorted(unknown)}")
            schema = T.StructType([f for f in schema.fields if f.name in keep])
        # column_lww tables: per-file max(seq) pruning is row-level and
        # UNSAFE for per-column resolution — an old file may hold the
        # winning value of a COLUMN for a key whose row-level seq is
        # current (a newer patch row elsewhere), so dropping the file
        # would silently null that column. Keep the (exact) post-resolve
        # row filter below, skip the file-level prune.
        column_lww = bool(meta.get("column_lww"))
        files = self.plan_files(
            buckets=buckets, key_range=key_range,
            min_seq=None if column_lww else min_seq, metadata=meta,
        )
        # merge-on-read: buckets holding delta appends may carry several
        # versions of a key — resolve LWW (max seq) at read time, but ONLY
        # over the dirty KEY GROUPS; clean groups stream straight through
        # with no aggregate. A group is the key space of one bucket under
        # the OLDEST live spec (group = bucket % specs[0]) — with a single
        # spec that is exactly the per-bucket split; during an online
        # rescale it is the finest partition every live file respects, so
        # a delta under the new spec correctly drags the old-spec base
        # files its keys live in into the LWW side. compact() folds dirty
        # groups back to clean, shrinking this path incrementally.
        # A file entry missing the per-file `delta` tag is legacy (pre-tag
        # metadata): when the table-level requires_dedup flag is set, such
        # files must be treated as DIRTY — classifying them clean the moment
        # any tagged file appears would skip LWW on legacy delta buckets and
        # surface stale key versions (ADVICE.md r2).
        n0 = _specs(meta)[0]
        legacy_default = bool(meta.get("requires_dedup", False))
        dirty = {f["bucket"] % n0 for f in files if f.get("delta", legacy_default)}
        clean_files = [f for f in files if f["bucket"] % n0 not in dirty]
        dirty_files = [f for f in files if f["bucket"] % n0 in dirty]
        if col_ranges:
            # column-stats pruning, CLEAN groups only (see docstring):
            # a clean group holds exactly one version per key, so a file
            # whose recorded [min, max] for the column misses the range
            # cannot contribute a surviving row. Missing stats => kept.
            def _hits(f: dict) -> bool:
                cs = f.get("cstats") or {}
                for c, (lo, hi) in col_ranges.items():
                    rng = cs.get(cmap.get(c, c))
                    if rng is not None and rng[0] is not None and (
                        rng[1] < lo or rng[0] > hi
                    ):
                        return False
                return True

            clean_files = [f for f in clean_files if _hits(f)]
        if col_eq:
            for v in col_eq.values():
                vals = v if isinstance(v, (list, tuple, set)) else [v]
                if len(vals) == 0:
                    raise ValueError(
                        "col_eq got an empty value list — an empty IN set "
                        "matches nothing; filter driver-side instead of "
                        "asking the scan to prove a vacuous truth"
                    )
                if any(x is None for x in vals):
                    raise ValueError("col_eq values must be non-NULL")

            # Blooms hash the CANONICAL STRING of the column's NATIVE
            # values, but the row filter below compares under Spark's
            # coercion rules — a type-mismatched lookup (col_eq
            # {"commit": 123} on a string column) can match rows ('0123')
            # whose hashed form str(123) never would, a false-negative
            # prune. Only type-faithful lookups prune; the rest keep
            # every file and stay exact through the row filter.
            def _typed(c: str, v) -> bool:
                vals = v if isinstance(v, (list, tuple, set)) else [v]
                try:
                    ft = schema[c].dataType
                except KeyError:
                    return False
                if isinstance(ft, T.StringType):
                    return all(isinstance(x, str) for x in vals)
                if isinstance(ft, (T.LongType, T.IntegerType,
                                   T.ShortType, T.ByteType)):
                    return all(
                        isinstance(x, int) and not isinstance(x, bool)
                        for x in vals
                    )
                return False

            bloomable = {
                cmap.get(c, c): v for c, v in col_eq.items() if _typed(c, v)
            }
            if bloomable:
                clean_files = self._bloom_prune(clean_files, bloomable)

        if mapped:
            # read under physical names, then project back to logical —
            # the rename itself never touches data, so files written
            # before and after it read through the same two lines
            phys_schema = T.StructType([
                T.StructField(cmap.get(f.name, f.name), f.dataType, f.nullable)
                for f in schema.fields
            ])

            def _read(fs):
                return spark.read.schema(phys_schema).parquet(
                    *[os.path.join(self.root, f["path"]) for f in fs]
                ).select(*[
                    F.col(cmap.get(f.name, f.name)).alias(f.name)
                    for f in schema.fields
                ])
        else:
            def _read(fs):
                return spark.read.schema(schema).parquet(
                    *[os.path.join(self.root, f["path"]) for f in fs]
                )

        parts = []
        if clean_files:
            parts.append(_read(clean_files))
        if dirty_files:
            # the engine's one LWW resolver (operators/merge.py): the
            # row-level argmax, or per-column LWW by stored writer seqs on
            # column_lww tables — one single-exchange aggregate either way
            from ..operators.merge import resolve

            payload = [
                f.name for f in schema.fields
                if f.name not in meta["key_cols"] and f.name not in META_COL_NAMES
            ]
            parts.append(resolve(
                _read(dirty_files), meta["key_cols"], payload, column_lww=column_lww
            ))
        if not parts:
            df = spark.createDataFrame([], schema)
        elif len(parts) == 1:
            df = parts[0]
        else:
            df = parts[0].unionByName(parts[1])
        if key_range is not None:
            df = df.filter(F.col(meta["key_cols"][0]).between(*key_range))
        if col_ranges:
            for c, (lo, hi) in col_ranges.items():
                df = df.filter(F.col(c).between(F.lit(lo), F.lit(hi)))
        if col_eq:
            # exact under bloom pruning: any pruned file DEFINITELY lacked
            # the value (no false negatives), and dirty groups were read
            # whole — this row filter is what makes the result exact
            for c, v in col_eq.items():
                if isinstance(v, (list, tuple, set)):
                    df = df.filter(F.col(c).isin([x for x in v]))
                else:
                    df = df.filter(F.col(c) == F.lit(v))
        if min_seq is not None:
            # exactness under smax pruning: a pruned file only ever holds
            # rows with seq < min_seq, so any stale survivor the pruned
            # winner would have defeated also carries seq < min_seq and is
            # dropped right here (see plan_files docstring)
            df = df.filter(F.col("seq") >= F.lit(int(min_seq)))
        if (
            exact_buckets
            and buckets is not None
            and len(_specs(meta)) > 1
        ):
            n = int(meta["n_buckets"])
            bexpr = F.pmod(
                F.xxhash64(*[F.col(c) for c in meta["key_cols"]]), F.lit(n)
            ).cast("int")
            df = df.filter(bexpr.isin([int(b) for b in buckets]))
        if not include_deleted:
            df = df.filter(~F.coalesce(F.col("deleted"), F.lit(False))).drop("deleted")
        return df

    @staticmethod
    def _bloom_prune(files: list[dict], col_eq: dict[str, Any]) -> list[dict]:
        """Drop files whose stored bloom filters PROVE a col_eq value is
        absent (lakette/bloom.py). Missing filters keep the file; a bloom
        hit keeps it too (possible false positive — the row filter in
        snapshot() makes the result exact). Driver-side, pure metadata."""
        from .bloom import might_contain

        def _keep(f: dict) -> bool:
            blooms = f.get("bloom") or {}
            for c, v in col_eq.items():
                vals = v if isinstance(v, (list, tuple, set)) else [v]
                spec = blooms.get(c)
                # IN-set semantics: prune only when EVERY value is
                # provably absent (no false negatives by construction)
                if spec is not None and not any(
                    might_contain(spec, x) for x in vals
                ):
                    return False
            return True

        return [f for f in files if _keep(f)]

    # ----------------------------------------------------------------- commit

    def _validate_base(
        self, base_version: int, current: dict, my_touched: set[int]
    ) -> None:
        """True optimistic concurrency (ADVICE r2 high): a writer whose job
        ran against snapshot `base_version` may only commit on top of
        interleaving commits that are PROVABLY independent — every commit in
        (base, current] touched buckets disjoint from ours and changed
        neither schema nor bucket count. Anything else is a potential lost
        update: raise CommitConflictError so the caller re-runs its merge
        against the new snapshot (Iceberg's base-snapshot validation).

        `my_touched` and each recorded set are compared under the CURRENT
        spec: ids recorded under a coarser spec nb (touched_nb; legacy
        commits recorded under their then-current n_buckets) expand to
        every current bucket folding onto them. A recording spec that
        does not divide the current one means the bucket function itself
        drifted — conflict."""
        cur_nb = int(current["n_buckets"])
        meta = current
        while meta["version"] > base_version:
            touched = meta.get("touched_buckets")
            if touched is None:
                raise CommitConflictError(
                    f"commit v{meta['version']} landed after our base snapshot "
                    f"v{base_version} and records no touched-bucket set — "
                    "cannot prove independence; re-run against the new snapshot"
                )
            tnb = int(meta.get("touched_nb", meta["n_buckets"]))
            if cur_nb % tnb != 0:
                raise CommitConflictError(
                    f"commit v{meta['version']} recorded touched buckets under "
                    f"spec {tnb}, incommensurable with the current bucket "
                    f"function ({cur_nb}); re-run against the new snapshot"
                )
            expanded = {x for b in touched for x in range(int(b), cur_nb, tnb)}
            if expanded & my_touched:
                raise CommitConflictError(
                    f"commit v{meta['version']} (writer {meta.get('writer')}) "
                    f"touched buckets {sorted(expanded & my_touched)} that "
                    f"this merge (base v{base_version}) also modifies — lost "
                    "update prevented; re-run against the new snapshot"
                )
            parent = meta.get("parent_version")
            if parent is None or parent < base_version:
                raise CommitConflictError(
                    f"base snapshot v{base_version} is not an ancestor of the "
                    f"current version v{current['version']}"
                )
            ppath = os.path.join(self.meta_dir, f"v{parent}.json")
            if not self.fs.exists(ppath):
                raise CommitConflictError(
                    f"history between base v{base_version} and current "
                    f"v{current['version']} was vacuumed; cannot validate"
                )
            meta = self.fs.read_json(ppath)
        # schema / bucket-count drift since our base invalidates the job's
        # plan (files were written under the base schema + bucket function)
        base = meta  # the walk ends exactly at base_version
        if base.get("schema") != current.get("schema"):
            raise CommitConflictError(
                "a concurrent commit changed the table schema since our base "
                f"snapshot v{base_version}; re-run against the new snapshot"
            )
        if _specs(base) != _specs(current):
            raise CommitConflictError(
                "a concurrent commit re-bucketed or rescaled the table since "
                f"our base snapshot v{base_version}; re-run against the new "
                "snapshot"
            )

    def commit_version(
        self,
        *,
        new_files: list[dict],
        replaced_buckets: set[int],
        schema: T.StructType | None = None,
        writer: dict | None = None,
        requires_dedup: bool | None = None,
        n_buckets: int | None = None,
        base_version: int | None = None,
        max_rebase_attempts: int = 10,
        rescale_to: int | None = None,
        colmap: dict[str, str] | None = None,
        meta_updates: dict | None = None,
    ) -> TableCommit:
        """Write metadata v{N+1}: manifest refs of untouched buckets carry
        over verbatim, touched buckets get freshly written per-bucket
        manifests (replaced buckets start empty — copy-on-write; appended
        buckets extend their previous manifest — merge-on-read), the schema
        may evolve additively, and the writer (query_id, epoch) is recorded
        for exactly-once crash detection. Commit = CURRENT swap.

        `base_version` is the snapshot version the caller's job READ. When
        given, interleaving commits are validated (see _validate_base): the
        commit auto-REBASES over provably-independent ones (disjoint
        buckets, same schema/bucketing) and raises CommitConflictError
        otherwise — never a silent lost update. Without it, any concurrent
        commit from the same parent is a conflict (legacy single-writer).

        `replaced_buckets` accepts current-spec bucket ints, or (nb, bucket)
        pairs during an online rescale (operators express replacement at
        whichever spec the replaced files were written under). New file
        entries default to the current spec; `rescale_to` appends a new
        bucket spec (metadata-only — see rescale()).

        Commit I/O is O(touched buckets), never O(table files): the version
        file holds manifest refs + summary counters only, counters are
        maintained incrementally, and only TOUCHED buckets' manifests are
        read (for carry/removal accounting) and written."""
        attempts = 0
        while True:
            raw = self._raw_current()
            cur_nb = int(raw["n_buckets"])
            specs = _specs(raw)
            n0 = specs[0]
            out_nb = int(n_buckets) if n_buckets is not None else cur_nb
            new_specs = list(specs)
            if rescale_to is not None:
                r = int(rescale_to)
                if r <= cur_nb or r % cur_nb != 0:
                    raise ValueError(
                        f"rescale target {r} must be a strict multiple of the "
                        f"current bucket count {cur_nb} (multiples keep old "
                        "buckets recoverable: hash%old == (hash%new)%old)"
                    )
                new_specs = specs + [r]
                out_nb = r

            files = [dict(f) for f in new_files]
            for f in files:
                f.setdefault("nb", out_nb)
            replaced_pairs = {
                (int(b[0]), int(b[1])) if isinstance(b, (tuple, list)) else (cur_nb, int(b))
                for b in replaced_buckets
            }
            my_pairs = replaced_pairs | {(f["nb"], f["bucket"]) for f in files}
            # conflict footprint, expressed under the current spec (a pair
            # under a coarser spec covers every current bucket folding onto
            # it — the footprint widens automatically during migration)
            my_touched_cur: set[int] = set()
            for nb, b in my_pairs:
                if cur_nb % nb == 0:
                    my_touched_cur.update(range(b, cur_nb, nb))
                else:  # foreign spec (full re-bucket): everything conflicts
                    my_touched_cur.update(range(cur_nb))
            if base_version is not None and raw["version"] != base_version:
                self._validate_base(base_version, raw, my_touched_cur)

            counters = self._counters(raw)

            # --- per-bucket manifests: only TOUCHED pairs are read/written
            prev_refs: dict[str, str] = dict(raw.get("manifests") or {})
            refs: dict[str, str] = {}
            carried: dict[tuple[int, int], list[dict]] = {}
            removed_files = removed_rows = removed_delta = 0
            removed_by_spec: dict[int, int] = {}

            def _account_removed(fs: list[dict]) -> None:
                nonlocal removed_files, removed_rows, removed_delta
                removed_files += len(fs)
                removed_rows += sum(f["rows"] for f in fs)
                removed_delta += sum(1 for f in fs if f.get("delta"))
                for f in fs:
                    nb = _file_nb(f, n0)
                    removed_by_spec[nb] = removed_by_spec.get(nb, 0) + 1

            for key, ref in prev_refs.items():
                pair = self._ref_pair(key, n0)
                if pair not in my_pairs:
                    refs[key] = ref
                    continue
                fs = [dict(f) for f in self._read_manifest(ref)]
                for f in fs:
                    f.setdefault("nb", pair[0])
                if pair in replaced_pairs:
                    _account_removed(fs)
                else:
                    carried[pair] = fs  # appended-to bucket (MOR)
            # lakette/1 upgrade: inline-file buckets gain manifests lazily —
            # untouched ones are sharded out once, here
            if "files" in raw:
                legacy: dict[tuple[int, int], list[dict]] = {}
                for f in raw["files"]:
                    f = dict(f)
                    f.setdefault("nb", n0)
                    legacy.setdefault((f["nb"], f["bucket"]), []).append(f)
                for pair, fs in legacy.items():
                    if pair in replaced_pairs:
                        _account_removed(fs)
                    elif pair in my_pairs:
                        carried.setdefault(pair, []).extend(fs)
                    else:
                        key = f"{pair[0]}:{pair[1]}"
                        if key not in refs:
                            refs[key] = self._write_manifest(pair, fs)

            if out_nb != cur_nb and rescale_to is None and (refs or carried):
                raise ValueError(
                    "re-bucketing requires replacing every bucket in the same "
                    "commit (carried-over files would disagree with the new "
                    "bucket function)"
                )

            # per-bucket summary stats ride the commit incrementally, like
            # the totals: untouched pairs carry over, touched pairs are
            # recomputed from the entries in hand — never an O(table) read
            prev_stats = self._bucket_stats(raw)
            bucket_stats = {
                k: list(v)
                for k, v in prev_stats.items()
                if self._ref_pair(k, n0) not in my_pairs
            }
            by_pair_new: dict[tuple[int, int], list[dict]] = {}
            for f in files:
                by_pair_new.setdefault((f["nb"], f["bucket"]), []).append(f)
            for pair in sorted(my_pairs):
                entries = carried.get(pair, []) + by_pair_new.get(pair, [])
                key = f"{pair[0]}:{pair[1]}"
                # (a legacy plain-form key for this pair cannot be in refs:
                # the carry loop above only kept keys whose pair is NOT in
                # my_pairs, so touched pairs always re-key spec-qualified)
                if entries:
                    refs[key] = self._write_manifest(pair, entries)
                    bucket_stats[key] = [
                        len(entries),
                        sum(f["rows"] for f in entries),
                        sum(1 for f in entries if f.get("delta")),
                        sum(f["rows"] for f in entries if f.get("delta")),
                    ]
                else:
                    refs.pop(key, None)  # bucket emptied out

            # --- incremental summary counters (never O(table) reads)
            total_files = counters["total_files"] - removed_files + len(files)
            total_rows = (
                counters["total_rows"] - removed_rows + sum(f["rows"] for f in files)
            )
            total_delta = (
                counters["total_delta_files"]
                - removed_delta
                + sum(1 for f in files if f.get("delta"))
            )
            spec_files = {int(k): int(v) for k, v in counters["spec_files"].items()}
            for nb, cnt in removed_by_spec.items():
                spec_files[nb] = spec_files.get(nb, 0) - cnt
            for f in files:
                spec_files[f["nb"]] = spec_files.get(f["nb"], 0) + 1
            if out_nb != cur_nb and rescale_to is None:
                new_specs = [out_nb]  # full re-bucket resets the spec chain
            # auto-collapse: a spec with no live files left is fully
            # migrated — drop it (the chain stays divisibility-ordered)
            new_specs = [
                nb for nb in new_specs if spec_files.get(nb, 0) > 0 or nb == out_nb
            ]
            spec_files = {
                str(nb): n for nb, n in sorted(spec_files.items()) if n > 0 or nb == out_nb
            }

            new_meta = {k: v for k, v in raw.items() if k not in ("files",)}
            new_meta["format"] = "lakette/2"
            new_meta["parent_version"] = raw["version"]
            new_meta["version"] = raw["version"] + 1
            new_meta["snapshot_id"] = raw["snapshot_id"] + 1
            new_meta["manifests"] = refs
            new_meta["bucket_stats"] = bucket_stats
            new_meta["total_files"] = total_files
            new_meta["total_rows"] = total_rows
            new_meta["total_delta_files"] = total_delta
            new_meta["spec_files"] = spec_files
            new_meta["bucket_specs"] = new_specs
            new_meta["n_buckets"] = out_nb
            new_meta["touched_buckets"] = sorted(my_touched_cur)
            new_meta["touched_nb"] = cur_nb
            if colmap is not None and schema is None:
                raise ValueError("colmap= requires schema= (they commit together)")
            if schema is not None:
                new_meta["schema"] = json.loads(schema.json())
                # reconcile the column mapping with the new schema: kept
                # logicals keep their physical, NEW logicals get the first
                # free physical (their own name unless a retired/live twin
                # exists — then a versioned id, so dropped-column data never
                # resurrects under a re-added name), and physicals that lose
                # their logical are RETIRED. Callers that change the
                # logical<->physical relation itself (rename_column, restore
                # across a rename) pass `colmap` explicitly and are
                # authoritative; retirement reconciliation still runs.
                old_cm = _colmap(raw)
                retired = list(raw.get("retired_cols") or [])
                field_names = [
                    f.name for f in schema.fields if f.name not in META_COL_NAMES
                ]
                if colmap is not None:
                    new_cm = dict(colmap)
                else:
                    kept = {l: p for l, p in old_cm.items() if l in set(field_names)}
                    # physicals being dropped by THIS commit are already
                    # off-limits for the new columns it adds
                    dropping = [
                        p for l, p in old_cm.items() if l not in set(field_names)
                    ]
                    new_cm = _extend_colmap(kept, retired + dropping, field_names)
                live_phys = set(new_cm.values())
                for p in old_cm.values():
                    if p not in live_phys and p not in retired:
                        retired.append(p)
                new_meta["colmap"] = new_cm
                new_meta["retired_cols"] = retired
            # derived, not declared: true iff any live file is a MOR delta —
            # kept for observability; the scan itself uses per-file tags
            new_meta["requires_dedup"] = (
                requires_dedup if requires_dedup is not None else total_delta > 0
            )
            new_meta["writer"] = writer
            if meta_updates:
                # declared-name lists (key_cols/cluster_by/stats_cols/
                # bloom_cols) that must move with a rename/drop land in the
                # SAME CAS — version files stay immutable, readers never
                # see a torn name set
                allowed = {"key_cols", "cluster_by", "stats_cols", "bloom_cols",
                           "constraints"}
                bad = set(meta_updates) - allowed
                if bad:
                    raise ValueError(f"meta_updates keys not allowed: {sorted(bad)}")
                new_meta.update(meta_updates)
            # wall-clock commit stamp (history_df / audit surface) —
            # informational only: ordering and correctness ride the version
            # chain, never this clock
            new_meta["committed_at"] = time.time()
            name = f"v{new_meta['version']}.json"
            path = os.path.join(self.meta_dir, name)
            # exclusive=True is the CAS: a racing commit of the same version
            # number loses cleanly instead of clobbering the winner.
            try:
                self._put_exclusive(path, new_meta)
            except CommitConflictError:
                # One benign case: OUR OWN orphan from a crash between the
                # version-file write and the CURRENT swap (CURRENT still
                # points at the parent, so epoch_committed didn't gate the
                # retry). The retry may reclaim it; the crashed attempt's
                # data files become unreferenced orphans (vacuum's concern).
                #
                # Stamp-match reclaim is safe ONLY because a shared writer
                # stamp means the same LOGICAL change (ADVICE r4 #1): for
                # exactly-once ingest stamps {query_id, epoch}, two writers
                # sharing the stamp are by contract committing the SAME
                # epoch batch, so replacing one attempt's metadata with the
                # other's is an idempotent re-commit, not a lost update —
                # even if the orphan's creator is still alive and later
                # swaps CURRENT, the epoch lands exactly once. Stamps whose
                # holders may commit DIFFERENT content from the same base
                # (compact: bucket subsets / output specs can differ) MUST
                # carry a per-invocation nonce (operators/merge.py compact)
                # so twins never match and fall to the conflict path.
                import time as _time

                try:
                    orphan = self.fs.read_json(path)
                except (OSError, json.JSONDecodeError):
                    orphan = {}  # unreadable: treat as foreign, age-gate below
                try:
                    orphan_age = _time.time() - self.fs.mtime(path)
                except OSError:
                    orphan_age = 0.0
                reclaim = (
                    writer is not None
                    and orphan.get("writer") == writer
                    and orphan.get("parent_version") == raw["version"]
                    and self._raw_current()["version"] == raw["version"]
                )
                if reclaim and orphan_age <= 2.0:
                    # Crash-orphan vs live-twin disambiguation (ADVICE r3):
                    # a LIVE twin sharing our writer stamp swaps CURRENT
                    # within moments of its exclusive create. Wait out only
                    # the remainder of a short create->swap window, polling
                    # CURRENT; if it advances the twin was alive (conflict
                    # path — the caller's epoch gate then skips). Past the
                    # window the same-logical-change argument above makes
                    # the overwrite idempotent either way.
                    deadline = _time.monotonic() + (2.0 - orphan_age)
                    while _time.monotonic() < deadline:
                        if self._raw_current()["version"] != raw["version"]:
                            reclaim = False
                            break
                        _time.sleep(0.02)
                    reclaim = reclaim and (
                        self._raw_current()["version"] == raw["version"]
                    )
                if reclaim:
                    self.fs.put_json(path, new_meta)
                else:
                    attempts += 1
                    if base_version is not None and attempts < max_rebase_attempts:
                        # the CAS winner swaps CURRENT immediately after its
                        # exclusive create — give it a moment before
                        # concluding the racer crashed mid-commit
                        deadline = _time.monotonic() + 2.0
                        while _time.monotonic() < deadline:
                            if self._raw_current()["version"] > raw["version"]:
                                break
                            _time.sleep(0.02)
                        if self._raw_current()["version"] > raw["version"]:
                            continue  # reload + re-validate + rebase
                    # DEAD-CREATOR fallback (ADVICE r4 #1): a writer that
                    # crashed between its exclusive create and CURRENT swap
                    # would otherwise wedge this version number for every
                    # OTHER writer until vacuum's 24 h retention. Any writer
                    # may reclaim once the orphan is older than the reclaim
                    # grace (default 60 s, LAKETTE_RECLAIM_GRACE env) — the
                    # documented upper bound on how long a LIVE writer may
                    # stall between create and swap (GC pause, steal burst);
                    # raise it for environments with longer worst-case
                    # stalls. A short CURRENT re-check closes the window
                    # where the creator swapped while we decided.
                    grace = float(os.environ.get("LAKETTE_RECLAIM_GRACE", "60"))
                    try:
                        orphan_age = _time.time() - self.fs.mtime(path)
                    except OSError:
                        orphan_age = 0.0
                    dead = (
                        orphan_age > grace
                        and orphan.get("parent_version") == raw["version"]
                        and self._raw_current()["version"] == raw["version"]
                    )
                    if dead:
                        _time.sleep(0.1)  # creator-swapped-just-now window
                        dead = self._raw_current()["version"] == raw["version"]
                    if not dead:
                        raise
                    self.fs.put_json(path, new_meta)
            # crash-window healing (code-review r3): this commit is about to
            # overwrite the PREDECESSOR's writer stamp — if its exactly-once
            # marker never got written (crash between its commit and marker),
            # persist it now, or the stamp's replacement would re-open the
            # predecessor epoch for replay (at-least-once regression).
            prev_w = raw.get("writer")
            if prev_w and prev_w.get("query_id") is not None:
                mpath = self._marker_path(prev_w["query_id"], int(prev_w["epoch"]))
                if not self.fs.exists(mpath):
                    self.write_epoch_marker(
                        prev_w["query_id"], int(prev_w["epoch"]), raw["snapshot_id"]
                    )
            self._swap_current(name)
            return TableCommit(new_meta["version"], new_meta["snapshot_id"])

    # --------------------------------------------------- online bucket rescale

    def rescale(self, n_buckets_new: int, *, writer: dict | None = None) -> TableCommit:
        """Grow the bucket count WITHOUT rewriting the table — the 100 TB
        growth path (Iceberg partition-spec evolution, specialized to hash
        buckets). One metadata-only commit appends the new spec; existing
        files stay valid under their recorded spec because the target is a
        strict multiple of the current count (old bucket = new bucket mod
        n_old, so key->file pruning stays exact across the migration).

        From the next commit on, all writes land under the new spec.
        Migration is a side effect of normal operation: a COW merge or a
        compaction touching a key group rewrites that group's old-spec
        files under the new spec, and the commit auto-collapses the old
        spec once its last file is gone (see migration_status()). Contrast
        with compact(n_buckets=...), the full-rewrite path — that one
        allows arbitrary targets but rewrites every row in one commit.

        A writer whose job read a pre-rescale snapshot gets a clean
        CommitConflictError (spec drift) and re-runs — never a silent
        mis-bucketed commit."""
        meta = self._raw_current()
        return self.commit_version(
            new_files=[],
            replaced_buckets=set(),
            writer=writer or {"query_id": "__rescale__", "epoch": meta["version"]},
            base_version=meta["version"],
            rescale_to=n_buckets_new,
        )

    def migration_status(self) -> dict[str, Any]:
        """Progress of an online rescale, from counters alone (no I/O
        beyond the version file): live file count per bucket spec.
        `migrated` is True once a single spec remains."""
        raw = self._raw_current()
        counters = self._counters(raw)
        specs = _specs(raw)
        return {
            "bucket_specs": specs,
            "n_buckets": int(raw["n_buckets"]),
            "files_by_spec": {int(k): int(v) for k, v in counters["spec_files"].items()},
            "migrated": len(specs) == 1,
        }

    # ------------------------------------------------- write-audit-publish

    def _staged_path(self, stage_id: str) -> str:
        return os.path.join(self.staged_dir, f"{stage_id}.json")

    def stage_commit(
        self,
        *,
        new_files: list[dict],
        replaced_buckets: set[int],
        schema: T.StructType | None = None,
        writer: dict | None = None,
        requires_dedup: bool | None = None,
    ) -> str:
        """WAP step 1 — STAGE: persist a pending commit's payload under
        metadata/staged/ WITHOUT touching the version chain. Readers of the
        table see nothing; the stager (or an auditor) reads the staged
        state via staged_snapshot(), then publish_staged() makes it the
        table's next version atomically or abort_staged() discards it.

        This is the Iceberg write-audit-publish pattern re-expressed on
        the lakette chain: data files are already durable (the writer
        streamed them executor-side under data/ with final names), so
        staging is one small metadata PUT, auditing is an ordinary pruned
        scan of base+staged files, and publishing is the ordinary CAS
        commit — with full rebase/conflict validation against whatever
        landed meanwhile, exactly as if the writer had committed directly.
        Staged payloads are crash-safe: the record survives the stager's
        death, vacuum() protects the files it references, and a stale
        stage is visible in list_staged() for manual abort.

        Returns the stage id. `replaced_buckets` is normalized to
        (nb, bucket) pairs at stage time so publish is spec-exact even if
        staging happened mid-rescale."""
        raw = self._raw_current()
        cur_nb = int(raw["n_buckets"])
        pairs = [
            [int(b[0]), int(b[1])] if isinstance(b, (tuple, list)) else [cur_nb, int(b)]
            for b in replaced_buckets
        ]
        stage_id = uuid.uuid4().hex[:16]
        record = {
            "stage_id": stage_id,
            "base_version": int(raw["version"]),
            "new_files": [dict(f) for f in new_files],
            "replaced_buckets": sorted(pairs),
            "schema": json.loads(schema.json()) if schema is not None else None,
            "writer": writer,
            "requires_dedup": requires_dedup,
        }
        self.fs.makedirs(self.staged_dir)
        self._put_exclusive(self._staged_path(stage_id), record)
        return stage_id

    def staged_record(self, stage_id: str) -> dict[str, Any]:
        return self.fs.read_json(self._staged_path(stage_id))

    def list_staged(self) -> list[dict[str, Any]]:
        """All pending (un-published, un-aborted) stage records."""
        if not self.fs.isdir(self.staged_dir):
            return []
        return [
            self.fs.read_json(os.path.join(self.staged_dir, fn))
            for fn in sorted(self.fs.listdir(self.staged_dir))
            if fn.endswith(".json")
        ]

    def staged_metadata(self, stage_id: str) -> dict[str, Any]:
        """Materialized metadata of CURRENT ∘ staged-changes — what the
        table WOULD look like if the stage published now. Feed it to
        snapshot(metadata=...) (staged_snapshot does) for audit reads."""
        rec = self.staged_record(stage_id)
        meta = dict(self.current_metadata())
        n0 = _specs(meta)[0]
        cur_nb = int(meta["n_buckets"])
        replaced = {(int(p[0]), int(p[1])) for p in rec["replaced_buckets"]}
        files = [
            f for f in meta["files"]
            if (_file_nb(f, n0), f["bucket"]) not in replaced
        ]
        staged = [dict(f) for f in rec["new_files"]]
        for f in staged:
            f.setdefault("nb", cur_nb)
        meta["files"] = files + staged
        if rec.get("schema"):
            meta["schema"] = rec["schema"]
        if any(f.get("delta") for f in staged):
            meta["requires_dedup"] = True
        meta["staged"] = stage_id
        return meta

    def staged_snapshot(self, spark: SparkSession, stage_id: str, **kw) -> DataFrame:
        """WAP step 2 — AUDIT read: the staged table state as a DataFrame
        (all snapshot() pruning options apply). Run expectations / row
        counts / invariant checks against this before publish_staged()."""
        return self.snapshot(spark, metadata=self.staged_metadata(stage_id), **kw)

    def publish_staged(self, stage_id: str) -> TableCommit:
        """WAP step 3 — PUBLISH: commit the staged payload as the next
        version (full CAS + rebase-over-independent-commits validation via
        commit_version, base = the version the stager READ — an
        overlapping commit landed since staging raises CommitConflictError
        rather than silently clobbering it), then retire the record.

        Crash between commit and record cleanup leaves a published-but-
        listed stage; re-publishing it raises CommitConflictError from the
        base check (its base has moved), and the stale record is safe to
        abort_staged(delete_files=False)."""
        rec = self.staged_record(stage_id)
        schema = (
            T.StructType.fromJson(rec["schema"]) if rec.get("schema") else None
        )
        commit = self.commit_version(
            new_files=rec["new_files"],
            replaced_buckets={(p[0], p[1]) for p in rec["replaced_buckets"]},
            schema=schema,
            writer=rec.get("writer"),
            requires_dedup=rec.get("requires_dedup"),
            base_version=rec["base_version"],
        )
        self.fs.remove(self._staged_path(stage_id))
        return commit

    def abort_staged(self, stage_id: str, *, delete_files: bool = True) -> int:
        """Discard a staged commit. With delete_files (default), its new
        data files — never referenced by any version — are removed eagerly
        (paranoia-checked against CURRENT's reference set first); without,
        they are left for vacuum(). Returns files removed."""
        rec = self.staged_record(stage_id)
        removed = 0
        if delete_files:
            referenced = {f["path"] for f in self.current_metadata()["files"]}
            for f in rec["new_files"]:
                if f["path"] in referenced:
                    continue  # published elsewhere — never delete live data
                try:
                    self.fs.remove(os.path.join(self.root, f["path"]))
                    removed += 1
                except OSError:
                    pass
        self.fs.remove(self._staged_path(stage_id))
        return removed

    # ---------------------------------------------------------- epoch markers

    def _marker_path(self, query_id: str, epoch: int) -> str:
        return os.path.join(self.epochs_dir, query_id, f"{epoch}.json")

    def epoch_committed(self, query_id: str, epoch: int) -> bool:
        """Idempotence gate. True if the marker exists, OR the current
        metadata was written by exactly this (query_id, epoch) — the
        crash-between-commit-and-marker window (SURVEY.md §7 hard-point 2)."""
        if self.fs.exists(self._marker_path(query_id, epoch)):
            return True
        w = self._raw_current().get("writer")  # no manifest loads on this path
        return bool(w and w.get("query_id") == query_id and w.get("epoch") == epoch)

    def write_epoch_marker(self, query_id: str, epoch: int, snapshot_id: int) -> None:
        self.fs.makedirs(os.path.join(self.epochs_dir, query_id))
        self.fs.put_json(
            self._marker_path(query_id, epoch),
            {"query_id": query_id, "epoch": epoch, "snapshot_id": snapshot_id},
        )

    # ----------------------------------------------------------------- stats

    def stats(self) -> dict[str, Any]:
        """Operational table stats from metadata alone (no Spark job):
        per-KEY-GROUP rows/files/delta backlog plus table-level skew — what
        an operator dashboards and what compaction planning reads. A group
        is a bucket of the oldest live spec (== the bucket itself outside a
        migration), the finest unit every live file respects."""
        meta = self._raw_current()
        n0 = _specs(meta)[0]
        per: dict[int, dict[str, int]] = {}
        for key, (nf, rows, ndf, drows) in self._bucket_stats(meta).items():
            nb, b = self._ref_pair(key, n0)
            e = per.setdefault(
                b % n0,
                {"files": 0, "rows": 0, "delta_files": 0, "delta_rows": 0},
            )
            e["files"] += nf
            e["rows"] += rows
            e["delta_files"] += ndf
            e["delta_rows"] += drows
        counts = sorted(e["rows"] for e in per.values()) or [0]
        median = counts[len(counts) // 2] or 1
        return {
            "version": meta["version"],
            "snapshot_id": meta["snapshot_id"],
            "n_buckets": meta["n_buckets"],
            "bucket_specs": _specs(meta),
            "total_rows": sum(counts),
            "total_files": sum(e["files"] for e in per.values()),
            "delta_files": sum(e["delta_files"] for e in per.values()),
            "delta_rows": sum(e["delta_rows"] for e in per.values()),
            "bucket_skew": round(counts[-1] / median, 2),
            "buckets": {b: per[b] for b in sorted(per)},
        }

    # ------------------------------------------- operational-file retention

    def expire_epochs(self, *, keep_last: int = 1000) -> dict[str, int]:
        """Retention for per-epoch operational files (code-review r3): a
        continuous ingest writes one marker + one lineage parquet + one
        metrics record per epoch forever; this removes all three for
        epochs below (max epoch - keep_last) per query_id.

        Safety contract: an expired marker re-opens that epoch for replay,
        so call this only with `keep_last` comfortably above the deepest
        replay your checkpoint can demand (Spark replays at most the last
        uncommitted micro-batch; keep_last=1000 is three orders of
        magnitude of slack). Same watermark reasoning as
        compact(drop_tombstones_below=...)."""
        removed = {"markers": 0, "lineage": 0, "metrics": 0}
        if not self.fs.isdir(self.epochs_dir):
            return removed
        for qid in sorted(self.fs.listdir(self.epochs_dir)):
            qdir = os.path.join(self.epochs_dir, qid)
            if not self.fs.isdir(qdir):
                continue
            epochs = sorted(
                int(f[:-5])
                for f in self.fs.listdir(qdir)
                if f.endswith(".json") and f[:-5].isdigit()
            )
            if not epochs:
                continue
            cutoff = epochs[-1] - max(1, keep_last) + 1  # keep this many newest
            for e in epochs:
                if e >= cutoff:
                    break
                self.fs.remove(os.path.join(qdir, f"{e}.json"))
                removed["markers"] += 1
                for d, kind, ext in (
                    (self.lineage_dir, "lineage", "parquet"),
                    (self.metrics_dir, "metrics", "json"),
                ):
                    p = os.path.join(d, f"{qid}-{e:09d}.{ext}")
                    if self.fs.exists(p):
                        self.fs.remove(p)
                        removed[kind] += 1
        return removed

    # ---------------------------------------------------------------- vacuum

    def vacuum(
        self, *, keep_versions: int = 1, grace_seconds: float = 86400.0,
        keep_since: float | None = None, dry_run: bool = False,
    ) -> dict[str, int]:
        """Garbage-collect data files not referenced by the newest
        `keep_versions` reachable versions, plus metadata files of pruned
        or orphaned versions (e.g. a CommitConflictError loser's v{N}.json
        and the data files it promoted before losing the CAS).

        `grace_seconds` is the safety window against IN-FLIGHT commits
        (ADVICE.md r2): a writer racing with vacuum may have just written
        data files and a v{N}.json that CURRENT does not reference *yet*
        (the CURRENT swap comes last). Anything younger than the grace
        window is therefore never collected — the same mtime-retention
        contract as Iceberg's expire_snapshots / remove_orphan_files. The
        default is 24 hours (Iceberg's orphan-file-retention order of
        magnitude, ADVICE r3): it must exceed the WRITE PHASE of the
        slowest possible concurrent COW/compaction job, whose earliest
        data files age the whole time the job runs. Pass a smaller window
        (or 0) only when no writer can be live — e.g. the single-writer
        ingest loop vacuuming synchronously between its own epochs.

        `keep_since` (epoch seconds) adds WALL-CLOCK retention on top of
        the version count — every version stamped committed_at >= the
        instant survives, so `vacuum(keep_since=now - 7*86400)` is
        Iceberg's `expire_snapshots(older_than=)`: time travel
        (`snapshot(as_of=)`/`version_as_of`) keeps working across the whole
        retained window regardless of commit frequency. Pre-stamp-era
        versions have no committed_at and are never retained by this rule
        (only by keep_versions / refs).

        Driver-side file ops only. At object-store scale this would be a
        manifest diff + batched deletes; the referenced-set computation is
        identical. Time travel beyond `keep_versions` stops working — same
        contract as Iceberg's expire_snapshots.

        `dry_run=True` computes and COUNTS the full removal set without
        deleting anything — the pre-flight a human runs before a retention
        change (the removal decision logic is shared by construction, not
        re-implemented)."""
        import time as _time

        keep_versions = max(1, keep_versions)
        now = _time.time()

        def _young(path: str) -> bool:
            try:
                return now - self.fs.mtime(path) < grace_seconds
            except OSError:
                return True  # vanished mid-scan: leave it alone
        history = self.history()
        kept_meta = history[:keep_versions]
        if keep_since is not None:
            # wall-clock retention: every stamped version inside the window
            # survives in addition to the newest keep_versions (history is
            # newest-first, so this extends the kept prefix; unstamped
            # pre-stamp-era versions never match this rule)
            head = {h["version"] for h in kept_meta}
            kept_meta = kept_meta + [
                h for h in history
                if h["version"] not in head
                and h.get("committed_at") is not None
                and h["committed_at"] >= keep_since
            ]
        kept_versions = {h["version"] for h in kept_meta}
        reachable = {h["version"] for h in history}
        # refs (tags/branches) PIN their versions: a tagged snapshot is a
        # durable reproducibility handle, so its metadata + data files
        # survive retention until the ref is dropped (create_ref docstring)
        ref_versions = {
            r["version"] for r in self.list_refs()
        } & reachable - kept_versions
        kept_versions |= ref_versions
        kept_meta = kept_meta + [{"version": v} for v in sorted(ref_versions)]
        referenced: set[str] = set()
        referenced_manifests: set[str] = set()
        for h in kept_meta:
            meta = self.metadata_at(h["version"])
            referenced.update(f["path"] for f in meta["files"])
            referenced_manifests.update((meta.get("manifests") or {}).values())
        # staged (write-audit-publish) commits reference data files no
        # version knows about yet — a long audit must never lose its files
        # to a concurrent vacuum, so stage records pin them like a version
        for rec in self.list_staged():
            referenced.update(f["path"] for f in rec["new_files"])

        removed_data = 0
        for fn in sorted(self.fs.listdir(self.data_dir)):
            rel = os.path.join("data", fn)
            full = os.path.join(self.data_dir, fn)
            if fn.endswith(".parquet") and rel not in referenced and not _young(full):
                if not dry_run:
                    self.fs.remove(full)
                removed_data += 1
        removed_meta = 0
        for fn in sorted(self.fs.listdir(self.meta_dir)):
            m = fn.removeprefix("v").removesuffix(".json")
            if not fn.startswith("v") or not fn.endswith(".json") or not m.isdigit():
                continue
            v = int(m)
            full = os.path.join(self.meta_dir, fn)
            if (
                v not in kept_versions
                and (v not in reachable or v < min(kept_versions))
                and not _young(full)
            ):
                if not dry_run:
                    self.fs.remove(full)
                removed_meta += 1
        removed_manifests = 0
        if self.fs.isdir(self.manifests_dir):
            for fn in sorted(self.fs.listdir(self.manifests_dir)):
                rel = os.path.join("metadata", "manifests", fn)
                full = os.path.join(self.manifests_dir, fn)
                if (
                    fn.endswith(".json")
                    and rel not in referenced_manifests
                    and not _young(full)
                ):
                    if not dry_run:
                        self.fs.remove(full)
                        _MANIFEST_CACHE.pop(full, None)
                    removed_manifests += 1
        return {
            "removed_data_files": removed_data,
            "removed_metadata_files": removed_meta,
            "removed_manifest_files": removed_manifests,
            "kept_versions": len(kept_versions),
            "dry_run": dry_run,
        }
