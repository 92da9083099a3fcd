"""The three benchmark workloads.

Each workload drives the engine only through its public calls, from one
client thread (live_cow_skewed adds one generator thread that writes
segments on a fixed schedule). A workload has three phases:

  prepare(rep)  input generation and the driver-side oracle; repeated
                several times by the runner, which keeps the last
                repetition's inputs;
  warm()        base-table load and one untimed pass over the timed path;
  run()         the timed window of `seconds`, then untimed checks.

Every operation counts in `rec.attempted`; an exception or a result that
differs from the driver-side oracle counts in `rec.failed`.

Why these three (see NOTES.md for the layer map):
  backfill_mor     the north-star replay path: file-stream source scan, MOR
                   append and compaction do the work; per-epoch fixed costs
                   barely show.
  live_cow_skewed  open-loop tail of a live log over a preloaded table:
                   per-epoch fixed cost, copy-on-write rewrite amplification
                   and adaptive salting on a hot repo dominate.
  read_mix_mor     closed-loop reads beside small MOR writes: driver-side
                   planning, the merge-on-read resolve and Spark's
                   per-query fixed cost dominate.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from forklift_spark import changelog
from forklift_spark.changelog import ChangelogSpec, expected_final_state, generate_changelog
from forklift_spark.lakette.table import LaketteTable
from forklift_spark.operators import merge as merge_mod
from forklift_spark.sqlfront import SqlFrontend
from forklift_spark.streaming import ingest as ingest_mod

SCAN_SQL = "SELECT lang, COUNT(*) AS n FROM bench GROUP BY lang"
ROW_COLS = ["repo", "path", "commit", "lang", "content", "seq"]
N_BUCKETS = 4

#: workload sizes; "toy" is the smoke-test scale
SCALES = {
    "full": {
        "backfill_events": 100_000, "backfill_seg_rows": 2_000, "backfill_epochs": 8,
        "live_base_events": 20_000, "live_repos": 200, "live_paths": 100,
        "live_interval_s": 0.2, "live_seg_rows": 600,
        "read_base_events": 40_000, "read_repos": 20, "read_paths": 1_000,
        "read_preload_events": 2_000, "read_write_events": 200, "read_write_every": 10,
        "backfill_probe": (16, 5), "live_probe": (32, 10), "warm_probe": (3, 1),
    },
    "toy": {
        "backfill_events": 8_000, "backfill_seg_rows": 500, "backfill_epochs": 4,
        "live_base_events": 4_000, "live_repos": 40, "live_paths": 50,
        "live_interval_s": 0.25, "live_seg_rows": 100,
        "read_base_events": 3_000, "read_repos": 5, "read_paths": 200,
        "read_preload_events": 300, "read_write_events": 50, "read_write_every": 5,
        "backfill_probe": (4, 1), "live_probe": (4, 1), "warm_probe": (2, 1),
    },
}


@dataclass
class Recorder:
    """Samples, counters and the op/failure tally of one run."""

    attempted: int = 0
    failed: int = 0
    samples: dict[str, list[float]] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)
    epochs: list = field(default_factory=list)  # MergeStats of timed writes

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)


class Model:
    """Driver-side oracle: per key, the max-seq event (tombstones kept so a
    later lower-seq event cannot resurrect a deleted key)."""

    def __init__(self) -> None:
        self.rows: dict[tuple[str, str], tuple] = {}

    def apply(self, events: pd.DataFrame) -> None:
        for op, seq, repo, path, commit, lang, content in events[
            ["op", "seq", "repo", "path", "commit", "lang", "content"]
        ].itertuples(index=False):
            cur = self.rows.get((repo, path))
            if cur is None or seq > cur[0]:
                self.rows[(repo, path)] = (int(seq), op, commit, lang, content)

    def live(self, key) -> tuple | None:
        r = self.rows.get(key)
        return None if r is None or r[1] == "D" else r

    def lang_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for seq, op, commit, lang, content in self.rows.values():
            if op != "D":
                out[lang] = out.get(lang, 0) + 1
        return out

    def content_bytes(self) -> int:
        return sum(len(r[4].encode()) for r in self.rows.values() if r[1] != "D")


class Workload:
    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.cfg = SCALES[ctx.scale]
        self.rec = ctx.rec
        self.rng = np.random.default_rng(ctx.seed)
        self.table: LaketteTable | None = None
        self.model = Model()
        self.buckets: dict[tuple[str, str], int] = {}
        self.corrupt_key: tuple[str, str] | None = None

    # ---------------------------------------------------------------- shared

    def _dir(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, *parts)

    def _bucket_map(self, table: LaketteTable, keys: list[tuple[str, str]]) -> None:
        df = self.spark.createDataFrame(keys, "repo string, path string")
        self.buckets = {
            (r.repo, r.path): r.b
            for r in df.select("repo", "path", table.bucket_expr().alias("b")).collect()
        }

    def _corrupt(self) -> None:
        """Self-test of the checker: replace one expected live row's content."""
        if self.ctx.corrupt:
            key = next(k for k in sorted(self.model.rows) if self.model.live(k))
            seq, op, commit, lang, _ = self.model.rows[key]
            self.model.rows[key] = (seq, op, commit, lang, "<deliberately wrong>")
            self.corrupt_key = key

    def lookup(self, table: LaketteTable, key: tuple[str, str], i: int) -> None:
        """Point lookup by (repo, path): snapshot(...) + collect, checked."""
        repo, path = key
        t0 = time.perf_counter()
        try:
            with self.ctx.op(f"lookup-{i}", "lookup"):
                df = table.snapshot(
                    self.spark, buckets=[self.buckets[key]], key_range=(repo, repo)
                )
                with self.ctx.span("collect", "exec") as sp:
                    t1 = time.perf_counter()
                    rows = (
                        df.filter((F.col("repo") == repo) & (F.col("path") == path))
                        .select(*ROW_COLS).collect()
                    )
                    self.rec.add("read_exec_ms", (time.perf_counter() - t1) * 1e3)
                    sp["n"] = len(rows)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            self.rec.check(False, f"lookup {key}: {e!r}"[:300])
            return
        self.rec.add("lookup_ms", (time.perf_counter() - t0) * 1e3)
        exp = self.model.live(key)
        got = [tuple(r) for r in rows]
        want = [] if exp is None else [(repo, path, exp[2], exp[3], exp[4], exp[0])]
        self.rec.check(got == want, f"lookup {key}: got {got[:1]} want {want[:1]}"[:300])

    def scan(self, front: SqlFrontend, i: int) -> None:
        """Full-table aggregate through SqlFrontend.sql + collect, checked."""
        t0 = time.perf_counter()
        try:
            with self.ctx.op(f"scan-{i}", "scan"):
                df = front.sql(SCAN_SQL)
                with self.ctx.span("collect", "exec"):
                    t1 = time.perf_counter()
                    rows = df.collect()
                    self.rec.add("sql_exec_ms", (time.perf_counter() - t1) * 1e3)
        except Exception as e:  # noqa: BLE001
            self.rec.check(False, f"scan: {e!r}"[:300])
            return
        self.rec.add("scan_ms", (time.perf_counter() - t0) * 1e3)
        got = {r["lang"]: r["n"] for r in rows}
        self.rec.check(got == self.model.lang_counts(), f"scan: got {got}")

    def probe(self, table: LaketteTable, counts: tuple[int, int]) -> None:
        """Point lookups and full scans over the table a write phase produced."""
        keys = sorted(self.buckets)
        n_lookups, n_scans = counts
        picks = self.rng.choice(len(keys), size=n_lookups, replace=False)
        if self.corrupt_key is not None:
            picks[0] = keys.index(self.corrupt_key)
        for j, k in enumerate(picks):
            self.lookup(table, keys[k], j)
        front = SqlFrontend(self.spark, {"bench": table})
        for j in range(n_scans):
            self.scan(front, j)

    def warm_probe(self, table: LaketteTable, events: list[pd.DataFrame]) -> None:
        """Untimed probe of a table holding exactly `events`, so the timed
        probe does not pay first-query costs; checked against their oracle."""
        full, self.model = self.model, Model()
        for e in events:
            self.model.apply(e)
        try:
            self.probe(table, self.cfg["warm_probe"])
        finally:
            self.model = full

    def verify(self, table: LaketteTable, expected_df, what: str) -> None:
        """Untimed sha256-exact check of the whole table."""
        try:
            res = ingest_mod.verify_state(self.spark, table, expected_df)
            self.rec.check(res["ok"], f"verify_state {what}: {res}")
        except Exception as e:  # noqa: BLE001
            self.rec.check(False, f"verify_state {what}: {e!r}"[:300])

    def storage(self, table: LaketteTable) -> None:
        """Table-shape counters from stats() and the files under the root."""
        st = table.stats()
        data = meta = 0
        for dirpath, _, files in os.walk(table.root):
            size = sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
            if os.path.commonpath([dirpath, table.data_dir]) == table.data_dir:
                data += size
            else:
                meta += size
        live = self.model.content_bytes()
        self.rec.counts.update(
            {
                "lakette.files": st["total_files"],
                "lakette.delta_files": st["delta_files"],
                "lakette.delta_rows": st["delta_rows"],
                "lakette.space_amp": (data + meta) / live if live else 0.0,
                "lakette.meta_bytes": meta,
            }
        )


def _segment_epochs(ckpt: str) -> dict[str, int]:
    """Segment file name -> micro-batch id, from the file-stream source's
    checkpoint log (sources/0/<batch> and <batch>.compact files)."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _commit_times(table: LaketteTable, query_id: str) -> dict[int, float]:
    """Writer epoch -> committed_at, from the table history."""
    return {
        h["writer"]["epoch"]: h["committed_at"]
        for h in table.history()
        if (h.get("writer") or {}).get("query_id") == query_id
    }


class BackfillMor(Workload):
    """Closed loop, one stream: drain a pre-generated log with
    run_ingest(mode="mor", availableNow), then compact(); repeat into a
    fresh table. The last pass probes its table with the merge-on-read delta
    backlog still in place."""

    name = "backfill_mor"
    #: nominal seconds of one timed pass at full scale on local[4]
    PASS_S = 6

    def spec(self) -> ChangelogSpec:
        n = self.cfg["backfill_events"]
        return ChangelogSpec(
            n_events=n, n_repos=max(20, n // 20_000), paths_per_repo=200,
            hot_repo_fraction=0.3, duplicate_fraction=0.02, disorder_window=256,
            segment_rows=self.cfg["backfill_seg_rows"], seed=self.ctx.seed,
        )

    def prepare(self, rep: int) -> None:
        self.log = self._dir(f"log-{rep}")
        spec = self.spec()
        gen = generate_changelog(spec, self.log)
        self.delivered = gen.n_delivered
        self.n_segments = len(gen.segments)
        self.expected = expected_final_state(spec)
        self.model = Model()
        self.model.apply(self.expected.assign(op="U"))
        self._corrupt()

    def one_pass(self, log: str, i: int, timed: bool, probe=None) -> LaketteTable:
        """Drain `log` into a fresh table, call `probe(table)` while the
        merge-on-read delta backlog is still in place, then compact on the
        select_compaction_candidates plan. The drain plus the compaction is
        the pass's ingest wall."""
        root, ckpt = self._dir(f"table-{i}"), self._dir(f"ckpt-{i}")
        table = ingest_mod.create_entity_table(root, n_buckets=N_BUCKETS)
        if not self.buckets:
            self._bucket_map(table, sorted(self.model.rows))
        per_trigger = max(1, self.n_segments // self.cfg["backfill_epochs"])
        t_wall = time.time()
        t0 = time.perf_counter()
        with self.ctx.op(f"pass-{i}", "backfill_drain"):
            report = ingest_mod.run_ingest(
                self.spark, log, table, ckpt, query_id="backfill",
                max_files_per_trigger=per_trigger, salt_buckets=None, mode="mor",
                dedupe_in_batch=False, timeout_sec=150,
            )
        drain = time.perf_counter() - t0
        if probe is not None:
            probe(table)
        t0 = time.perf_counter()
        with self.ctx.op(f"compact-{i}", "backfill_compact"):
            cands = merge_mod.select_compaction_candidates(table)
            merge_mod.compact(self.spark, table, buckets=cands)
        compact = time.perf_counter() - t0
        seg_epoch = _segment_epochs(ckpt)
        n_segments = sum(1 for f in os.listdir(log) if f.startswith("seg-"))
        self.rec.check(len(seg_epoch) == n_segments, f"pass {i}: segments applied")
        if timed:
            self.rec.add("pass_s", drain + compact)
            self.rec.add("compact_ms", compact * 1e3)
            self.rec.counts["compact.buckets"] = self.rec.counts.get("compact.buckets", 0) + len(cands)
            self.rec.counts["events"] = self.rec.counts.get("events", 0) + self.delivered
            self.rec.epochs.extend(report.epochs)
            for s in report.epochs:
                if not s.skipped:
                    self.rec.add("write_ms", s.wall_sec * 1e3)
            commits = _commit_times(table, "backfill")
            for b in seg_epoch.values():
                self.rec.add("freshness_s", commits[b] - t_wall)
        shutil.rmtree(ckpt, ignore_errors=True)
        return table

    def warm(self) -> None:
        """One untimed pass over the first half of the segments, probed
        against the oracle of those segments."""
        warm_log = self._dir("warm-log")
        os.makedirs(warm_log)
        segs = sorted(f for f in os.listdir(self.log) if f.startswith("seg-"))
        for f in segs[: max(2, len(segs) // 2)]:
            os.link(os.path.join(self.log, f), os.path.join(warm_log, f))
        events = [pd.read_parquet(os.path.join(warm_log, f)) for f in os.listdir(warm_log)]
        table = self.one_pass(warm_log, 0, timed=False,
                              probe=lambda t: self.warm_probe(t, events))
        shutil.rmtree(table.root, ignore_errors=True)

    def run(self) -> None:
        """A fixed number of passes, one per PASS_S of --seconds, so that how
        much a run measures does not depend on how fast it runs; the last
        pass probes its table before compacting it."""
        n = max(1, round(self.ctx.seconds / self.PASS_S))
        table = None
        for i in range(1, n + 1):
            if table is not None:
                shutil.rmtree(table.root, ignore_errors=True)
            last = i == n
            table = self.one_pass(
                self.log, i, timed=True,
                probe=(lambda t: self.probe(t, self.cfg["backfill_probe"])) if last else None,
            )
        self.rec.counts["source.backlog_segments_end"] = 0
        self.storage(table)
        self.verify(table, self.spark.createDataFrame(self.expected), "backfill")


class LiveCowSkewed(Workload):
    """Open loop: one generator thread writes one segment every
    `live_interval_s` while run_ingest(available_now=False, mode="cow",
    salt_buckets="auto") tails the log over a preloaded base table."""

    name = "live_cow_skewed"
    #: applied one at a time before the window, each in its own epoch
    WARM_SEGMENTS = 3

    def specs(self) -> tuple[ChangelogSpec, ChangelogSpec]:
        c = self.cfg
        common = dict(
            n_repos=c["live_repos"], paths_per_repo=c["live_paths"], hot_repo_fraction=0.3,
        )
        base = ChangelogSpec(
            n_events=c["live_base_events"], duplicate_fraction=0.0, disorder_window=64,
            segment_rows=20_000, seed=self.ctx.seed, **common,
        )
        n_segs = int(self.ctx.seconds / c["live_interval_s"]) + self.WARM_SEGMENTS
        live = ChangelogSpec(
            n_events=int(n_segs * c["live_seg_rows"] / 1.02), op_mix=(0.2, 0.7, 0.1),
            duplicate_fraction=0.02, disorder_window=64, segment_rows=c["live_seg_rows"],
            seed=self.ctx.seed + 1, seq_start=base.n_events + 1, **common,
        )
        return base, live

    def prepare(self, rep: int) -> None:
        base, live = self.specs()
        d = self._dir(f"rep-{rep}")
        self.base_log, self.live_log = os.path.join(d, "base"), os.path.join(d, "live")
        self.staged = os.path.join(d, "staged")
        generate_changelog(base, self.base_log)
        self.segments = generate_changelog(live, self.staged).segments
        self.seg_rows = [int(pd.read_parquet(s, columns=["seq"]).shape[0]) for s in self.segments]
        os.makedirs(self.live_log)
        self.table_root = os.path.join(d, "table")
        self.model = Model()
        self.model.apply(changelog._events_frame(base))
        self.model.apply(changelog._events_frame(live))
        self._corrupt()
        self.ckpt = os.path.join(d, "ckpt")

    def _publish(self, i: int) -> float:
        """Move staged segment i into the tailed log (atomic rename)."""
        name = os.path.basename(self.segments[i])
        os.rename(self.segments[i], os.path.join(self.live_log, name))
        return time.time()

    def _wait_applied(self, report, rows: int, q, timeout: float) -> bool:
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            if sum(s.batch_rows for s in report.epochs) >= rows:
                return True
            if q.exception() is not None:
                return False
            time.sleep(0.05)
        return False

    def warm(self) -> None:
        """Load the base table, probe it, then start the stream, let it
        apply the warm segments one epoch each, and stop it (untimed)."""
        self.table = ingest_mod.create_entity_table(self.table_root, n_buckets=N_BUCKETS)
        ingest_mod.replay_batch(self.spark, self.base_log, self.table, query_id="base", mode="cow")
        self._bucket_map(self.table, sorted(self.model.rows))
        self.warm_probe(self.table, [pd.read_parquet(self.base_log)])
        report, q = self._start()
        for i in range(self.WARM_SEGMENTS):
            self._publish(i)
            ok = self._wait_applied(report, sum(self.seg_rows[: i + 1]), q, 120)
            self.rec.check(ok, f"live: warm segment {i} applied")
        self._stop(q)

    def _start(self):
        return ingest_mod.run_ingest(
            self.spark, self.live_log, self.table, self.ckpt, query_id="live",
            max_files_per_trigger=10_000, available_now=False, mode="cow",
            salt_buckets="auto",
        )

    def _stop(self, q) -> None:
        q.stop()
        q.awaitTermination(60)
        self.rec.check(q.exception() is None, f"live: query error {q.exception()}")

    def run(self) -> None:
        interval = self.cfg["live_interval_s"]
        n, w = len(self.segments), self.WARM_SEGMENTS
        due = {}
        late = []

        def generator() -> None:
            t0 = time.time() + interval
            for i in range(w, n):
                due[i] = t0 + (i - w) * interval
                pause = due[i] - time.time()
                if pause > 0:
                    time.sleep(pause)
                late.append(self._publish(i) - due[i])

        gen = threading.Thread(target=generator, name="live-generator")
        with self.ctx.op("window", "live_window"):
            report, q = self._start()  # resumes from the warm-up's checkpoint
            gen.start()
            gen.join()
            # segments on disk that no trigger has picked up yet
            listed = _segment_epochs(self.ckpt)
            backlog = sum(1 for s in os.listdir(self.live_log)
                          if s.startswith("seg-") and s not in listed)
            ok = self._wait_applied(report, sum(self.seg_rows[w:]), q, 90)
        self.rec.check(ok, "live: every segment applied after the window")
        self._stop(q)

        seg_epoch = _segment_epochs(self.ckpt)
        commits = _commit_times(self.table, "live")
        names = [os.path.basename(s) for s in self.segments]
        for i in range(w, n):
            b = seg_epoch.get(names[i])
            ok = b is not None and b in commits
            self.rec.check(ok, f"live: segment {names[i]} committed")
            if ok:
                self.rec.add("freshness_s", commits[b] - due[i])
        timed = [s for s in report.epochs if not s.skipped]
        self.rec.epochs.extend(timed)
        for s in timed:
            self.rec.add("write_ms", s.wall_sec * 1e3)
        last_commit = max(commits.values())
        self.rec.add("pass_s", last_commit - due[w])
        self.rec.counts["events"] = sum(self.seg_rows[w:])
        self.rec.counts["source.backlog_segments_end"] = backlog
        self.rec.samples["gen_late_ms"] = [x * 1e3 for x in late]

        self.probe(self.table, self.cfg["live_probe"])
        self.storage(self.table)
        exp = ingest_mod.expected_final_state_spark(
            self.spark, os.path.dirname(self.base_log) + "/{base,live}"
        )
        if self.ctx.corrupt:
            exp = exp.withColumn(
                "content",
                F.when((F.col("repo") == self.corrupt_key[0]) & (F.col("path") == self.corrupt_key[1]),
                       F.lit("<deliberately wrong>")).otherwise(F.col("content")),
            )
        self.verify(self.table, exp, "live")


class ReadMixMor(Workload):
    """Closed loop, one client: a fixed cycle of point lookups, an
    incremental read, a bloom reverse lookup and a SQL scan, with every Nth
    op a small merge_into(mode="mor") write; compaction on the
    select_compaction_candidates cadence."""

    name = "read_mix_mor"
    CYCLE = ["lookup", "lookup", "incremental", "lookup", "bloom", "lookup", "scan", "lookup"]

    def prepare(self, rep: int) -> None:
        c = self.cfg
        d = self._dir(f"rep-{rep}")
        common = dict(n_repos=c["read_repos"], paths_per_repo=c["read_paths"], hot_repo_fraction=0.3)
        base = ChangelogSpec(n_events=c["read_base_events"], segment_rows=20_000,
                             seed=self.ctx.seed, **common)
        seq = base.n_events + 1
        pre = ChangelogSpec(n_events=c["read_preload_events"], segment_rows=10**9,
                            op_mix=(0.2, 0.7, 0.1), seed=self.ctx.seed + 1, seq_start=seq, **common)
        seq += pre.n_events
        # write batches: one segment each, generated up front
        self.max_writes = 400
        writes = ChangelogSpec(
            n_events=c["read_write_events"] * self.max_writes, segment_rows=c["read_write_events"],
            op_mix=(0.2, 0.7, 0.1), duplicate_fraction=0.02, disorder_window=16,
            seed=self.ctx.seed + 2, seq_start=seq, **common,
        )
        generate_changelog(base, os.path.join(d, "base"))
        generate_changelog(pre, os.path.join(d, "pre"))
        self.write_segs = generate_changelog(writes, os.path.join(d, "writes")).segments
        self.rep_dir = d
        self.model = Model()
        self.model.apply(changelog._events_frame(base))
        self.model.apply(changelog._events_frame(pre))
        self.max_seq = seq - 1
        self.writes = 0
        self.issued: dict[int, float] = {}

    def write(self, i: int) -> None:
        path = self.write_segs[self.writes]
        events = pd.read_parquet(path)
        df = self.spark.read.schema(ingest_mod.CHANGELOG_SCHEMA).parquet(path)
        self.issued[self.writes] = time.time()
        t0 = time.perf_counter()
        try:
            with self.ctx.op(f"write-{i}", "write"):
                stats = merge_mod.merge_into(
                    self.spark, self.table, df, query_id="writer", epoch=self.writes, mode="mor",
                )
        except Exception as e:  # noqa: BLE001
            self.rec.check(False, f"write {i}: {e!r}"[:300])
            return
        self.rec.add("write_ms", (time.perf_counter() - t0) * 1e3)
        self.rec.epochs.append(stats)
        self.rec.counts["events"] = self.rec.counts.get("events", 0) + len(events)
        self.rec.add("pass_s", time.perf_counter() - t0)
        self.model.apply(events)
        self.max_seq = max(self.max_seq, int(events["seq"].max()))
        self.writes += 1
        self.rec.check(stats.batch_rows == len(events), f"write {i}: batch_rows {stats.batch_rows}")

        t0 = time.perf_counter()
        with self.ctx.op(f"compact-{i}", "compact"):
            cands = merge_mod.select_compaction_candidates(self.table)
            if cands:
                merge_mod.compact(self.spark, self.table, buckets=cands)
        if cands:
            self.rec.add("compact_ms", (time.perf_counter() - t0) * 1e3)
            self.rec.counts["compact.buckets"] = self.rec.counts.get("compact.buckets", 0) + len(cands)

    def incremental(self, i: int) -> None:
        floor = self.max_seq - 2 * self.cfg["read_write_events"]
        t0 = time.perf_counter()
        try:
            with self.ctx.op(f"incremental-{i}", "incremental"):
                rows = self.table.snapshot(self.spark, min_seq=floor, columns=[]) \
                    .select("repo", "path", "seq").collect()
        except Exception as e:  # noqa: BLE001
            self.rec.check(False, f"incremental {i}: {e!r}"[:300])
            return
        self.rec.add("incremental_ms", (time.perf_counter() - t0) * 1e3)
        want = {(k[0], k[1], r[0]) for k, r in self.model.rows.items() if r[1] != "D" and r[0] >= floor}
        self.rec.check({tuple(r) for r in rows} == want, f"incremental {i}: {len(rows)} vs {len(want)}")

    def bloom(self, i: int) -> None:
        live = [k for k in sorted(self.model.rows) if self.model.live(k)]
        key = live[int(self.rng.integers(len(live)))]
        seq, _, commit, lang, content = self.model.rows[key]
        t0 = time.perf_counter()
        try:
            with self.ctx.op(f"bloom-{i}", "bloom"):
                rows = self.table.snapshot(self.spark, col_eq={"commit": commit}) \
                    .select("repo", "path", "seq").collect()
        except Exception as e:  # noqa: BLE001
            self.rec.check(False, f"bloom {i}: {e!r}"[:300])
            return
        self.rec.add("bloom_ms", (time.perf_counter() - t0) * 1e3)
        self.rec.check([tuple(r) for r in rows] == [(key[0], key[1], seq)], f"bloom {i}: {rows}")

    def _op(self, i: int) -> None:
        every = self.cfg["read_write_every"]
        if i % every == every - 1:
            return self.write(i)
        kind = self.CYCLE[i % len(self.CYCLE)]
        if kind == "lookup":
            keys = sorted(self.buckets)
            self.lookup(self.table, keys[int(self.rng.integers(len(keys)))], i)
        elif kind == "incremental":
            self.incremental(i)
        elif kind == "bloom":
            self.bloom(i)
        else:
            self.scan(self.front, i)

    def warm(self) -> None:
        """Load the base table plus one uncompacted delta epoch, then run one
        untimed cycle; its write is part of the expected state."""
        c, d = self.cfg, self.rep_dir
        self.table = LaketteTable.create(
            os.path.join(d, "table"), ingest_mod.ENTITY_SCHEMA, ingest_mod.KEY_COLS,
            n_buckets=N_BUCKETS, bloom_cols=["commit"],
        )
        ingest_mod.replay_batch(self.spark, os.path.join(d, "base"), self.table,
                                query_id="base", mode="cow")
        ingest_mod.replay_batch(self.spark, os.path.join(d, "pre"), self.table,
                                query_id="pre", mode="mor")
        self.front = SqlFrontend(self.spark, {"bench": self.table})
        self._bucket_map(self.table, [
            (f"repo_{r:04d}", f"src/mod_{p:04d}.py")
            for r in range(c["read_repos"]) for p in range(c["read_paths"])
        ])
        for i in range(self.cfg["read_write_every"]):
            self._op(i)
        self.issued.clear()

    def run(self) -> None:
        deadline = time.perf_counter() + self.ctx.seconds
        i = 0
        while time.perf_counter() < deadline and self.writes < self.max_writes:
            self._op(i)
            i += 1
        # corrupt only now: a later write could have replaced an earlier pick
        self._corrupt()
        if self.corrupt_key is not None:
            self.lookup(self.table, self.corrupt_key, i)
        commits = _commit_times(self.table, "writer")
        for e, t in self.issued.items():
            self.rec.add("freshness_s", commits[e] - t)
        self.rec.counts["source.backlog_segments_end"] = 0
        self.storage(self.table)
        exp = pd.DataFrame(
            [(k[0], k[1], r[4]) for k, r in self.model.rows.items() if r[1] != "D"],
            columns=["repo", "path", "content"],
        )
        self.verify(self.table, self.spark.createDataFrame(exp), "read_mix")


WORKLOADS = {w.name: w for w in (BackfillMor, LiveCowSkewed, ReadMixMor)}
