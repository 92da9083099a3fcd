"""CDC benchmark: backfill throughput, live-tail freshness and reads beside
writes on local[4].

    python3 perfbench/run.py --workload backfill_mor --seed 1 --seconds 12 --trace 0

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1 runs
the same workload with the layer wrappers and the streaming listener
installed and prints the per-layer metrics. The last stdout line is one JSON
object {correct, attempted, failed, metrics}; the lines before it are a
human-readable table of every metric with its unit. Each run also writes its
raw record (every sample, the set-up breakdown, CPU seconds and steal
jiffies, failures) and, when traced, its spans to perfbench/out/. See
NOTES.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

#: (name, unit) — the order the table prints them in
END_TO_END = [
    ("setup_s", "s"),
    ("ingest_events_per_s", "events/s"),
    ("freshness_p50_s", "s"),
    ("freshness_p90_s", "s"),
    ("lookup_p50_ms", "ms"),
    ("lookup_p90_ms", "ms"),
    ("scan_p50_ms", "ms"),
    ("write_p50_ms", "ms"),
    ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    ("session.start_s", "s"),
    ("source.offset_ms_p50", "ms"),
    ("source.backlog_segments_end", "count"),
    ("ingest.trigger_overhead_ms_p50", "ms"),
    ("ingest.epochs", "count"),
    ("merge.epoch_ms_p50", "ms"),
    ("merge.epoch_ms_max", "ms"),
    ("merge.self_ms_p50", "ms"),
    ("merge.rows_in", "count"),
    ("merge.apply_ratio", "ratio"),
    ("merge.rewrite_amp", "ratio"),
    ("merge.touched_bucket_frac", "ratio"),
    ("merge.key_skew_max", "ratio"),
    ("merge.salted_epochs", "count"),
    ("compact.ms", "ms"),
    ("compact.buckets", "count"),
    ("compact.plan_ms", "ms"),
    ("lakette.commit_ms_p50", "ms"),
    ("lakette.commits", "count"),
    ("lakette.plan_ms_p50", "ms"),
    ("lakette.plan_files_selected_p50", "count"),
    ("lakette.snapshot_build_ms_p50", "ms"),
    ("read.exec_ms_p50", "ms"),
    ("lakette.files", "count"),
    ("lakette.delta_files", "count"),
    ("lakette.delta_rows", "count"),
    ("lakette.space_amp", "ratio"),
    ("lakette.meta_bytes", "bytes"),
    ("sqlfront.compile_ms_p50", "ms"),
    ("sqlfront.exec_ms_p50", "ms"),
    ("host.cpu_util", "ratio"),
    ("host.steal_jiffies", "count"),
    ("gen.late_p99_ms", "ms"),
    ("self_ms.streaming.ingest", "ms"),
    ("self_ms.operators.merge", "ms"),
    ("self_ms.lakette.table", "ms"),
    ("self_ms.sqlfront", "ms"),
    ("self_ms.sources", "ms"),
    ("self_ms.exec", "ms"),
    ("trace.spans", "count"),
]
SETUP_REPS = 3


def pct(values: list[float], q: float) -> float:
    """Percentile by linear interpolation; 0.0 for an empty sample."""
    if not values:
        return 0.0
    v = sorted(values)
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


class Context:
    """What a workload needs from the runner: session, paths, seed, the
    recorder, and span hooks that cost nothing when tracing is off."""

    def __init__(self, args, spark, work: str, tracer) -> None:
        from workloads import Recorder

        self.spark = spark
        self.work = work
        self.seed = args.seed
        self.seconds = args.seconds
        self.scale = args.scale
        self.corrupt = args.corrupt_expected
        self.tracer = tracer
        self.listener = tracer.listener() if tracer else None
        self.rec = Recorder()

    def op(self, op: str, kind: str):
        return self.tracer.operation(op, kind) if self.tracer else contextlib.nullcontext({})

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else contextlib.nullcontext({})


def end_to_end(rec, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    s = rec.samples
    wall = sum(s.get("pass_s", []))
    return {
        "setup_s": setup_s,
        "ingest_events_per_s": rec.counts.get("events", 0) / wall if wall else 0.0,
        "freshness_p50_s": pct(s.get("freshness_s", []), 50),
        "freshness_p90_s": pct(s.get("freshness_s", []), 90),
        "lookup_p50_ms": pct(s.get("lookup_ms", []), 50),
        "lookup_p90_ms": pct(s.get("lookup_ms", []), 90),
        "scan_p50_ms": pct(s.get("scan_ms", []), 50),
        "write_p50_ms": pct(s.get("write_ms", []), 50),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(rec, tracer, n_buckets: int, session_start: float, cpu: dict,
              window_s: float, steal: int) -> dict[str, float]:
    from tracing import self_times

    spans = tracer.spans if tracer else []
    selfs = self_times(spans)
    by = {}
    for sp in spans:
        by.setdefault(sp["name"], []).append(sp)

    def dur_ms(name):
        return [(sp["end"] - sp["start"]) * 1e3 for sp in by.get(name, [])]

    def self_ms(name=None, layer=None):
        return [selfs[sp["id"]] * 1e3 for sp in spans
                if (name is None or sp["name"] == name) and (layer is None or sp["layer"] == layer)]

    progress = [p for p in (tracer.progress if tracer else []) if p["rows"]]
    dm = [p["duration_ms"] for p in progress]
    offset = [d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dm]
    overhead = [d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dm]

    ep = [e for e in rec.epochs if not e.skipped]
    rows_in = sum(e.batch_rows for e in ep)
    cow = [e for e in ep if e.mode_used == "cow"]
    plan = by.get("plan_files", [])
    c = rec.counts
    out = {
        "session.start_s": session_start,
        "source.offset_ms_p50": pct(offset, 50),
        "source.backlog_segments_end": c.get("source.backlog_segments_end", 0),
        "ingest.trigger_overhead_ms_p50": pct(overhead, 50),
        "ingest.epochs": len(ep),
        "merge.epoch_ms_p50": pct([e.wall_sec * 1e3 for e in ep], 50),
        "merge.epoch_ms_max": max([e.wall_sec * 1e3 for e in ep], default=0.0),
        "merge.self_ms_p50": pct(self_ms("merge_into"), 50),
        "merge.rows_in": rows_in,
        "merge.apply_ratio": sum(e.applied_rows for e in ep) / rows_in if rows_in else 0.0,
        "merge.rewrite_amp": sum(e.rows_rewritten for e in cow) / rows_in if rows_in else 0.0,
        "merge.touched_bucket_frac": (
            statistics.fmean(e.touched_buckets for e in ep) / n_buckets if ep else 0.0
        ),
        "merge.key_skew_max": max([e.key_skew for e in ep], default=0.0),
        "merge.salted_epochs": sum(1 for e in ep if e.salt_buckets),
        "compact.ms": sum(dur_ms("compact")),
        "compact.buckets": c.get("compact.buckets", 0),
        "compact.plan_ms": sum(dur_ms("select_compaction_candidates")),
        "lakette.commit_ms_p50": pct(dur_ms("commit_version"), 50),
        "lakette.commits": len(by.get("commit_version", [])),
        "lakette.plan_ms_p50": pct(dur_ms("plan_files"), 50),
        "lakette.plan_files_selected_p50": pct([sp["n"] or 0 for sp in plan], 50),
        "lakette.snapshot_build_ms_p50": pct(dur_ms("snapshot"), 50),
        "read.exec_ms_p50": pct(rec.samples.get("read_exec_ms", []), 50),
        "sqlfront.compile_ms_p50": pct(dur_ms("SqlFrontend.sql"), 50),
        "sqlfront.exec_ms_p50": pct(rec.samples.get("sql_exec_ms", []), 50),
        "host.cpu_util": cpu["total_cpu_s"] / (window_s * (os.cpu_count() or 1)),
        "host.steal_jiffies": steal,
        "gen.late_p99_ms": pct(rec.samples.get("gen_late_ms", []), 99),
        "self_ms.streaming.ingest": sum(self_ms(layer="streaming.ingest")),
        "self_ms.operators.merge": sum(self_ms(layer="operators.merge")),
        "self_ms.lakette.table": sum(self_ms(layer="lakette.table")),
        "self_ms.sqlfront": sum(self_ms(layer="sqlfront")),
        "self_ms.sources": sum(offset),
        "self_ms.exec": sum(self_ms(layer="exec")),
        "trace.spans": len(spans),
    }
    for k in ("lakette.files", "lakette.delta_files", "lakette.delta_rows",
              "lakette.space_amp", "lakette.meta_bytes"):
        out[k] = c.get(k, 0)
    return {k: out[k] for k, _ in PER_LAYER}


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it (the
    gateway JVM exits when its stdin closes; its Python workers with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def table(metrics: dict[str, float], units: dict[str, str]) -> str:
    return "\n".join(f"  {k:<34} {v:>16.4f} {units[k]}" for k, v in metrics.items())


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["backfill_mor", "live_cow_skewed", "read_mix_mor"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cores", type=int, default=4, help="local[N]; 4 is the gated setting")
    p.add_argument("--scale", choices=["full", "toy"], default="full")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="self-test: make one expected row wrong; it must count as failed")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # the program under test; a checkout without it must fail here, before
    # any result is printed
    import forklift_spark.session  # noqa: F401

    from host import HostSampler, read_steal
    from tracing import Tracer
    from workloads import N_BUCKETS, WORKLOADS

    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"work-{args.workload}-", dir=OUT)
    # keep Spark's and Python's scratch files inside the checkout
    tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tempfile.tempdir} -XX:-UsePerfData"
    stem = f"{args.workload}-s{args.seed}-t{args.trace}-c{args.cores}-{int(time.time())}"
    spark = sampler = None
    try:
        t0 = time.perf_counter()
        spark = forklift_spark.session.get_spark(
            app_name="forklift-perfbench", cores=args.cores, shuffle_partitions=N_BUCKETS,
            driver_memory="2g",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # a fixed-size heap: no resizing decisions that differ run to run
                "spark.driver.extraJavaOptions": "-Xms2g",
            },
        )
        session_start = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        sampler = HostSampler(spark._jvm.ProcessHandle.current().pid()).start()

        tracer = Tracer() if args.trace else None
        ctx = Context(args, spark, work, tracer)
        wl = WORKLOADS[args.workload](ctx)
        reps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(rep)
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        # warm-up checks count; its samples do not
        ctx.rec.samples.clear()
        ctx.rec.counts.clear()
        ctx.rec.epochs.clear()
        setup_s = session_start + statistics.median(reps) + warm_s

        if tracer:
            tracer.install()
            spark.streams.addListener(ctx.listener)
        sampler.mark("window")
        steal0 = read_steal()
        t = time.perf_counter()
        try:
            wl.run()
        finally:
            if tracer:
                tracer.uninstall()
                spark.streams.removeListener(ctx.listener)
        window_s = time.perf_counter() - t
        cpu = sampler.cpu_s_since("window")
        steal = read_steal() - steal0
        sampler.stop()

        rec = ctx.rec
        e2e = end_to_end(rec, setup_s, sampler.peak_rss_kb / 1024.0)
        layer = per_layer(rec, tracer, N_BUCKETS, session_start, cpu, window_s, steal)
        raw = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": args.cores, "scale": args.scale,
            "attempted": rec.attempted, "failed": rec.failed, "failures": rec.failures,
            "end_to_end": e2e, "per_layer": layer,
            "setup": {"session_start_s": session_start, "prepare_reps_s": reps, "warm_s": warm_s},
            "window_s": window_s, "host": {**cpu, "steal_jiffies": steal,
                                           "rss_samples": sampler.samples},
            "samples": {k: {"n": len(v), "p50": pct(v, 50), "p90": pct(v, 90), "max": max(v),
                            "values": v}
                        for k, v in rec.samples.items() if v},
            "counts": rec.counts,
        }
        with open(os.path.join(OUT, stem + ".json"), "w") as f:
            json.dump(raw, f, indent=1, default=float)
        if tracer:
            tracer.write(os.path.join(OUT, stem + ".spans.jsonl"))
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = dict(END_TO_END + PER_LAYER + [("error_rate", "ratio")])
    shown = {**e2e, "error_rate": rec.failed / rec.attempted}
    print(f"{args.workload} seed={args.seed} trace={args.trace} local[{args.cores}] "
          f"attempted={rec.attempted} failed={rec.failed}")
    for msg in rec.failures:
        print(f"  FAILED: {msg}")
    print("end-to-end:\n" + table(shown, units))
    if tracer:
        print("per-layer:\n" + table(layer, units))
    chosen = layer if tracer else e2e
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": float(chosen[k]), "unit": units[k]} for k in chosen},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
