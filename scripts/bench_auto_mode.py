"""mode="auto" vs fixed cow / fixed mor on the two steady-state workload
shapes the per-epoch decision exists for (VERDICT r4 #6) — justify
merge.AUTO_COW_FACTOR with measured numbers.

Protocol (apples to apples): every variant starts from an IDENTICAL base
table (built untimed, copy-on-write, same data), then runs the SAME
workload epochs; only the per-epoch storage mode differs. Each timed epoch
is the full production loop: merge (variant mode) + one serving read (a
grouped aggregation on the live snapshot — the reason read-optimization
is worth paying for) + the standard incremental-compaction policy
(`select_compaction_candidates` defaults, the same policy `run_ingest`
applies for every mode). A final fold-to-clean + full scan charge any
residual delta debt. Each (workload, mode) runs in its OWN subprocess/JVM
(no warm-up bleed), best of N trials (VM noise defense).

Workloads:

  bulk     bulk-rewrite-heavy: every epoch updates ~the WHOLE key space
           (batch rows ~ touched-group rows -> AUTO_COW_FACTOR says cow).
           MOR must append a table-sized delta each epoch and re-fold it
           on every read until compaction folds it again — COW's one
           proportionate rewrite is the same bytes without the debt.
  trickle  trickle-update-heavy: small hot-keyed update epochs against
           the large cold base (touched groups hold many times the batch
           -> auto says mor). COW re-copies the touched groups' cold rows
           every epoch; MOR appends tiny deltas and compaction stays
           O(hot buckets).

Writes BENCH/AUTO_MODE.md. Done criterion: auto's TOTAL within ~5% of the
better fixed mode on BOTH workloads.

  python scripts/bench_auto_mode.py [--scale 1.0] [--trials 2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORK = "/tmp/fk_auto_mode"

#: (workload) -> fixture params; key space sized so `bulk` batches are
#: commensurate with the groups they touch and `trickle` batches are not
FIX = {
    "bulk": dict(n_repos=50, paths_per_repo=400, epochs=6, hot=0.05),
    "trickle": dict(n_repos=64, paths_per_repo=400, epochs=8, hot=0.8),
}


def gen_logs(workload: str, scale: float) -> tuple[str, list[str]]:
    """(base log dir, workload epoch log dirs); seq strictly increasing."""
    from forklift_spark.changelog import ChangelogSpec, generate_changelog

    fx = FIX[workload]
    keyspace = fx["n_repos"] * fx["paths_per_repo"]

    def gen(d, spec):
        if not os.path.exists(os.path.join(d, "_DONE")):
            shutil.rmtree(d, ignore_errors=True)
            generate_changelog(spec, d)
            open(os.path.join(d, "_DONE"), "w").write("ok")
        return d

    base = gen(
        os.path.join(WORK, f"log_{workload}", "base"),
        ChangelogSpec(
            n_events=int(4 * keyspace * scale) if workload == "trickle"
            else int(keyspace * scale),
            n_repos=fx["n_repos"], paths_per_repo=fx["paths_per_repo"],
            hot_repo_fraction=0.05, op_mix=(1.0, 0.0, 0.0), seed=7,
            seq_start=1,
        ),
    )
    n_upd = (int(keyspace * scale) if workload == "bulk"
             else int(0.05 * keyspace * scale))
    epochs = [
        gen(
            os.path.join(WORK, f"log_{workload}", f"e{e}"),
            ChangelogSpec(
                n_events=n_upd, n_repos=fx["n_repos"],
                paths_per_repo=fx["paths_per_repo"],
                hot_repo_fraction=fx["hot"], op_mix=(0.0, 0.95, 0.05),
                seed=200 + e, seq_start=10_000_000 + e * n_upd,
            ),
        )
        for e in range(fx["epochs"])
    ]
    return base, epochs


def run_variant(workload: str, mode: str, scale: float, cores: int) -> dict:
    """Worker body — executed in a dedicated subprocess per variant."""
    from forklift_spark.operators.merge import (
        compact,
        merge_into,
        select_compaction_candidates,
    )
    from forklift_spark.session import get_spark
    from forklift_spark.streaming.ingest import CHANGELOG_SCHEMA, create_entity_table

    spark = get_spark(app_name=f"auto-mode-{workload}-{mode}", cores=cores,
                      shuffle_partitions=32, driver_memory="8g")
    base_log, epoch_logs = gen_logs(workload, scale)
    root = os.path.join(WORK, f"tbl_{workload}_{mode}")
    shutil.rmtree(root, ignore_errors=True)
    table = create_entity_table(root, n_buckets=32)

    def read_log(d):
        return spark.read.schema(CHANGELOG_SCHEMA).parquet(f"{d}/seg-*.parquet")

    # identical untimed base state for every variant (copy-on-write load)
    merge_into(spark, table, read_log(base_log), query_id="base", epoch=0,
               mode="cow")

    modes_used = []
    ingest = serve = compact_s = 0.0
    prev = None
    for e, d in enumerate(epoch_logs):
        df = read_log(d)
        t0 = time.monotonic()
        s = merge_into(spark, table, df, query_id=f"am_{mode}", epoch=e,
                       mode=mode, auto_prev=prev)
        prev = s
        ingest += time.monotonic() - t0
        modes_used.append(s.mode_used)
        # the serving read between batches (folds deltas on dirty groups)
        t1 = time.monotonic()
        table.snapshot(spark, columns=["lang"]).groupBy("lang").count().collect()
        serve += time.monotonic() - t1
        # the standard incremental-compaction policy, same for every mode
        t2 = time.monotonic()
        cands = select_compaction_candidates(table)
        if cands:
            compact(spark, table, buckets=cands)
        compact_s += time.monotonic() - t2

    t3 = time.monotonic()
    cands = select_compaction_candidates(table, max_delta_files=0)
    if cands:
        compact(spark, table, buckets=cands)
    fold = time.monotonic() - t3
    t4 = time.monotonic()
    n_rows = table.snapshot(spark).count()
    scan = time.monotonic() - t4
    return {
        "workload": workload,
        "mode": mode,
        "ingest_sec": round(ingest, 2),
        "serve_sec": round(serve, 2),
        "compact_sec": round(compact_s, 2),
        "fold_sec": round(fold, 2),
        "scan_sec": round(scan, 2),
        "total_sec": round(ingest + serve + compact_s + fold + scan, 2),
        "final_rows": int(n_rows),
        "modes_used": modes_used,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--trials", type=int, default=2,
                    help="best-of-N per variant (VM noise defense)")
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    # internal worker mode
    ap.add_argument("--variant", nargs=2, metavar=("WORKLOAD", "MODE"))
    args = ap.parse_args()

    if args.variant:
        print("RESULT " + json.dumps(
            run_variant(args.variant[0], args.variant[1], args.scale, args.cores)
        ))
        return

    for w in FIX:
        gen_logs(w, args.scale)  # generate once, shared by subprocesses

    # trials are INTERLEAVED across variants (trial 0 of every variant,
    # then trial 1 of every variant, ...) so a drifting VM-speed window
    # hits all variants alike instead of biasing whole best-of-N blocks
    # (this box drifts +-20% at zero steal — BENCH/HISTORY.md)
    results: dict[str, dict[str, dict]] = {w: {} for w in FIX}
    for _trial in range(max(1, args.trials)):
        for workload in FIX:
            for mode in ("cow", "mor", "auto"):
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--variant", workload, mode,
                     "--scale", str(args.scale), "--cores", str(args.cores)],
                    capture_output=True, text=True, timeout=1800,
                )
                line = [ln for ln in out.stdout.splitlines()
                        if ln.startswith("RESULT ")]
                if not line:
                    sys.exit(f"{workload}/{mode} failed:\n{out.stderr[-3000:]}")
                r = json.loads(line[-1][len("RESULT "):])
                best = results[workload].get(mode)
                if best is None or r["total_sec"] < best["total_sec"]:
                    results[workload][mode] = r
    for workload in FIX:
        for mode in ("cow", "mor", "auto"):
            print(json.dumps(results[workload][mode]))

    for w, by in results.items():
        assert len({r["final_rows"] for r in by.values()}) == 1, (w, by)

    lines = [
        '# mode="auto" vs fixed COW / fixed MOR (VERDICT r4 #6)',
        "",
        f"Protocol: deterministic changelog fixture, local[{args.cores}], "
        f"scale={args.scale}, n_buckets=32, one subprocess/JVM per "
        f"(workload, mode) — no warm-up bleed — best of {args.trials} "
        "trials per variant, `AUTO_COW_FACTOR=4.0` (the value under "
        "test). Every variant starts from an IDENTICAL untimed COW base "
        "load; only the workload epochs are timed, and all variants run "
        "the SAME per-epoch serving read + the SAME standard incremental-"
        "compaction policy (run_ingest's). All variants of a workload "
        "converge to identical final row counts (asserted).",
        "",
        "Cost model: **total = ingest + per-epoch serving read + per-epoch "
        "incremental compaction + final fold-to-clean + final scan**. The "
        "serving read is what makes read-optimization worth paying for; "
        "the compaction terms charge MOR's deferred debt explicitly. "
        "Ingest-wall alone would crown append-only MOR everywhere by "
        "never paying the fold.",
        "",
        "Workloads: **bulk** = every epoch updates ~the whole key space "
        "(batch ~ touched groups — the COW shape); **trickle** = small "
        "hot-keyed update epochs against the 4x-larger cold base (touched "
        "groups >> batch — the MOR shape).",
        "",
        "| workload | mode | ingest | serve | compact | fold | scan | TOTAL (s) | auto chose |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    verdicts = []
    for w, by in results.items():
        for mode in ("cow", "mor", "auto"):
            r = by[mode]
            chose = ""
            if mode == "auto":
                from collections import Counter

                chose = ", ".join(f"{m}x{c}" for m, c in
                                  sorted(Counter(r["modes_used"]).items()))
            lines.append(
                f"| {w} | {mode} | {r['ingest_sec']} | {r['serve_sec']} | "
                f"{r['compact_sec']} | {r['fold_sec']} | {r['scan_sec']} | "
                f"**{r['total_sec']}** | {chose} |"
            )
        best_fixed = min(by["cow"]["total_sec"], by["mor"]["total_sec"])
        ratio = by["auto"]["total_sec"] / best_fixed
        verdicts.append((w, best_fixed, by["auto"]["total_sec"], ratio))
    lines += [""]
    for w, best, auto, ratio in verdicts:
        lines.append(
            f"- **{w}**: auto {auto} s vs best fixed {best} s -> "
            f"**{ratio:.3f}x** ({'within' if ratio <= 1.05 else 'OUTSIDE'} "
            "the 5% done-criterion band)"
        )
    lines += [
        "",
        "Reading: the per-epoch decision reads ONLY the maintained bucket "
        "counters (zero manifest loads), so choosing per epoch costs "
        "nothing; auto must track COW on the bulk shape (no delta debt) "
        "and MOR on the trickle shape (no cold-group re-copy). "
        "`AUTO_COW_FACTOR=4.0` is the boundary: merge-on-read only when "
        "the touched groups hold >4x the batch's rows.",
        "",
    ]
    out_md = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "BENCH", "AUTO_MODE.md")
    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_md}")
    for w, best, auto, ratio in verdicts:
        print(f"{w}: auto/best_fixed = {ratio:.3f}")


if __name__ == "__main__":
    main()
