"""Dump `.explain("formatted")` plans of the engine's hot paths to PLANS.md
so plan quality is reviewable (pushdown, pruning, broadcast, codegen spans,
exchange counts). Re-run after optimizer-relevant changes.

  python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from forklift_spark.plans.guards import count_exchanges, formatted_plan
from forklift_spark.session import get_spark


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(cores=4, shuffle_partitions=8, driver_memory="6g")
    import __spark_entry__ as entry

    qs = entry.queries()
    sections = []

    def add(title: str, df, note: str) -> None:
        plan = formatted_plan(df)
        sections.append(
            f"## {title}\n\n{note}\n\nExchanges (shuffles): "
            f"{count_exchanges(df)}\n\n```\n{plan.strip()}\n```\n"
        )

    # 1. pushdown + pruning on the fact scan
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    add(
        "Filtered projection on lineitem (P3)",
        li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity"),
        "Expect: PushedFilters carries the quantity predicate; ReadSchema is "
        "2 columns; single WholeStageCodegen span; zero exchanges.",
    )

    # 2. broadcast join
    add(
        "Broadcast dim join (J1)",
        qs["join_broadcast"](spark, sf),
        "Expect: BroadcastHashJoin (dim side broadcast), fact side never "
        "shuffled for the join.",
    )

    # 3. LWW dedupe — the merge core
    from forklift_spark.operators.merge import lww_dedupe
    from forklift_spark.streaming.ingest import CHANGELOG_SCHEMA

    ev = spark.createDataFrame([], CHANGELOG_SCHEMA)
    add(
        "lww_dedupe (C2/W5) as aggregate argmax",
        lww_dedupe(ev, ["repo", "path"], "seq"),
        "Expect: partial_max_by before the exchange (map-side combine), "
        "final max_by after — ONE shuffle keyed (repo, path), no sort. A "
        "window argmax would shuffle all rows then sort them.",
    )

    # 4. MOR delta projection — the high-throughput ingest path
    delta = (
        ev.withColumn("content_sha", F.sha2("content", 256))
        .withColumn("_bucket", F.pmod(F.xxhash64("repo", "path"), F.lit(32)).cast("int"))
        .repartition(32, "_bucket")
    )
    add(
        "Merge-on-read delta projection (C3 fast path)",
        delta,
        "Expect: scan -> project (sha2/xxhash64 inside codegen) -> ONE "
        "hashpartitioning exchange on _bucket. This is the whole per-epoch "
        "plan of the high-throughput ingest: one exchange per ingested byte.",
    )

    # 5. top-k per group (window) for contrast
    add(
        "Top-K per group (W4)",
        qs["win_rank_topk"](spark, sf),
        "Expect: single exchange on the partition key, WindowExec with "
        "rank filter pushed via Limit-like pruning where possible.",
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet").selectExpr(
        "source as repo", "cast(doc_id as string) as path",
        "doc_id as seq", "text as content"
    )

    # 7. six-table TPC-H Q5 shape (join order + broadcast dims)
    add(
        "TPC-H Q5 shape (6-table join)",
        qs["tpch_q5"](spark, sf),
        "Expect: supplier/nation/region enter via BroadcastExchange (>=3 "
        "BroadcastHashJoins); the only shuffle joins are the fact-side "
        "lineitem-orders-customer chain; no CartesianProduct.",
    )

    # 8. replication span diff (r3): the change feed between two versions
    import shutil as _shutil
    import tempfile as _tempfile

    from forklift_spark.operators.changes import snapshot_diff
    from forklift_spark.operators.merge import merge_into
    from forklift_spark.streaming.ingest import create_entity_table

    root = os.path.join(_tempfile.gettempdir(), "fk_plans_diff")
    _shutil.rmtree(root, ignore_errors=True)
    t = create_entity_table(root, n_buckets=8)
    seed = docs.limit(500).selectExpr(
        "'I' as op", "seq", "repo", "path",
        "cast(null as string) as commit", "cast(null as string) as lang",
        "content",
    )
    merge_into(spark, t, seed, query_id="plans", epoch=0)
    upd = seed.limit(40).withColumn("seq", F.col("seq") + F.lit(10_000_000))
    merge_into(spark, t, upd, query_id="plans", epoch=1)
    add(
        "Replication span diff (snapshot_diff full_rows, r3)",
        snapshot_diff(spark, t, 2, 3, full_rows=True),
        "Expect: ONE full-outer SortMergeJoin on the key; BOTH sides read "
        "only the buckets whose immutable file sets changed between the "
        "versions (driver-side pruning — the file list here is a strict "
        "subset of the table), no Python on the row path. This is the whole "
        "per-span plan of lake-to-lake replication: cost follows CHANGED "
        "data, never table size.",
    )

    # COW merge epoch: the frame merge_into hands the data-file writer,
    # with the writer's own bucket repartition + key sort applied on top
    from forklift_spark.operators import merge as merge_mod

    written = []
    real_write = merge_mod._write_datafiles

    def _capture(df, **kw):
        written.append(
            df.repartition(kw["n_partitions"], "_bucket")
            .sortWithinPartitions("_bucket", *kw["sort_cols"])
        )
        return real_write(df, **kw)

    # a local batch: `upd` carries the seed's LIMIT, whose own exchange
    # is not the merge's
    batch = spark.createDataFrame(
        upd.withColumn("seq", F.col("seq") + F.lit(1)).collect(), upd.schema
    )
    merge_mod._write_datafiles = _capture
    try:
        merge_into(spark, t, batch, query_id="plans", epoch=2)
    finally:
        merge_mod._write_datafiles = real_write
    add(
        "COW merge epoch: the write plan",
        written[-1],
        "Expect: ONE exchange — hashpartitioning(_bucket, touched buckets) "
        "over the Union of the touched buckets' stored rows (_src=1) and the "
        "batch events in delta-row shape (_src=0, sha2 + op_guard in the "
        "projection). The LWW fold is a SortAggregate on (_bucket, repo, "
        "path) with only a local Sort below it; CollectMetrics carries "
        "rows/applied/rows_in/skew. The writer's repartition and key sort "
        "are already satisfied and plan away; no join, no "
        "InMemoryRelation (asserted in tests/test_cow_fold.py).",
    )

    # 9. deterministic stratified sampling (r4): map-only training-data mix
    from forklift_spark.operators import sampling as sp

    d = spark.read.parquet(f"{sf}/documents.parquet")
    add(
        "Deterministic stratified sampling (r4)",
        sp.sample_stratified(d, "lang", "doc_id",
                             {"en": 0.5, "zh": 0.25}, default_rate=0.1)
        .select("doc_id", "lang"),
        "Expect: ZERO exchanges — the keep/drop decision is integer "
        "arithmetic on doc_id inside codegen, so the sample is a pure "
        "filter that composes with pushdown and never moves a byte. "
        "Oracle-checked: DuckDB runs the identical expression and selects "
        "the identical rows.",
    )

    # 10. sequence packing, concat-and-chunk (r4): one window cumsum
    add(
        "Sequence packing concat-and-chunk (r4)",
        sp.pack_concat_chunks(
            d.withColumn("n_tok", F.size(F.split(F.trim(F.col("text")), r"\s+"))),
            "doc_id", "n_tok", 2048, group_col="source",
        ),
        "Expect: ONE exchange (hashpartitioning on the packing group) + "
        "one WindowExec running-sum — chunk ids and offsets all inside "
        "codegen; per-group state never exceeds one partition. "
        "Oracle-checked row-for-row against DuckDB's window frame.",
    )

    # 11. derived-table span transform (r5): diff -> one projection -> merge
    from forklift_spark.operators.derive import _events_from_span

    span = snapshot_diff(spark, t, 2, 3, full_rows=True)
    add(
        "Derived-table span transform (r5)",
        _events_from_span(
            span,
            {"lang": "lang", "n_chars": "length(content)"},
            ["repo", "path"],
            "lang <> 'md'",
        ),
        "Expect: the bronze->silver hot path adds exactly ONE Project (+ "
        "the filter folded into it) on top of the span diff's plan — the "
        "mapping spec compiles to a single Catalyst projection, the "
        "predicate stays codegen, no extra exchange and no Python. "
        "Everything downstream is the ordinary exactly-once merge.",
    )

    # 12. composed sampling -> tokens -> packing pipeline (r5)
    from forklift_spark.operators.text import token_stats

    sampled = sp.sample_stratified(
        d, "lang", "doc_id", {"en": 0.5, "zh": 0.25}, default_rate=0.1
    )
    toks = token_stats(sampled, "text", "doc_id", keep_cols=["source"])
    add(
        "Training-data pipeline composed (r5): sample -> tokens -> pack",
        sp.pack_concat_chunks(
            toks.select("doc_id", "source", F.col("n_ws_tokens").alias("n_tok")),
            "doc_id", "n_tok", 1024, group_col="source",
        ),
        "Expect: the three stages fuse into scan -> codegen filter+project "
        "-> ONE exchange (packing group) -> WindowExec. Sampling stays a "
        "pushdown-friendly filter, token counting a projection (keep_cols "
        "carries the group through, no re-join), packing the single "
        "shuffle the whole pipeline pays. Oracle-checked end to end.",
    )

    # 13. per-column LWW patch dedupe (r5): partial updates, same shuffle
    from forklift_spark.operators.merge import _row_shape, resolve

    patch_cols = ["commit", "lang", "content"]
    shaped = ev.select(*_row_shape(
        ev.columns, ["repo", "path"], patch_cols,
        {f.name: f.dataType for f in ev.schema.fields}, column_lww=True,
    ))
    add(
        "Partial-update per-column LWW dedupe (r5)",
        resolve(shaped, ["repo", "path"], patch_cols, column_lww=True),
        "Expect: the shared LWW resolver over patch events shaped into "
        "physical rows (_row_shape: sha2 and the per-event col_seqs map in "
        "codegen before the exchange) — per-column struct argmax + "
        "row-level argmax fused into ONE aggregate, partial aggregation "
        "before the exchange (map-side combine), ONE shuffle keyed (repo, "
        "path). Identical exchange shape to the row-level lww_dedupe: patch "
        "semantics cost zero extra shuffles; the per-column state is a few "
        "longs per row in the written files.",
    )

    # 14. data-quality expectations split (r5): two filters, one projection
    from forklift_spark.operators import expectations as xp

    rules = [
        xp.Expectation("lang_ok", "lang IN ('en','de','fr')", "quarantine"),
        xp.Expectation("len_floor", "n_chars >= 60", "drop"),
        xp.Expectation("chars_ok", "n_chars = length(text)", "fail"),
    ]
    good, bad = xp.split(d, rules)
    add(
        "Data-quality expectations split (r5)",
        good.select("doc_id").unionAll(bad.select("doc_id")),
        "Expect: NO exchange and NO Python anywhere — every rule compiles "
        "to one boolean codegen column, the violation tags are "
        "array_sort(filter(array(...))), and good/quarantine are two "
        "filters over the same scan (Catalyst pushes each side's filter "
        "down). At 100 TB the ingest gate costs one extra map-side "
        "projection on the scan it already pays for.",
    )

    # 15. predicate-DML discovery scan (r5): pruned scan -> distinct buckets
    add(
        "Predicate DML discovery scan (r5)",
        t.snapshot(spark, columns=["lang"])
        .filter(F.expr("lang = 'de'"))
        .select(t.bucket_expr().alias("b"))
        .distinct(),
        "Expect: the delete_where/update_where DISCOVERY pass — ReadSchema "
        "carries only the predicate column + keys (column-pruned snapshot), "
        "PushedFilters shows the predicate at the parquet scan, and the "
        "only exchange is the distinct over at most n_buckets bucket ids. "
        "The rewrite that follows touches ONLY those buckets (COW, "
        "compact-style), so DML cost is O(matching buckets), never "
        "O(table).",
    )

    # Z-order writer input (r5): Morton key over per-bucket rank windows
    from forklift_spark.operators.merge import _zorder_expr

    zsrc = spark.range(10_000).select(
        F.col("id"),
        (F.col("id") % 7).cast("string").alias("lang"),
        (F.col("id") % 11).cast("string").alias("grp"),
        (F.col("id") % 8).cast("int").alias("_bucket"),
    )
    add(
        "Z-order compaction writer input (r5)",
        zsrc.repartition(8, "_bucket")
        .withColumn("_z", _zorder_expr(["lang", "grp"]))
        .sortWithinPartitions("_bucket", "_z", "id"),
        "Expect: ONE exchange (the bucket repartition); both percent_rank "
        "Window operators sit ABOVE it with local Sort children only — "
        "ClusteredDistribution on _bucket is satisfied by the repartition, "
        "so the Morton key costs CPU, never a second shuffle. This is the "
        "plan-level proof behind tests/test_clustering.py's one-Exchange "
        "assert; the layout's payoff is in BENCH/CLUSTERING.md (file-prune "
        "counts, deterministic).",
    )


    # 16. decontamination gram join (r5): corpus never shuffled
    from forklift_spark.operators.contamination import contamination_report

    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 13)
    add(
        "Benchmark decontamination (r5)",
        contamination_report(docs, bench, "text", "doc_id", n=8),
        "Expect: every join a BroadcastHashJoin (benchmark gram set + "
        "leak-sized aggregates broadcast), ZERO SortMergeJoin — the "
        "training corpus's shingle explosion stays map-side inside the "
        "scan's codegen stage; only leak witnesses reach an exchange. At "
        "100 TB the corpus is read once and never shuffled.",
    )

    # 17. mixture sampling to token budgets (r5): boundary-bucket algorithm
    from forklift_spark.operators.sampling import sample_to_token_budget
    from forklift_spark.operators.text import token_stats

    tok = token_stats(
        spark.read.parquet(f"{sf}/documents.parquet"), "text", "doc_id",
        keep_cols=["source"],
    ).select("doc_id", "source", "n_ws_tokens")
    add(
        "Token-budget mixture sampling (r5)",
        sample_to_token_budget(
            tok, "source", "doc_id", "n_ws_tokens",
            {"src0": 700, "src1": 400},
        ),
        "Expect: the per-domain decision set (one row per domain) joins "
        "back as BroadcastHashJoin; the only wide aggregate is the "
        "(domain, hash-bucket) token-sum partial-combine; Window operators "
        "run over bucket-sum rows and the single boundary bucket only — "
        "the corpus itself is filtered map-side, no per-domain global "
        "sort anywhere.",
    )

    # 18. repetition signals (r5): pure per-row HOFs
    from forklift_spark.operators.text import repetition_stats

    add(
        "Repetition quality signals (r5)",
        repetition_stats(docs, "text", "doc_id"),
        "Expect: ZERO exchanges — the Gopher-style dup-word/top-word/"
        "repeated-n-gram fractions are higher-order-function column "
        "expressions riding the scan's own map stage; the filter family "
        "costs no shuffle at any scale.",
    )

    # 19. OOV rate (r5): vocabulary broadcast, O(docs) exchange
    from forklift_spark.operators.text import oov_rate

    add(
        "OOV-rate scoring (r5)",
        oov_rate(docs, "text", "doc_id", top_v=16),
        "Expect: the top-V vocabulary returns via TakeOrderedAndProject "
        "and re-enters as a BroadcastHashJoin; the per-doc aggregate "
        "partial-combines map-side above the explode, so the final "
        "exchange carries one row per DOCUMENT, never per token.",
    )

    # 20. document chunking (r5): zero-exchange explode in the scan stage
    from forklift_spark.operators.text import text_chunks

    add(
        "Document chunking (r5)",
        text_chunks(docs, "text", "doc_id", chunk_tokens=24, overlap=6),
        "Expect: ZERO exchanges — split + sequence + slice + explode all "
        "inside the scan's codegen stage; chunk fan-out is bounded per "
        "row and never shuffles the corpus.",
    )

    # 21. dedup-key normalization (r5): three codegen regex steps
    from forklift_spark.operators.text import text_normalized

    add(
        "Dedup-key normalization (r5)",
        text_normalized(docs, "text", "doc_id"),
        "Expect: ZERO exchanges — lower/regexp_replace/trim + sha2 ride "
        "the scan's map stage; exact dedup over norm_text then pays only "
        "the digest-group exchange exact_dedup always pays.",
    )

    # 22. deterministic corpus shuffle (r5): one exchange, per-shard rank
    from forklift_spark.operators.sampling import cap_per_group, shuffle_shards

    add(
        "Deterministic corpus shuffle/sharding (r5)",
        shuffle_shards(docs.select("doc_id"), "doc_id", n_shards=8, salt=7),
        "Expect: exactly ONE Exchange (hashpartitioning on shard) feeding "
        "a Window row_number — shards rank in parallel, the mix/shard "
        "expressions stay in the scan stage.",
    )

    # 23. per-domain cap (r5): partial WindowGroupLimit BEFORE the exchange
    docs_src = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "source"
    )
    add(
        "Per-domain cap (r5)",
        cap_per_group(docs_src, "source", "doc_id", k=10, salt=3),
        "Expect: WindowGroupLimit [Partial] ABOVE the scan and BELOW the "
        "single Exchange — Catalyst caps each group map-side, so at most "
        "k rows per group per input partition ever cross the shuffle; "
        "then the Final WindowGroupLimit + Window + Filter.",
    )

    # r5 continuation: incremental similarity index (operators/simindex.py)
    from forklift_spark.operators.merge import merge_into
    from forklift_spark.operators.simindex import (
        derive_simindex,
        near_dup_pairs,
        signature_sql,
    )
    from forklift_spark.streaming.ingest import create_entity_table

    docs_txt = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "source", "lang", "text"
    )
    add(
        "MinHash signature maintenance projection (r5)",
        docs_txt.selectExpr(
            "doc_id", f"{signature_sql('text', n_hashes=16)} AS sig"
        ),
        "Expect: ZERO exchanges — the whole signature (array_min over "
        "transform, per hash index) is ONE scalar Project over the scan. "
        "This is what lets derive_simindex maintain the near-dup index at "
        "O(changed rows) per epoch: no explode, no groupBy, no shuffle "
        "beyond the derive merge itself.",
    )
    simx_root = tempfile.mkdtemp(prefix="fk_plans_simx_")
    try:
        simx_src = create_entity_table(os.path.join(simx_root, "src"), n_buckets=4)
        merge_into(
            spark,
            simx_src,
            docs_txt.limit(200).selectExpr(
                "'I' AS op",
                "CAST(doc_id AS LONG) AS seq",
                "source AS repo",
                "concat('docs/doc_', doc_id, '.txt') AS path",
                "CAST(NULL AS STRING) AS commit",
                "lang",
                "text AS content",
                "CAST(NULL AS TIMESTAMP) AS event_ts",
                "1 AS schema_ver",
            ),
            query_id="plans_simx",
        )
        derive_simindex(spark, simx_src, os.path.join(simx_root, "idx"), n_hashes=16)
        from forklift_spark.lakette.table import LaketteTable as _LT

        add(
            "LSH near-dup query over the signature silver (r5)",
            near_dup_pairs(spark, _LT(os.path.join(simx_root, "idx")), bands=8),
            "Expect: band bucketing is a map-side posexplode projection of "
            "the INDEX (the corpus' content is never read); candidates meet "
            "only inside the (band, bsig) equi-join — a hash join, never a "
            "cartesian; the Jaccard estimate is a scalar zip_with on the "
            "candidate set only.",
        )
    finally:
        shutil.rmtree(simx_root, ignore_errors=True)

    body = (
        "# PLANS — physical plans of the hot paths\n\n"
        "Generated by `python scripts/dump_plans.py` (PySpark "
        f"{spark.version}, sf={os.path.basename(sf)}). The assertions in "
        "`forklift_spark/plans/guards.py` + `tests/test_sources_plans.py` "
        "enforce the key properties on every run; this file is the "
        "human-readable evidence.\n\n" + "\n".join(sections)
    )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write(body)
    print(f"wrote {out} ({len(sections)} plans)")


if __name__ == "__main__":
    main()
