"""Round-2 hardening: incremental compaction, concurrent-writer CAS,
T4 dropDuplicatesWithinWatermark, quadratic guard, chunk-aware oracle,
null-op dead-letter routing (VERDICT.md next-round #4,5,6,9 + ADVICE.md)."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from forklift_spark.changelog import (
    ChangelogSpec,
    expected_final_state,
    expected_final_state_chunked,
    generate_changelog,
    generate_changelog_chunked,
)
from forklift_spark.lakette.table import CommitConflictError
from forklift_spark.operators.merge import (
    compact,
    lww_dedupe,
    merge_into,
    select_compaction_candidates,
)
from forklift_spark.streaming.ingest import (
    CHANGELOG_SCHEMA,
    create_entity_table,
    run_ingest,
    verify_state,
)


def _rows(ops):
    """(op, seq, repo, path, content) -> full envelope tuples."""
    return [
        (op, seq, repo, path, f"c{seq}", "py", content, None, 1)
        for (op, seq, repo, path, content) in ops
    ]


# ------------------------------------------------- incremental compaction


def test_incremental_compact_touches_only_candidate_buckets(spark, tmp_path):
    """MOR deltas in a FEW buckets -> select_compaction_candidates returns
    exactly those -> compact(buckets=...) rewrites only them: untouched
    base files survive by path, final state stays exact."""
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=8)
    base = _rows([("I", i, f"repo_{i % 7}", f"f{i}.py", f"v{i}") for i in range(200)])
    merge_into(
        spark, table, spark.createDataFrame(base, CHANGELOG_SCHEMA),
        query_id="inc", epoch=0, mode="mor",
    )
    compact(spark, table)  # all buckets now clean base
    meta0 = table.current_metadata()
    assert not any(f.get("delta") for f in meta0["files"])

    upd = _rows(
        [("U", 1000 + i, f"repo_{i % 7}", f"f{i}.py", f"v{i}'") for i in range(0, 200, 40)]
    )
    merge_into(
        spark, table, spark.createDataFrame(upd, CHANGELOG_SCHEMA),
        query_id="inc", epoch=1, mode="mor",
    )
    meta1 = table.current_metadata()
    delta_buckets = {f["bucket"] for f in meta1["files"] if f.get("delta")}
    assert 0 < len(delta_buckets) < 8  # the update wave is localized

    cands = select_compaction_candidates(table, max_delta_files=0)
    assert set(cands) == delta_buckets

    untouched_paths = {
        f["path"] for f in meta1["files"] if f["bucket"] not in delta_buckets
    }
    res = compact(spark, table, buckets=cands)
    assert res["compacted_buckets"] == len(cands)
    meta2 = table.current_metadata()
    # untouched base files carried over byte-identical (by path)
    assert untouched_paths <= {f["path"] for f in meta2["files"]}
    # candidate buckets folded clean
    assert not any(f.get("delta") for f in meta2["files"])
    assert select_compaction_candidates(table, max_delta_files=0) == []

    final = {
        (r.repo, r.path): (r.seq, r.content)
        for r in table.snapshot(spark).collect()
    }
    for i in range(200):
        want = (1000 + i, f"v{i}'") if i % 40 == 0 else (i, f"v{i}")
        assert final[(f"repo_{i % 7}", f"f{i}.py")] == want


def test_incremental_compact_inside_ingest_loop(spark, tmp_path):
    """run_ingest(compact_every=K) uses candidate-driven compaction and the
    replay stays sha-exact."""
    spec = ChangelogSpec(n_events=3_000, n_repos=8, paths_per_repo=15, seed=23,
                         duplicate_fraction=0.05)
    log = tmp_path / "log"
    generate_changelog(spec, str(log))
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=8)
    run_ingest(
        spark, str(log), table, str(tmp_path / "ckpt"),
        query_id="incing", max_files_per_trigger=1, mode="mor", compact_every=2,
    )
    exp = spark.createDataFrame(expected_final_state(spec))
    assert verify_state(spark, table, exp)["ok"]


def test_rebucket_rejects_bucket_subset(spark, tmp_path):
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=4)
    with pytest.raises(ValueError, match="full compact"):
        compact(spark, table, n_buckets=16, buckets=[0, 1])


# ------------------------------------------------- concurrent-writer CAS


def test_concurrent_commit_loses_cleanly(spark, tmp_path):
    """Two writers racing from the same parent version: the exclusive
    create of v{N+1}.json makes exactly one win; the loser raises
    CommitConflictError and the table state is untouched."""
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=2)
    meta = table.current_metadata()
    racer_meta = {
        **meta,
        "version": meta["version"] + 1,
        "parent_version": meta["version"],
        "writer": {"query_id": "racer", "epoch": 0},
    }
    # simulate the racer the instant after its exclusive metadata write
    # (before its CURRENT swap — the same file the loser will try to create)
    with open(os.path.join(table.meta_dir, f"v{meta['version'] + 1}.json"), "w") as f:
        json.dump(racer_meta, f)
    with pytest.raises(CommitConflictError):
        table.commit_version(
            new_files=[], replaced_buckets=set(),
            writer={"query_id": "loser", "epoch": 0},
        )
    assert table.current_metadata()["version"] == meta["version"]  # untouched


def test_own_orphan_metadata_is_reclaimed(spark, tmp_path):
    """Crash between version-file write and CURRENT swap: the SAME writer's
    retry reclaims its orphan after a SHORT internal live-twin
    disambiguation wait (CURRENT provably never advanced) — it no longer
    raises CommitConflictError for a fixed 60s age window, which failed
    query restarts inside that window (ADVICE r3)."""
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=2)
    meta = table.current_metadata()
    me = {"query_id": "me", "epoch": 7}
    orphan = {
        **meta,
        "version": meta["version"] + 1,
        "parent_version": meta["version"],
        "writer": me,
    }
    opath = os.path.join(table.meta_dir, f"v{meta['version'] + 1}.json")
    with open(opath, "w") as f:
        json.dump(orphan, f)

    # CURRENT never advances -> the creator is provably dead; the retry
    # waits out only the remainder of the tiny create->swap window and
    # then reclaims immediately (a restart is never failed for 60s)
    t0 = time.monotonic()
    commit = table.commit_version(new_files=[], replaced_buckets=set(), writer=me)
    assert time.monotonic() - t0 < 30.0
    assert commit.version == meta["version"] + 1
    assert table.current_metadata()["writer"] == me


def test_live_twin_commit_is_not_clobbered_by_reclaim(tmp_path):
    """The reclaim's disambiguation wait protects a LIVE twin sharing our
    writer stamp: if CURRENT advances to the orphan version mid-wait (the
    twin completed its swap), our retry must conflict, never overwrite the
    twin's acknowledged commit (code-review r3 invariant, kept under the
    ADVICE-r3 age-gate removal)."""
    import threading

    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=2)
    meta = table.current_metadata()
    me = {"query_id": "me", "epoch": 7}
    twin_name = f"v{meta['version'] + 1}.json"
    orphan = {
        **meta,
        "version": meta["version"] + 1,
        "parent_version": meta["version"],
        "writer": me,
        "twin_payload": True,  # must survive — proves no clobber
    }
    with open(os.path.join(table.meta_dir, twin_name), "w") as f:
        json.dump(orphan, f)

    swapper = threading.Thread(
        target=lambda: (time.sleep(0.4), table._swap_current(twin_name))
    )
    swapper.start()
    try:
        with pytest.raises(CommitConflictError):
            table.commit_version(new_files=[], replaced_buckets=set(), writer=me)
    finally:
        swapper.join()
    cur = table._raw_current()
    assert cur["version"] == meta["version"] + 1
    assert cur.get("twin_payload") is True  # twin's file intact


# ------------------------------------- T4 dropDuplicatesWithinWatermark


def test_stream_dedup_within_watermark_drops_before_merge(spark, tmp_path):
    """T4: duplicate deliveries are removed by the stateful pre-shuffle
    dedup — the merge sees exactly the unique event count — and the final
    state is still sha-exact (LWW stays the backstop)."""
    spec = ChangelogSpec(
        n_events=2_000, n_repos=6, paths_per_repo=12, seed=31,
        duplicate_fraction=0.25,
    )
    log = tmp_path / "log"
    gen = generate_changelog(spec, str(log))
    assert gen.n_delivered > spec.n_events  # duplicates really present

    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=4)
    report = run_ingest(
        spark, str(log), table, str(tmp_path / "ckpt"),
        query_id="t4", max_files_per_trigger=1,
        drop_dup_within_watermark="2 hours",
    )
    seen_by_merge = sum(e.batch_rows for e in report.epochs)
    assert seen_by_merge == spec.n_events  # dups dropped pre-merge
    exp = spark.createDataFrame(expected_final_state(spec))
    assert verify_state(spark, table, exp)["ok"]


# ------------------------------------------------------ quadratic guard


def test_cosine_pairs_guards_allpairs(spark):
    from forklift_spark.operators.similarity import cosine_pairs

    df = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [1.0, 0.1], 0)], "id long, v array<double>, blk int"
    )
    with pytest.raises(ValueError, match="allow_quadratic"):
        cosine_pairs(df, "v", "id", threshold=0.5)
    assert cosine_pairs(df, "v", "id", threshold=0.5, block_col="blk").count() == 1
    assert cosine_pairs(df, "v", "id", threshold=0.5, allow_quadratic=True).count() == 1


# ------------------------------------------------- chunk-aware oracle


def test_chunked_pandas_oracle_matches_chunked_generator(spark, tmp_path):
    """The engine-independent oracle must mirror the chunked generator's
    per-chunk reseeding (ADVICE.md): chunked oracle == LWW over the actual
    log; the single-shot oracle describes a different event set."""
    spec = ChangelogSpec(n_events=1_500, n_repos=5, paths_per_repo=10, seed=3,
                         segment_rows=400)
    log = tmp_path / "log"
    generate_changelog_chunked(spec, str(log), chunk_events=500)

    df = spark.read.schema(CHANGELOG_SCHEMA).parquet(f"{log}/seg-*.parquet")
    got = {
        (r.repo, r.path, r.seq, r.content)
        for r in lww_dedupe(df, ["repo", "path"], "seq")
        .filter(F.col("op") != "D")
        .collect()
    }
    oracle = expected_final_state_chunked(spec, chunk_events=500)
    want = {
        (r.repo, r.path, int(r.seq), r.content) for r in oracle.itertuples()
    }
    assert got == want
    single_shot = expected_final_state(spec)
    naive = {
        (r.repo, r.path, int(r.seq), r.content) for r in single_shot.itertuples()
    }
    assert naive != want  # the r1 bug: single-shot oracle mismatches at scale


# ------------------------------------------- null-op dead-letter routing


def test_null_op_routes_to_dead_letters(spark):
    """A record with op=null must land in dead_letters, not vanish from
    both outputs (NULL-safe negation, ADVICE.md)."""
    from forklift_spark.operators.parse import parse_events

    good = {"op": "I", "seq": 1, "repo": "r", "path": "p", "commit": "c",
            "lang": "py", "content": "x", "event_ts": "2024-01-01T00:00:00Z",
            "schema_ver": 1}
    null_op = {**good, "seq": 2, "op": None}
    no_op_key = {k: v for k, v in good.items() if k != "op"}
    no_op_key["seq"] = 3
    raw = spark.createDataFrame(
        [(json.dumps(good),), (json.dumps(null_op),), (json.dumps(no_op_key),)],
        "value string",
    )
    events, dead = parse_events(raw)
    assert events.count() + dead.count() == 3  # nothing vanishes
    assert [r.seq for r in events.collect()] == [1]
    assert {r.reason for r in dead.collect()} == {"bad_op"}


# --------------------------------------------- time travel + vacuum (GC)


def test_time_travel_reads_past_versions(spark, tmp_path):
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=2)
    merge_into(spark, table, spark.createDataFrame(
        _rows([("I", 1, "r", "a.py", "v1")]), CHANGELOG_SCHEMA), query_id="tt", epoch=0)
    v_after_insert = table.current_metadata()["version"]
    merge_into(spark, table, spark.createDataFrame(
        _rows([("U", 2, "r", "a.py", "v2")]), CHANGELOG_SCHEMA), query_id="tt", epoch=1)

    assert table.snapshot(spark).collect()[0].content == "v2"
    past = table.snapshot(spark, version=v_after_insert).collect()
    assert len(past) == 1 and past[0].content == "v1"
    hist = table.history()
    assert [h["version"] for h in hist] == sorted(
        (h["version"] for h in hist), reverse=True
    )
    assert hist[0]["writer"] == {"query_id": "tt", "epoch": 1}
    with pytest.raises(ValueError, match="not in this table's history"):
        table.metadata_at(0)


def test_vacuum_collects_unreferenced_files_and_orphans(spark, tmp_path):
    """vacuum removes data files only referenced by expired versions AND
    the unreachable metadata of a crashed commit-race loser (unblocking a
    future commit of that version number)."""
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=2)
    for i in range(3):
        merge_into(spark, table, spark.createDataFrame(
            _rows([("U", i + 1, "r", "a.py", f"v{i + 1}")]), CHANGELOG_SCHEMA),
            query_id="vac", epoch=i)
    meta = table.current_metadata()
    live_paths = {f["path"] for f in meta["files"]}
    data_files = {os.path.join("data", f) for f in os.listdir(table.data_dir)}
    assert live_paths < data_files  # old COW versions left superseded files

    # plant an unreachable orphan (commit-race loser that crashed)
    orphan_path = os.path.join(table.meta_dir, f"v{meta['version'] + 1}.json")
    with open(orphan_path, "w") as f:
        json.dump({**meta, "version": meta["version"] + 1,
                   "parent_version": meta["version"],
                   "writer": {"query_id": "dead", "epoch": 99}}, f)

    # with the default grace window, just-written files are protected from
    # a vacuum racing an in-flight commit (ADVICE.md r2) ...
    safe = table.vacuum(keep_versions=1)
    assert safe["removed_data_files"] == 0 and os.path.exists(orphan_path)
    # ... maintenance mode (no live writers) collects immediately
    res = table.vacuum(keep_versions=1, grace_seconds=0)
    assert res["removed_data_files"] == len(data_files - live_paths)
    assert not os.path.exists(orphan_path)
    left = {os.path.join("data", f) for f in os.listdir(table.data_dir)}
    assert left == live_paths
    # current snapshot unaffected; expired version now raises cleanly
    assert table.snapshot(spark).collect()[0].content == "v3"
    with pytest.raises(ValueError, match="expired|not in"):
        table.snapshot(spark, version=meta["version"] - 1)
    # the orphaned version number is committable again
    merge_into(spark, table, spark.createDataFrame(
        _rows([("U", 10, "r", "a.py", "v4")]), CHANGELOG_SCHEMA),
        query_id="vac", epoch=3)
    assert table.snapshot(spark).collect()[0].content == "v4"


# ------------------------------------------------- CDC-out snapshot diff


def test_snapshot_diff_taxonomy(spark, tmp_path):
    """insert / update / delete / resurrection / no-change, across COW+MOR
    epochs, via time-travel diff."""
    from forklift_spark.operators.changes import snapshot_diff

    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=4)
    merge_into(spark, table, spark.createDataFrame(_rows([
        ("I", 1, "r", "stay.py", "s1"),     # unchanged afterwards
        ("I", 2, "r", "upd.py", "u1"),      # later updated
        ("I", 3, "r", "del.py", "d1"),      # later deleted
        ("D", 4, "r", "ghost.py", None),    # tombstone for never-live key
    ]), CHANGELOG_SCHEMA), query_id="d", epoch=0)
    v_from = table.current_metadata()["version"]

    merge_into(spark, table, spark.createDataFrame(_rows([
        ("U", 10, "r", "upd.py", "u2"),
        ("D", 11, "r", "del.py", None),
        ("I", 12, "r", "new.py", "n1"),
        ("I", 13, "r", "ghost.py", "g1"),   # resurrection (seq > tombstone)
    ]), CHANGELOG_SCHEMA), query_id="d", epoch=1, mode="mor")
    v_to = table.current_metadata()["version"]

    got = {
        (r.change, r.path): (r.seq, r.content_sha is not None)
        for r in snapshot_diff(spark, table, v_from, v_to).collect()
    }
    assert got == {
        ("update", "upd.py"): (10, True),
        ("delete", "del.py"): (11, False),
        ("insert", "new.py"): (12, True),
        ("insert", "ghost.py"): (13, True),
    }
    # identity diff is empty
    assert snapshot_diff(spark, table, v_to, v_to).count() == 0


# --------------------------------------- S6 Kafka wire-format happy path


def test_kafka_wire_format_to_envelope_and_merge(spark, tmp_path):
    """The whole S6 pipeline minus the socket read: a Kafka-record-shaped
    frame (key/value binary, topic, partition, offset, timestamp) flows
    through kafka_to_envelope -> merge_into; offsets ride along as source
    lineage; bad payloads land in dead letters."""
    from forklift_spark.sources.external import kafka_to_envelope

    recs = [
        (b"k1", json.dumps({"op": "I", "seq": 1, "repo": "r", "path": "p",
                            "commit": "c", "lang": "py", "content": "v1",
                            "event_ts": "2024-01-01T00:00:00Z",
                            "schema_ver": 1}).encode(), "t", 0, 100, None),
        (b"k1", json.dumps({"op": "U", "seq": 2, "repo": "r", "path": "p",
                            "commit": "c", "lang": "py", "content": "v2",
                            "event_ts": "2024-01-01T00:00:01Z",
                            "schema_ver": 1}).encode(), "t", 1, 7, None),
        (b"k2", b"{broken", "t", 0, 101, None),
    ]
    raw = spark.createDataFrame(
        recs,
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp",
    )
    events, dead = kafka_to_envelope(raw)
    evs = events.collect()
    assert {(r.seq, r._kafka_partition, r._kafka_offset) for r in evs} == {
        (1, 0, 100), (2, 1, 7)
    }
    assert dead.count() == 1

    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=2)
    merge_into(spark, table,
               events.drop("_kafka_partition", "_kafka_offset"),
               query_id="k", epoch=0)
    rows = table.snapshot(spark).collect()
    assert len(rows) == 1 and rows[0].content == "v2"


# --------------------------------------------- schema evolution widening


def test_schema_widening_int_to_long(spark, tmp_path):
    """C4+: a later batch may widen an evolved column along the safe chain
    (int -> long); files written before the widen read fine under the new
    schema, and post-widen values exceed int range."""
    from pyspark.sql import types as T

    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=2)
    v1 = T.StructType(list(CHANGELOG_SCHEMA.fields) + [
        T.StructField("n_lines", T.IntegerType(), True)])
    v2 = T.StructType(list(CHANGELOG_SCHEMA.fields) + [
        T.StructField("n_lines", T.LongType(), True)])

    merge_into(spark, table, spark.createDataFrame(
        [("I", 1, "r", "a.py", "c", "py", "v1", None, 1, 7)], v1),
        query_id="w", epoch=0)
    s0 = merge_into(spark, table, spark.createDataFrame(
        [("I", 2, "r", "b.py", "c", "py", "v1", None, 1, 5_000_000_000)], v2),
        query_id="w", epoch=1, mode="mor")
    assert any("widened:int->bigint" in c for c in s0.evolved_columns)
    assert table.schema()["n_lines"].dataType.simpleString() == "bigint"
    got = {r.path: r.n_lines for r in table.snapshot(spark).collect()}
    assert got == {"a.py": 7, "b.py": 5_000_000_000}

    # narrower batch after the widen: no schema change, still merges
    merge_into(spark, table, spark.createDataFrame(
        [("U", 3, "r", "a.py", "c", "py", "v2", None, 1, 9)], v1),
        query_id="w", epoch=2)
    got = {r.path: r.n_lines for r in table.snapshot(spark).collect()}
    assert got == {"a.py": 9, "b.py": 5_000_000_000}


def test_incompatible_type_change_rejected(spark, tmp_path):
    from pyspark.sql import types as T

    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=2)
    bad = T.StructType([
        f if f.name != "lang" else T.StructField("lang", T.LongType(), True)
        for f in CHANGELOG_SCHEMA.fields
    ])
    with pytest.raises(ValueError, match="incompatible type change"):
        merge_into(spark, table, spark.createDataFrame(
            [("I", 1, "r", "a.py", "c", 5, "x", None, 1)], bad),
            query_id="b", epoch=0)


# --------------------------------------------- stop-shingle DF cap knob


def test_shingle_df_cap_drops_stop_shingles(spark):
    """max_shingle_df removes corpus-wide stop-shingles from the inverted
    index AND the set sizes, so two docs overlapping ONLY on a stop-shingle
    no longer pair up, while true near-dups keep jaccard 1.0."""
    from forklift_spark.operators.dedup import shingle_jaccard_pairs

    rows = [
        (1, "the quick brown fox jumps high"),
        (2, "the quick brown fox jumps high"),       # true dup of 1
        (3, "the quick brown cat sits low today"),   # shares only the stop-gram
        (4, "an entirely different document body"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = shingle_jaccard_pairs(
        df, "text", "doc_id", threshold=0.1, shingle_kind="word", ngram_n=3
    )
    assert {(r.id_a, r.id_b) for r in exact.collect()} >= {(1, 2), (1, 3), (2, 3)}
    capped = shingle_jaccard_pairs(
        df, "text", "doc_id", threshold=0.1, shingle_kind="word", ngram_n=3,
        max_shingle_df=2,
    )
    got = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}
    assert set(got) == {(1, 2)} and got[(1, 2)] == 1.0


# --------------------------------------------------------- table stats


def test_table_stats_reflects_delta_backlog(spark, tmp_path):
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=4)
    merge_into(spark, table, spark.createDataFrame(
        _rows([("I", i, "r", f"f{i}.py", f"v{i}") for i in range(50)]),
        CHANGELOG_SCHEMA), query_id="s", epoch=0, mode="mor")
    s = table.stats()
    assert s["total_rows"] == 50 and s["delta_rows"] == 50
    assert s["delta_files"] == s["total_files"] > 0
    assert set(s["buckets"]) <= {0, 1, 2, 3}
    compact(spark, table)
    s2 = table.stats()
    assert s2["total_rows"] == 50 and s2["delta_files"] == s2["delta_rows"] == 0
    assert s2["version"] > s["version"]


# ----------------------------------------------------- adaptive salting


def test_adaptive_salting_engages_on_skew(spark, tmp_path):
    """salt_buckets='auto' on merge-on-read epochs with in-batch dedupe:
    one key drawing half the events drives the events-per-key skew signal
    (counted for free inside the dedupe aggregate) over the threshold, the
    NEXT epoch's dedupe runs salted, and the final state is sha-exact
    regardless. Copy-on-write epochs never salt (their one fold is
    partitioned by bucket) but still report the skew."""
    spec = ChangelogSpec(
        n_events=3_000, n_repos=50, paths_per_repo=1, hot_repo_fraction=0.5,
        seed=5, segment_rows=500,
    )
    log = tmp_path / "log"
    generate_changelog(spec, str(log))
    exp = spark.createDataFrame(expected_final_state(spec))

    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=8)
    report = run_ingest(
        spark, str(log), table, str(tmp_path / "ckpt"),
        query_id="asalt", max_files_per_trigger=1, salt_buckets="auto",
        mode="mor",
    )
    applied = [e for e in report.epochs if not e.skipped]
    assert applied[0].salt_buckets is None          # first epoch: no signal yet
    assert applied[0].key_skew > 8.0                # hot key visible in the agg
    assert all(e.salt_buckets == 16 for e in applied[1:])  # loop engaged
    assert verify_state(spark, table, exp)["ok"]

    cow = create_entity_table(str(tmp_path / "cow"), n_buckets=8)
    report = run_ingest(
        spark, str(log), cow, str(tmp_path / "ckpt-cow"),
        query_id="asalt-cow", max_files_per_trigger=1, salt_buckets="auto",
    )
    applied = [e for e in report.epochs if not e.skipped]
    assert all(e.key_skew > 8.0 for e in applied)
    assert all(e.salt_buckets is None for e in applied)
    assert verify_state(spark, cow, exp)["ok"]


# ------------------------------------------------ everything-on pipeline


def test_full_feature_pipeline_integration(spark, tmp_path):
    """All round-2 features in ONE streaming replay: MOR epochs + in-batch
    dedupe + watermarked duplicate drop (T4) + adaptive salting + periodic
    incremental compaction — final state sha-exact, table left clean."""
    spec = ChangelogSpec(
        n_events=4_000, n_repos=40, paths_per_repo=2, hot_repo_fraction=0.4,
        duplicate_fraction=0.15, seed=19, segment_rows=500,
    )
    log = tmp_path / "log"
    gen = generate_changelog(spec, str(log))
    assert gen.n_delivered > spec.n_events

    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=8)
    report = run_ingest(
        spark, str(log), table, str(tmp_path / "ckpt"),
        query_id="allon", max_files_per_trigger=2, mode="mor",
        salt_buckets="auto", compact_every=3,
        drop_dup_within_watermark="2 hours",
    )
    assert sum(e.batch_rows for e in report.epochs) == spec.n_events  # T4 drop
    exp = spark.createDataFrame(expected_final_state(spec))
    assert verify_state(spark, table, exp)["ok"]
    # ingest-loop compaction kept the delta backlog bounded
    s = table.stats()
    assert s["delta_files"] <= s["n_buckets"] * 5


# --------------------------------------- TWS stateful API (gated offline)


def test_tws_stateful_gated_with_actionable_error(spark):
    """transformWithStateInPandas needs protobuf (absent in this image);
    the builder must fail loudly with the remediation, not crash mid-query.
    If the env ever gains protobuf, the gate opens and this test just
    checks the DataFrame builds."""
    from forklift_spark.streaming.stateful import (
        StatefulApiUnavailable,
        running_max_seq_tws,
    )

    src = spark.readStream.schema("repo string, path string, seq long").parquet(
        "/tmp/nonexistent-tws-src/*.parquet"
    )
    try:
        df = running_max_seq_tws(src)
        assert df.isStreaming
    except StatefulApiUnavailable as e:
        assert "protobuf" in str(e) and "running_max_seq" in str(e)
