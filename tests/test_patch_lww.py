"""Partial-update (op='P') CDC events — per-column LWW (operators/patch.py).

The binding oracle is a SEQUENTIAL REPLAY in plain Python: apply every
event in commit-seq order where I/U set all payload columns, D deletes,
and P sets only its non-NULL columns (on a tombstoned/absent key, P
resurrects/creates the row carrying only its own columns). The engine
must equal that fold — and, because its rules are associative maxes,
must equal it under ANY random partition of the log into micro-batches
applied in ANY order (confluence, the same contract the row-level
engine proves in tests/test_properties.py)."""

import random

import pytest
from pyspark.sql import functions as F

from forklift_spark.lakette.table import LaketteTable
from forklift_spark.operators.merge import _row_shape, merge_into, resolve
from forklift_spark.streaming.ingest import create_entity_table

_DDL = (
    "op string, seq long, repo string, path string, commit string, "
    "lang string, content string, event_ts timestamp, schema_v int"
)
PAYLOAD = ["commit", "lang", "content"]


def _ev(op, seq, repo, path, commit=None, lang=None, content=None):
    return (op, seq, repo, path, commit, lang, content, None, 1)


def _fold(events):
    """Sequential-replay oracle: dict key -> final row (live keys only),
    plus the row-level seq (max event seq seen for the key)."""
    rows = {}
    for e in sorted(events, key=lambda r: r[1]):
        op, seq, repo, path, commit, lang, content = e[:7]
        k = (repo, path)
        vals = {"commit": commit, "lang": lang, "content": content}
        if op == "D":
            rows[k] = {"deleted": True, "seq": seq,
                       **{c: None for c in PAYLOAD}}
        elif op in ("I", "U"):
            rows[k] = {"deleted": False, "seq": seq, **vals}
        else:  # P: patch non-NULL columns over the current live state
            cur = rows.get(k)
            base = (
                {c: None for c in PAYLOAD}
                if cur is None or cur["deleted"]
                else {c: cur[c] for c in PAYLOAD}
            )
            for c in PAYLOAD:
                if vals[c] is not None:
                    base[c] = vals[c]
            rows[k] = {"deleted": False, "seq": seq, **base}
    return {k: v for k, v in rows.items() if not v["deleted"]}


def _engine_state(spark, table):
    snap = table.snapshot(spark).select("repo", "path", "seq", *PAYLOAD)
    return {
        (r.repo, r.path): {
            "seq": r.seq, "commit": r.commit, "lang": r.lang,
            "content": r.content, "deleted": False,
        }
        for r in snap.collect()
    }


def _apply(spark, table, rows, epoch, query_id="p", **kw):
    return merge_into(
        spark, table, spark.createDataFrame(rows, _DDL),
        query_id=query_id, epoch=epoch, **kw,
    )


def _sha_ok(spark, table):
    bad = (
        table.snapshot(spark)
        .filter(~F.sha2("content", 256).eqNullSafe(F.col("content_sha")))
        .count()
    )
    return bad == 0


def _random_log(seed, n_events=240, n_keys=30):
    rnd = random.Random(seed)
    evs = []
    for seq in range(1, n_events + 1):
        k = rnd.randrange(n_keys)
        repo, path = f"r{k % 5}", f"f/{k}.txt"
        op = rnd.choices(["I", "U", "P", "D"], weights=[2, 3, 4, 1])[0]
        if op in ("I", "U"):
            evs.append(_ev(op, seq, repo, path, f"c{seq}", f"l{seq % 4}",
                           f"body {k} @{seq}"))
        elif op == "P":
            # random non-empty column subset
            cols = rnd.sample(PAYLOAD, rnd.randrange(1, len(PAYLOAD) + 1))
            vals = {c: (f"{c[:1]}{seq}" if c in cols else None) for c in PAYLOAD}
            evs.append(_ev("P", seq, repo, path, **vals))
        else:
            evs.append(_ev("D", seq, repo, path))
    return evs


def test_patch_semantics_single_batch(spark, tmp_path):
    """One batch covering every rule: partial writes, per-column late-patch
    drop, delete reset, patch-resurrect, patch-creates-key."""
    table = create_entity_table(str(tmp_path / "t"), n_buckets=4, column_lww=True)
    events = [
        _ev("I", 10, "r0", "a", "c10", "py", "body a"),
        _ev("P", 12, "r0", "a", lang="js"),            # patches lang only
        _ev("P", 5, "r0", "a", content="stale"),       # LATE: content stays
        _ev("I", 10, "r0", "b", "c10", "py", "body b"),
        _ev("D", 20, "r0", "b"),
        _ev("P", 25, "r0", "b", content="resurrected"),  # patch over tombstone
        _ev("P", 30, "r0", "c", lang="go"),            # patch creates the key
        _ev("I", 10, "r0", "d", "c10", "py", "body d"),
        _ev("P", 15, "r0", "d", content="v2"),
        _ev("D", 40, "r0", "e"),                       # delete of absent key
    ]
    _apply(spark, table, events, 0)
    got = _engine_state(spark, table)
    exp = _fold(events)
    assert got == exp
    a = got[("r0", "a")]
    assert a["lang"] == "js" and a["content"] == "body a" and a["seq"] == 12
    b = got[("r0", "b")]
    assert b["content"] == "resurrected" and b["lang"] is None
    assert got[("r0", "c")]["lang"] == "go" and got[("r0", "c")]["content"] is None
    assert ("r0", "e") not in got
    assert _sha_ok(spark, table)


def test_late_patch_dropped_per_column_across_batches(spark, tmp_path):
    """The stored col_seqs state is what makes cross-batch late patches
    correct: a patch below a column's last writer loses ONLY that column."""
    table = create_entity_table(str(tmp_path / "t"), n_buckets=4, column_lww=True)
    _apply(spark, table, [_ev("U", 10, "r0", "a", "c10", "py", "v10")], 0)
    # late for content (5 < 10), current for nothing else
    _apply(spark, table, [_ev("P", 5, "r0", "a", content="stale")], 1)
    st = _engine_state(spark, table)[("r0", "a")]
    assert st["content"] == "v10" and st["seq"] == 10
    # above for lang, late for content — applied per column
    _apply(spark, table, [
        _ev("P", 12, "r0", "a", lang="js"),
        _ev("P", 7, "r0", "a", content="still stale"),
    ], 2)
    st = _engine_state(spark, table)[("r0", "a")]
    assert st == {"seq": 12, "commit": "c10", "lang": "js",
                  "content": "v10", "deleted": False}
    assert _sha_ok(spark, table)


def test_delete_resets_columns_across_batches(spark, tmp_path):
    """A delete writes every column at its seq: a later patch resurrects
    with ONLY its columns; a patch below the delete stays dead."""
    table = create_entity_table(str(tmp_path / "t"), n_buckets=4, column_lww=True)
    _apply(spark, table, [_ev("I", 10, "r0", "a", "c10", "py", "body")], 0)
    _apply(spark, table, [_ev("D", 20, "r0", "a")], 1)
    assert _engine_state(spark, table) == {}
    _apply(spark, table, [_ev("P", 15, "r0", "a", content="late")], 2)
    assert _engine_state(spark, table) == {}  # patch below the tombstone
    _apply(spark, table, [_ev("P", 25, "r0", "a", lang="go")], 3)
    st = _engine_state(spark, table)[("r0", "a")]
    # pre-delete columns do NOT leak through the reset
    assert st == {"seq": 25, "commit": None, "lang": "go",
                  "content": None, "deleted": False}


@pytest.mark.parametrize("seed", [1, 2])
def test_confluence_random_batching(spark, tmp_path, seed):
    """Any partition of the log into any order of micro-batches converges
    to the sequential-replay fold."""
    events = _random_log(seed)
    exp = _fold(events)
    for trial in range(2):
        rnd = random.Random(100 * seed + trial)
        shuffled = events[:]
        rnd.shuffle(shuffled)
        n_batches = rnd.randrange(2, 6)
        batches = [shuffled[i::n_batches] for i in range(n_batches)]
        table = create_entity_table(
            str(tmp_path / f"t{trial}"), n_buckets=4, column_lww=True
        )
        for i, b in enumerate(batches):
            if b:
                _apply(spark, table, b, i)
        assert _engine_state(spark, table) == exp, f"trial {trial}"
        assert _sha_ok(spark, table)


def test_salted_equals_unsalted(spark, tmp_path):
    events = _random_log(7)
    t1 = create_entity_table(str(tmp_path / "t1"), n_buckets=4, column_lww=True)
    t2 = create_entity_table(str(tmp_path / "t2"), n_buckets=4, column_lww=True)
    _apply(spark, t1, events, 0)
    _apply(spark, t2, events, 0, salt_buckets=8)
    assert _engine_state(spark, t1) == _engine_state(spark, t2) == _fold(events)


def test_schema_evolution_with_patches(spark, tmp_path):
    """An evolved column arriving via patch events: added additively, set
    on patched keys, NULL elsewhere; col_seqs has no entry for it on old
    rows so any writer wins (no special cases)."""
    table = create_entity_table(str(tmp_path / "t"), n_buckets=4, column_lww=True)
    _apply(spark, table, [
        _ev("I", 10, "r0", "a", "c10", "py", "body a"),
        _ev("I", 10, "r0", "b", "c10", "py", "body b"),
    ], 0)
    ddl2 = _DDL + ", size_bytes long"
    batch = spark.createDataFrame(
        [("P", 20, "r0", "a", None, None, None, None, 2, 123)], ddl2
    )
    stats = merge_into(spark, table, batch, query_id="p", epoch=1)
    assert stats.evolved_columns == ["size_bytes"]
    snap = {r.path: r for r in table.snapshot(spark).collect()}
    assert snap["a"].size_bytes == 123 and snap["a"].content == "body a"
    assert snap["b"].size_bytes is None
    # and the evolved column participates in per-column LWW from then on
    merge_into(spark, table, spark.createDataFrame(
        [("P", 15, "r0", "a", None, None, None, None, 2, 999)], ddl2
    ), query_id="p", epoch=2)
    assert {r.path: r.size_bytes for r in table.snapshot(spark).collect()}[
        "a"
    ] == 123  # seq 15 < 20: late for that column


def test_guards_overwrite_and_auto(spark, tmp_path):
    table = create_entity_table(str(tmp_path / "t"), n_buckets=4, column_lww=True)
    rows = [_ev("I", 1, "r0", "a", "c", "py", "x")]
    df = spark.createDataFrame(rows, _DDL)
    with pytest.raises(ValueError, match="overwrite"):
        merge_into(spark, table, df, query_id="q", epoch=0, overwrite=True)
    # auto picks a mode per epoch and applies (first epoch: exact decision)
    stats = merge_into(spark, table, df, query_id="q", epoch=0, mode="auto")
    assert stats.mode_used in ("cow", "mor") and not stats.skipped


def test_patch_event_on_row_level_table_fails_loudly(spark, tmp_path):
    """A 'P' event reaching a row-level table must fail the job BEFORE the
    commit, in both storage modes — not silently null out columns."""
    table = create_entity_table(str(tmp_path / "t"), n_buckets=4)
    v0 = table.current_metadata()["version"]
    rows = [_ev("P", 5, "r0", "a", lang="js")]
    df = spark.createDataFrame(rows, _DDL)
    with pytest.raises(Exception, match="column_lww"):
        merge_into(spark, table, df, query_id="q", epoch=0)
    with pytest.raises(Exception, match="column_lww"):
        merge_into(spark, table, df, query_id="q2", epoch=0, mode="mor")
    assert table.current_metadata()["version"] == v0  # nothing committed


def test_losing_patch_event_on_row_level_table_fails_in_both_modes(spark, tmp_path):
    """A 'P' that loses in-batch LWW to a newer full row is still a patch
    event on a row-level table: events are shaped (op_guard) before any
    resolve, so whether the batch is rejected does not depend on the
    storage mode (mode="auto" picks one per epoch)."""
    table = create_entity_table(str(tmp_path / "t"), n_buckets=4)
    v0 = table.current_metadata()["version"]
    rows = [_ev("U", 5, "r0", "a", "c1", "py", "full"), _ev("P", 3, "r0", "a", lang="js")]
    df = spark.createDataFrame(rows, _DDL)
    with pytest.raises(Exception, match="column_lww"):
        merge_into(spark, table, df, query_id="q", epoch=0)
    with pytest.raises(Exception, match="column_lww"):
        merge_into(spark, table, df, query_id="q2", epoch=0, mode="mor")
    assert table.current_metadata()["version"] == v0  # nothing committed


def test_patch_streaming_replay(spark, tmp_path):
    """End-to-end: a patch changelog as parquet segments through run_ingest
    (rate-limited micro-batches) equals the sequential fold."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from forklift_spark.streaming.ingest import run_ingest

    events = _random_log(11, n_events=300, n_keys=40)
    seg_dir = tmp_path / "log"
    seg_dir.mkdir()
    cols = ["op", "seq", "repo", "path", "commit", "lang", "content",
            "event_ts", "schema_ver"]
    for i in range(3):
        chunk = events[i * 100:(i + 1) * 100]
        pdf = pd.DataFrame(chunk, columns=cols)
        pdf["event_ts"] = pd.Timestamp("2026-01-01")
        pdf["schema_ver"] = pd.array([1] * len(pdf), dtype="int32")
        pdf["seq"] = pdf["seq"].astype("int64")
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        pq.write_table(tbl, seg_dir / f"seg-{i:05d}.parquet",
                       coerce_timestamps="us")
    table = create_entity_table(str(tmp_path / "t"), n_buckets=4,
                                column_lww=True)
    report = run_ingest(
        spark, str(seg_dir), table, str(tmp_path / "ckpt"),
        query_id="pstream", max_files_per_trigger=1,
    )
    assert len([e for e in report.epochs if not e.skipped]) == 3
    assert _engine_state(spark, table) == _fold(events)
    assert _sha_ok(spark, table)


def test_column_lww_resolve_unit(spark):
    """The in-batch resolve alone, over events shaped into physical rows:
    per-column writer seqs, NULL for a column the batch never wrote,
    deletes write every column."""
    df = spark.createDataFrame(
        [
            _ev("I", 1, "r", "k", "c1", "py", "b1"),
            _ev("P", 3, "r", "k", lang="js"),
            _ev("P", 2, "r", "k", content="b2"),
            _ev("P", 1, "r", "k2", lang="go"),
        ],
        _DDL,
    ).drop("event_ts", "schema_v")
    types = {f.name: f.dataType for f in df.schema.fields}
    shaped = df.select(*_row_shape(df.columns, ["repo", "path"], PAYLOAD, types, True))
    out = {
        (r.repo, r.path): r
        for r in resolve(shaped, ["repo", "path"], PAYLOAD, column_lww=True).collect()
    }
    k = out[("r", "k")]
    assert (k.commit, k.lang, k.content) == ("c1", "js", "b2")
    assert k.col_seqs == {"commit": 1, "lang": 3, "content": 2}
    assert k.seq == 3 and k.deleted is False
    k2 = out[("r", "k2")]
    assert k2.col_seqs["lang"] == 1 and k2.col_seqs["commit"] is None


@pytest.mark.parametrize("column_lww", [False, True])
def test_resolve_output_is_a_valid_resolve_input(spark, column_lww):
    """The resolver's output has its input's shape, so resolving it again
    changes nothing — values, seqs, tombstones, content_sha and the summed
    per-row event counts `_n` — and a split into two passes (the salted
    dedupe) equals one pass."""
    events = _random_log(23, n_events=120, n_keys=12)
    if not column_lww:
        events = [e for e in events if e[0] != "P"]
    df = spark.createDataFrame(events, _DDL).drop("event_ts", "schema_v")
    types = {f.name: f.dataType for f in df.schema.fields}
    keys = ["repo", "path"]
    shaped = df.select(
        *_row_shape(df.columns, keys, PAYLOAD, types, column_lww), F.lit(1).alias("_n")
    )

    def _rows(frame):
        return sorted(tuple(r) for r in frame.select(*shaped.columns).collect())

    once = resolve(shaped, keys, PAYLOAD, column_lww=column_lww)
    assert sorted(once.columns) == sorted(shaped.columns)
    assert _rows(resolve(once, keys, PAYLOAD, column_lww=column_lww)) == _rows(once)
    halves = resolve(
        shaped.withColumn("_h", F.col("seq") % 2), [*keys, "_h"], PAYLOAD,
        column_lww=column_lww,
    ).drop("_h")
    assert _rows(resolve(halves, keys, PAYLOAD, column_lww=column_lww)) == _rows(once)
    n = {(r.repo, r.path): r._n for r in once.collect()}
    assert sum(n.values()) == len(events)


def test_mor_modes_equal_cow_and_fold(spark, tmp_path):
    """Merge-on-read patch path (r5 v2): raw appends (dedupe skipped),
    deduped deltas, cow, and a random MIX of modes across batches all
    converge to the sequential fold — associativity across in-batch
    resolve, delta granularity, and the read-time column fold."""
    events = _random_log(19, n_events=200, n_keys=25)
    exp = _fold(events)
    batches = [events[i::3] for i in range(3)]

    variants = {
        "mor_raw": dict(mode="mor", dedupe_in_batch=False),
        "mor_dedup": dict(mode="mor", dedupe_in_batch=True),
        "cow": dict(mode="cow"),
    }
    states = {}
    for name, kw in variants.items():
        t = create_entity_table(str(tmp_path / name), n_buckets=4,
                                column_lww=True)
        for i, b in enumerate(batches):
            _apply(spark, t, b, i, **kw)
        states[name] = _engine_state(spark, t)
        assert _sha_ok(spark, t), name
    # mixed modes batch-by-batch
    t = create_entity_table(str(tmp_path / "mixed"), n_buckets=4,
                            column_lww=True)
    for i, (b, kw) in enumerate(zip(batches, variants.values())):
        _apply(spark, t, b, i, **kw)
    states["mixed"] = _engine_state(spark, t)
    for name, st in states.items():
        assert st == exp, name


def test_mor_compact_folds_patch_deltas(spark, tmp_path):
    """compact() on a patch table folds delta files through the column
    fold (inherited via snapshot): state unchanged, groups clean after."""
    from forklift_spark.operators.merge import compact

    events = _random_log(23, n_events=150, n_keys=20)
    t = create_entity_table(str(tmp_path / "t"), n_buckets=4, column_lww=True)
    for i in range(3):
        _apply(spark, t, events[i::3], i, mode="mor", dedupe_in_batch=False)
    before = _engine_state(spark, t)
    assert t.current_metadata()["total_delta_files"] > 0
    compact(spark, t)
    assert t.current_metadata()["total_delta_files"] == 0
    assert _engine_state(spark, t) == before == _fold(events)
    assert _sha_ok(spark, t)
    # and patches continue to resolve against the compacted base
    late = [_ev("P", 1, "r0", "f/1.txt", content="ancient")]
    fresh = [_ev("P", 10_000, "r0", "f/1.txt", lang="zz")]
    _apply(spark, t, late + fresh, 99, mode="mor")
    assert _engine_state(spark, t) == _fold(events + late + fresh)


def test_min_seq_exact_on_patch_table(spark, tmp_path):
    """snapshot(min_seq=W) on a column_lww table: file-level max(seq)
    pruning is disabled (an old file can hold a column's winner for a
    row-level-current key) but the row filter is exact."""
    t = create_entity_table(str(tmp_path / "t"), n_buckets=4, column_lww=True)
    _apply(spark, t, [_ev("I", 10, "r0", "a", "c10", "py", "old body")], 0,
           mode="mor")
    _apply(spark, t, [_ev("P", 50, "r0", "a", lang="js")], 1, mode="mor")
    got = t.snapshot(spark, min_seq=40).collect()
    assert len(got) == 1
    # the row is current (seq 50) and its content comes from the PRUNABLE
    # older file — must not be nulled by file pruning
    assert got[0].content == "old body" and got[0].lang == "js"
    assert t.snapshot(spark, min_seq=60).count() == 0


def test_patch_streaming_mor_with_compaction(spark, tmp_path):
    """The high-throughput shape end-to-end: mor + no in-batch dedupe +
    periodic incremental compaction through run_ingest."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from forklift_spark.streaming.ingest import run_ingest

    events = _random_log(29, n_events=300, n_keys=40)
    seg_dir = tmp_path / "log"
    seg_dir.mkdir()
    cols = ["op", "seq", "repo", "path", "commit", "lang", "content",
            "event_ts", "schema_ver"]
    for i in range(3):
        pdf = pd.DataFrame(events[i * 100:(i + 1) * 100], columns=cols)
        pdf["event_ts"] = pd.Timestamp("2026-01-01")
        pdf["schema_ver"] = pd.array([1] * len(pdf), dtype="int32")
        pdf["seq"] = pdf["seq"].astype("int64")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       seg_dir / f"seg-{i:05d}.parquet",
                       coerce_timestamps="us")
    table = create_entity_table(str(tmp_path / "t"), n_buckets=4,
                                column_lww=True)
    run_ingest(
        spark, str(seg_dir), table, str(tmp_path / "ckpt"),
        query_id="pmor", max_files_per_trigger=1,
        mode="mor", dedupe_in_batch=False, compact_every=2,
    )
    assert _engine_state(spark, table) == _fold(events)
    assert _sha_ok(spark, table)
