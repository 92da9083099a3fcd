"""Copy-on-write merge as one bucket-partitioned LWW fold (operators/merge.py
_cow_fold): the write plan's shape, and the fold's edge cases that no
other test pins down — equal-seq redelivery, overwrite of a higher stored
seq, and input-event accounting in a streaming drain. Also the write plan
of the merge-on-read in-batch dedupe, which runs the same resolver."""

import pytest

from forklift_spark.changelog import ChangelogSpec, expected_final_state, generate_changelog
from forklift_spark.operators import merge as merge_mod
from forklift_spark.operators.merge import merge_into
from forklift_spark.plans.guards import count_exchanges, executed_plan
from forklift_spark.streaming.ingest import (
    CHANGELOG_SCHEMA,
    create_entity_table,
    run_ingest,
    verify_state,
)


def _rows(spark, rows):
    return spark.createDataFrame(rows, CHANGELOG_SCHEMA)


def _state(spark, table):
    return {
        (r["repo"], r["path"]): (r["seq"], r["content"], r["deleted"])
        for r in table.snapshot(spark, include_deleted=True).collect()
    }


@pytest.fixture
def captured_writes(monkeypatch):
    """Every (frame, kwargs) handed to the data-file writer."""
    seen = []
    real = merge_mod._write_datafiles

    def spy(df, **kw):
        seen.append((df, kw))
        return real(df, **kw)

    monkeypatch.setattr(merge_mod, "_write_datafiles", spy)
    return seen


def test_cow_write_plan_has_one_exchange_and_no_cache(spark, tmp_path, captured_writes):
    table = create_entity_table(str(tmp_path / "t"), n_buckets=4)
    base = [("I", s, "r", f"p{s}", "c", "py", f"v{s}", None, 1) for s in range(1, 41)]
    merge_into(spark, table, _rows(spark, base), query_id="q", epoch=0)
    upd = [("U", 100 + s, "r", f"p{s}", "c", "py", f"w{s}", None, 1) for s in range(0, 60, 3)]
    upd.append(("U", 99, "r", "p3", "c", "py", "dup", None, 1))
    merge_into(spark, table, _rows(spark, upd), query_id="q", epoch=1)

    df, kw = captured_writes[-1]
    plan = executed_plan(df)
    assert count_exchanges(df) == 1, plan
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan
    # the writer's own bucket repartition and key sort are already
    # satisfied by the fold: they plan away, leaving one exchange
    written = df.repartition(kw["n_partitions"], "_bucket").sortWithinPartitions(
        "_bucket", *kw["sort_cols"]
    )
    assert count_exchanges(written) == 1, executed_plan(written)


def test_equal_seq_redelivery_keeps_stored_row_and_is_not_applied(spark, tmp_path):
    table = create_entity_table(str(tmp_path / "t"), n_buckets=4)
    merge_into(spark, table, _rows(spark, [
        ("I", 10, "r", "a", "c1", "py", "stored", None, 1),
        ("I", 10, "r", "b", "c1", "py", "b10", None, 1),
    ]), query_id="q", epoch=0)
    before = _state(spark, table)
    # the same seq redelivered (with a conflicting payload, so a wrong
    # tie-break would show), plus one genuinely newer event
    stats = merge_into(spark, table, _rows(spark, [
        ("U", 10, "r", "a", "c2", "py", "redelivered", None, 1),
        ("U", 11, "r", "b", "c2", "py", "b11", None, 1),
    ]), query_id="q", epoch=1)
    after = _state(spark, table)
    assert after[("r", "a")] == before[("r", "a")] == (10, "stored", False)
    assert after[("r", "b")] == (11, "b11", False)
    assert (stats.batch_rows, stats.applied_rows, stats.rows_rewritten) == (2, 1, 2)


def test_overwrite_takes_lower_seq_incoming_row(spark, tmp_path):
    table = create_entity_table(str(tmp_path / "t"), n_buckets=4)
    merge_into(spark, table, _rows(spark, [
        ("I", 50, "r", "a", "c1", "py", "newer", None, 1),
        ("I", 50, "r", "b", "c1", "py", "kept", None, 1),
    ]), query_id="q", epoch=0)
    stats = merge_into(spark, table, _rows(spark, [
        ("U", 3, "r", "a", "c0", "py", "repair-old", None, 1),
        ("U", 7, "r", "a", "c0", "py", "repair", None, 1),
    ]), query_id="q", epoch=1, overwrite=True)
    state = _state(spark, table)
    # the batch ranks ahead of seq; inside the batch the higher seq wins
    assert state[("r", "a")] == (7, "repair", False)
    assert state[("r", "b")] == (50, "kept", False)
    assert stats.applied_rows == 1
    assert verify_state(
        spark, table,
        spark.createDataFrame(
            [("r", "a", "c0", "py", "repair"), ("r", "b", "c1", "py", "kept")],
            "repo string, path string, commit string, lang string, content string",
        ),
    )["ok"]


def test_streaming_cow_drain_counts_every_delivered_event(spark, tmp_path):
    """batch_rows comes from the fold's one Observation (sum of per-key
    batch counts), so a streaming COW drain must report every delivered
    event — duplicate deliveries included — and commit every epoch."""
    spec = ChangelogSpec(
        n_events=1_500, n_repos=8, paths_per_repo=5, duplicate_fraction=0.2,
        seed=23, segment_rows=300,
    )
    gen = generate_changelog(spec, str(tmp_path / "log"))
    assert gen.n_delivered > spec.n_events
    table = create_entity_table(str(tmp_path / "t"), n_buckets=4)
    report = run_ingest(
        spark, str(tmp_path / "log"), table, str(tmp_path / "ckpt"),
        query_id="drain", max_files_per_trigger=2, mode="cow",
    )
    applied = [e for e in report.epochs if not e.skipped]
    assert len(applied) >= 2
    assert all(e.mode_used == "cow" and e.salt_buckets is None for e in applied)
    assert sum(e.batch_rows for e in applied) == gen.n_delivered
    exp = spark.createDataFrame(expected_final_state(spec))
    assert verify_state(spark, table, exp)["ok"]


def _mor_dedupe_write_exchanges(spark, path, captured_writes, *, column_lww, salt_buckets):
    table = create_entity_table(path, n_buckets=4, column_lww=column_lww)
    op = "P" if column_lww else "U"
    events = [("I", s, "r", f"p{s % 7}", "c", "py", f"v{s}", None, 1) for s in range(1, 30)]
    events += [(op, 100 + s, "r", f"p{s}", None, "js", None, None, 1) for s in range(3)]
    merge_into(
        spark, table, _rows(spark, events), query_id="q", epoch=0, mode="mor",
        salt_buckets=salt_buckets,
    )
    df, kw = captured_writes[-1]
    assert kw["delta"] is True
    # the writer repartitions by _bucket on top of the frame it is handed
    written = df.repartition(kw["n_partitions"], "_bucket")
    return count_exchanges(written), executed_plan(written)


@pytest.mark.parametrize("column_lww", [False, True])
def test_mor_dedupe_write_plan_exchanges(spark, tmp_path, captured_writes, column_lww):
    n, plan = _mor_dedupe_write_exchanges(
        spark, str(tmp_path / "plain"), captured_writes,
        column_lww=column_lww, salt_buckets=None,
    )
    assert n == 2, plan  # the dedupe aggregate + the bucket repartition
    n, plan = _mor_dedupe_write_exchanges(
        spark, str(tmp_path / "salted"), captured_writes,
        column_lww=column_lww, salt_buckets=16,
    )
    assert n <= 3, plan  # two salted resolver passes + the bucket repartition
