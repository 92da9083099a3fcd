"""Regression tests for the round-3 code-review findings on the core
engine (crash-window healing, typed nulls in MOR evolution, create race,
NULL-content verification, operational-file retention)."""

import os

import pytest
from pyspark.sql import functions as F

from forklift_spark.lakette.table import CommitConflictError, LaketteTable
from forklift_spark.operators.merge import (
    compact,
    merge_into,
    read_lineage,
    read_metrics,
)
from forklift_spark.streaming.ingest import (
    CHANGELOG_SCHEMA,
    CHANGELOG_SCHEMA_V2,
    create_entity_table,
    open_or_create_entity_table,
    verify_state,
)


def _rows(tups, **extra):
    return [
        {
            "op": op, "seq": seq, "repo": repo, "path": path, "commit": None,
            "lang": "py", "content": content, "event_ts": None,
            "schema_ver": None, **extra,
        }
        for op, seq, repo, path, content in tups
    ]


def test_mor_missing_evolved_column_writes_typed_null(spark, tmp_path):
    """An untyped NULL for an evolved column used to write a null-typed
    parquet column that the table's declared long type could not read
    back — the table became unreadable until compaction."""
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=2)
    evolved = [
        {**r, "size_bytes": 11}
        for r in _rows([("I", 1, "r", "a.py", "v1")])
    ]
    merge_into(spark, table, spark.createDataFrame(evolved, CHANGELOG_SCHEMA_V2),
               query_id="e", epoch=0)  # table now has size_bytes: long
    # pre-evolution producer: batch LACKS size_bytes, merged via MOR
    merge_into(spark, table, spark.createDataFrame(
        _rows([("I", 2, "r", "b.py", "v2")]), CHANGELOG_SCHEMA),
        query_id="e", epoch=1, mode="mor")
    got = {r.path: r.size_bytes for r in table.snapshot(spark).collect()}
    assert got == {"a.py": 11, "b.py": None}


def test_verify_state_accepts_null_content(spark, tmp_path):
    """sha2(NULL)=NULL on both sides must verify as a MATCH, not count the
    row as simultaneously missing and extra."""
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=2)
    merge_into(spark, table, spark.createDataFrame(
        _rows([("I", 1, "r", "null.py", None), ("I", 2, "r", "full.py", "x")]),
        CHANGELOG_SCHEMA), query_id="n", epoch=0)
    exp = spark.createDataFrame(
        [("r", "null.py", None), ("r", "full.py", "x")],
        "repo string, path string, content string",
    )
    res = verify_state(spark, table, exp)
    assert res["ok"], res
    # and a REAL divergence still fails
    bad = spark.createDataFrame(
        [("r", "null.py", "not-null"), ("r", "full.py", "x")],
        "repo string, path string, content string",
    )
    assert not verify_state(spark, table, bad)["ok"]


def test_create_race_is_exclusive(spark, tmp_path):
    root = str(tmp_path / "tbl")
    create_entity_table(root, n_buckets=2)
    with pytest.raises(CommitConflictError, match="already exists"):
        create_entity_table(root, n_buckets=4)
    # the open_or_create wrapper absorbs the race
    t = open_or_create_entity_table(root, n_buckets=4)
    assert t.n_buckets() == 2  # the first creator won


def test_successor_commit_heals_missing_marker(spark, tmp_path):
    """Crash window: epoch committed, marker lost, then ANOTHER writer
    commits (overwriting the writer stamp). The successor must persist the
    predecessor's marker first, so the epoch still never replays."""
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=2)
    batch = spark.createDataFrame(_rows([("I", 1, "r", "a.py", "v1")]), CHANGELOG_SCHEMA)
    merge_into(spark, table, batch, query_id="q", epoch=0, mode="mor")
    os.remove(table._marker_path("q", 0))  # the crash window

    compact(spark, table)  # an unrelated successor commit
    assert os.path.exists(table._marker_path("q", 0))  # healed
    again = merge_into(spark, table, batch, query_id="q", epoch=0, mode="mor")
    assert again.skipped
    assert table.snapshot(spark).count() == 1


def test_marker_repair_closes_audit_gap(spark, tmp_path):
    """Crash between commit and marker, detected by the SAME query's
    replay: the repair writes marker + fallback lineage + metrics rows, so
    audits see the committed epoch."""
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=2)
    batch = spark.createDataFrame(_rows([("I", 1, "r", "a.py", "v1")]), CHANGELOG_SCHEMA)
    merge_into(spark, table, batch, query_id="q", epoch=5)
    os.remove(table._marker_path("q", 5))
    os.remove(os.path.join(table.lineage_dir, "q-000000005.parquet"))

    stats = merge_into(spark, table, batch, query_id="q", epoch=5)
    assert stats.skipped
    lin = read_lineage(spark, table).filter("query_id = 'q' AND epoch = 5")
    assert lin.count() == 1  # fallback audit row restored
    assert any(m["epoch"] == 5 for m in read_metrics(table))


def test_expire_epochs_retention(spark, tmp_path):
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=2)
    for e in range(6):
        merge_into(spark, table, spark.createDataFrame(
            _rows([("U", 10 + e, "r", "a.py", f"v{e}")]), CHANGELOG_SCHEMA),
            query_id="q", epoch=e, mode="mor")
    removed = table.expire_epochs(keep_last=2)
    assert removed["markers"] == 4 and removed["lineage"] == 4
    kept = sorted(int(f[:-5]) for f in os.listdir(os.path.join(table.epochs_dir, "q")))
    assert kept == [4, 5]
    assert read_lineage(spark, table).count() == 2
