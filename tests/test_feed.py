"""The twin rule of operators/feed.py, driven through each spec-driven
feed (derive, derive_agg, derive_index, derive_join). A twin process that
commits the same epoch first makes our commit conflict: the feed must
observe the twin's marker, skip, and leave the destination equal to the
one-shot recompute. A conflict with no marker is a genuine conflict and
must surface."""

import pytest
from pyspark.sql import functions as F

from forklift_spark.lakette.table import CommitConflictError, LaketteTable
from forklift_spark.operators import feed
from forklift_spark.operators.derive import derive, derived_state_recompute
from forklift_spark.operators.derive_agg import derive_agg, derived_agg_recompute
from forklift_spark.operators.derive_index import derive_index
from forklift_spark.operators.derive_join import derive_join, derived_join_recompute
from forklift_spark.operators.merge import merge_into
from forklift_spark.streaming.ingest import create_entity_table

_DDL = (
    "op string, seq long, repo string, path string, commit string, "
    "lang string, content string, event_ts timestamp, schema_v int"
)
_D_DDL = "op string, lang_id string, lang_name string, seq long"

MAPPING = {"lang": "lang", "content": "upper(content)", "n": "length(content)"}
GROUPS = ["lang"]
AGGS = {"total": "sum(length(content))"}
ON = {"lang": "lang_id"}
JOIN_MAPPING = {"lang": "lang", "lang_name": "dim_lang_name", "n": "length(content)"}

#: name -> (sync(spark, src, dim, dst_root), oracle(spark, src, dim))
FEEDS = {
    "derive": (
        lambda s, src, dim, root: derive(
            s, src, root, MAPPING, predicate="lang <> 'md'", derive_id="d"
        ),
        lambda s, src, dim: derived_state_recompute(
            s, src, MAPPING, predicate="lang <> 'md'"
        ),
    ),
    "derive_agg": (
        lambda s, src, dim, root: derive_agg(
            s, src, root, GROUPS, AGGS, derive_id="g"
        ),
        lambda s, src, dim: derived_agg_recompute(s, src, GROUPS, AGGS),
    ),
    "derive_index": (
        lambda s, src, dim, root: derive_index(
            s, src, root, "commit", derive_id="i"
        ),
        lambda s, src, dim: src.snapshot(s).select(
            F.col("commit").alias("term"), "repo", "path"
        ),
    ),
    "derive_join": (
        lambda s, src, dim, root: derive_join(
            s, src, dim, root, ON, JOIN_MAPPING, derive_id="j"
        ),
        lambda s, src, dim: derived_join_recompute(s, src, dim, ON, JOIN_MAPPING),
    ),
}


def _ev(op, seq, path, lang, content):
    return (op, seq, "r", path, f"c{seq}", lang, content, None, 1)


def _merge(spark, table, rows, ddl, epoch):
    merge_into(spark, table, spark.createDataFrame(rows, ddl),
               query_id="src", epoch=epoch)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture()
def tables(spark, tmp_path):
    src = create_entity_table(str(tmp_path / "src"), n_buckets=2)
    _merge(spark, src, [
        _ev("I", i, f"f/{i}.txt", ["py", "js", "md"][i % 3], f"body {i}")
        for i in range(12)
    ], _DDL, 0)
    dim = LaketteTable.create(
        str(tmp_path / "dim"),
        spark.createDataFrame([], "lang_id string, lang_name string").schema,
        ["lang_id"], n_buckets=2,
    )
    _merge(spark, dim, [("I", "py", "python", 1), ("I", "js", "javascript", 2)],
           _D_DDL, 0)
    return src, dim


def _twin_commits_first(monkeypatch, *, twin_commits: bool) -> list:
    """Replace feed.merge_into: its first call lets a twin commit the
    epoch (marker included) when `twin_commits`, then loses the commit
    race with CommitConflictError; later calls are the real merge."""
    real = feed.merge_into
    calls = []

    def fake(spark, dst, batch, **kw):
        calls.append(kw["epoch"])
        if len(calls) == 1:
            if twin_commits:
                real(spark, dst, batch, **kw)
            raise CommitConflictError("a twin committed this epoch first")
        return real(spark, dst, batch, **kw)

    monkeypatch.setattr(feed, "merge_into", fake)
    return calls


def _advance_source(spark, src):
    _merge(spark, src, [
        _ev("U", 100, "f/1.txt", "py", "moved to py"),
        _ev("D", 101, "f/4.txt", None, None),
        _ev("I", 102, "f/new.txt", "js", "fresh row"),
    ], _DDL, 1)


@pytest.mark.parametrize("name", sorted(FEEDS))
def test_twin_commit_is_skipped(spark, tables, tmp_path, monkeypatch, name):
    sync, oracle = FEEDS[name]
    src, dim = tables
    root = str(tmp_path / "dst")
    sync(spark, src, dim, root)
    _advance_source(spark, src)

    calls = _twin_commits_first(monkeypatch, twin_commits=True)
    r = sync(spark, src, dim, root)
    assert len(calls) == 2 and calls[0] == calls[1]  # retried the same epoch
    assert r.applied_epochs[-1].skipped
    expected = oracle(spark, src, dim)
    got = LaketteTable(root).snapshot(spark)
    assert _rows(got, expected.columns) == _rows(expected, expected.columns)


@pytest.mark.parametrize("name", sorted(FEEDS))
def test_conflict_without_marker_reraises(spark, tables, tmp_path, monkeypatch, name):
    sync, _ = FEEDS[name]
    src, dim = tables
    root = str(tmp_path / "dst")
    sync(spark, src, dim, root)
    _advance_source(spark, src)

    calls = _twin_commits_first(monkeypatch, twin_commits=False)
    with pytest.raises(CommitConflictError):
        sync(spark, src, dim, root)
    assert len(calls) == 1  # no retry without the twin's marker


def test_repair_epoch_is_copy_on_write_on_a_mor_destination(spark, tables, tmp_path):
    """A repair epoch forces rows with overwrite, which only copy-on-write
    can express, so it runs copy-on-write whatever the feed's steady-state
    mode: a merge-on-read gold table whose source vacuumed past its offset
    repairs to the recompute instead of failing."""
    src, _ = tables
    root = str(tmp_path / "gold")
    derive_agg(spark, src, root, GROUPS, AGGS, derive_id="g", mode="mor")
    for e in range(1, 4):
        _merge(spark, src, [
            _ev("U", 100 * e + i, f"f/{i}.txt", ["py", "js"][(i + e) % 2], "x" * e)
            for i in range(0, 12, 4)
        ] + [_ev("D", 100 * e + 50, f"f/{e}.txt", None, None)], _DDL, e)
    src.vacuum(keep_versions=1, grace_seconds=0)
    r = derive_agg(spark, src, root, GROUPS, AGGS, derive_id="g", mode="mor")
    assert r.resync
    expected = derived_agg_recompute(spark, src, GROUPS, AGGS)
    got = LaketteTable(root).snapshot(spark)
    assert _rows(got, expected.columns) == _rows(expected, expected.columns)
