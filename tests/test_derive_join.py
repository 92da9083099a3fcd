"""Incrementally-maintained join derived tables (operators/derive_join.py).
Binding invariants: (1) after any interleaving of fact and dim epochs the
destination equals the one-shot join recompute row-for-row, WITHOUT
resyncs; (2) dim-driven refreshes disclose their lookup path (pruned
col_eq IN-set vs distributed semi-join) and both paths agree; (3) inner
vs left delete/NULL-enrichment semantics; (4) crash windows between merge
and sidecar re-enter idempotently; (5) vacuumed offsets repair via
resync; (6) the join-shape and spec guards are loud."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from forklift_spark.lakette.table import LaketteTable
from forklift_spark.operators.derive_join import (
    derive_join,
    derived_join_recompute,
)
from forklift_spark.operators.merge import merge_into

FACT_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("fk", T.StringType()),
    T.StructField("size", T.IntegerType()),
])
DIM_SCHEMA = T.StructType([
    T.StructField("lang_id", T.StringType()),
    T.StructField("lang_name", T.StringType()),
    T.StructField("family", T.StringType()),
])
ON = {"fk": "lang_id"}
MAPPING = {
    "fk": "fk",
    "size2": "size * 2",
    "lang_name": "dim_lang_name",
    "fam": "upper(dim_family)",
}
_F_DDL = "op string, path string, fk string, size int, seq long"
_D_DDL = "op string, lang_id string, lang_name string, family string, seq long"


def _tables(tmp_path, **fact_kw):
    fact = LaketteTable.create(
        str(tmp_path / "fact"), FACT_SCHEMA, ["path"], n_buckets=2, **fact_kw
    )
    dim = LaketteTable.create(
        str(tmp_path / "dim"), DIM_SCHEMA, ["lang_id"], n_buckets=2
    )
    return fact, dim


def _fmerge(spark, fact, rows, epoch):
    merge_into(spark, fact, spark.createDataFrame(rows, _F_DDL),
               query_id="f", epoch=epoch)


def _dmerge(spark, dim, rows, epoch):
    merge_into(spark, dim, spark.createDataFrame(rows, _D_DDL),
               query_id="d", epoch=epoch)


def _seed(spark, fact, dim):
    _fmerge(spark, fact, [
        ("I", "a", "py", 10, 1), ("I", "b", "py", 20, 2),
        ("I", "c", "rs", 30, 3), ("I", "d", None, 40, 4),
    ], 0)
    _dmerge(spark, dim, [
        ("I", "py", "python", "script", 1), ("I", "rs", "rust", "compiled", 2),
        ("I", "go", "golang", "compiled", 3),
    ], 0)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _live(spark, dst):
    return _rows(dst.snapshot(spark).select(
        "path", "fk", "size2", "lang_name", "fam"
    ))


def _expected(spark, fact, dim, how="left"):
    return _rows(derived_join_recompute(
        spark, fact, dim, ON, MAPPING, how=how
    ).select("path", "fk", "size2", "lang_name", "fam"))


def test_interleaved_epochs_converge_without_resync(spark, tmp_path):
    fact, dim = _tables(tmp_path)
    _seed(spark, fact, dim)
    dst_root = str(tmp_path / "dst")

    r = derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    assert r.initial_sync and not r.resync
    dst = LaketteTable(dst_root)
    assert _live(spark, dst) == _expected(spark, fact, dim)
    # NULL fk row rides with NULL enrichment under left
    assert dst.snapshot(spark).filter("path = 'd'") \
        .select("lang_name").collect()[0][0] is None

    # fact-only epoch: update, insert, delete
    _fmerge(spark, fact, [
        ("U", "a", "go", 11, 5), ("I", "e", "rs", 50, 6), ("D", "b", None, None, 7),
    ], 1)
    r = derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    assert not r.initial_sync and not r.resync and r.dim_refresh_path == "none"
    assert _live(spark, dst) == _expected(spark, fact, dim)

    # dim-only epoch: rename py, delete rs, insert ts
    _dmerge(spark, dim, [
        ("U", "py", "python3", "script", 4), ("D", "rs", None, None, 5),
        ("I", "ts", "typescript", "script", 6),
    ], 1)
    r = derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    assert not r.resync and r.dim_refresh_path == "pruned"
    assert r.dim_changed_keys == 3
    assert _live(spark, dst) == _expected(spark, fact, dim)
    # rs rows survive with NULL enrichment (left join), seq unchanged
    assert dst.snapshot(spark).filter("path = 'c'") \
        .select("lang_name").collect()[0][0] is None

    # both sources move in one refresh
    _fmerge(spark, fact, [("U", "c", "ts", 31, 8), ("I", "f", "py", 60, 9)], 2)
    _dmerge(spark, dim, [("U", "go", "golang2", "compiled", 7)], 2)
    r = derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    assert not r.resync
    assert _live(spark, dst) == _expected(spark, fact, dim)
    # no-op call is a no-op
    r = derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    assert not r.applied_epochs


def test_lookup_paths_agree(spark, tmp_path):
    """The pruned col_eq path and the distributed semi-join fallback must
    produce identical destinations; the report discloses which ran."""
    fact, dim = _tables(tmp_path, bloom_cols=["fk"])
    _seed(spark, fact, dim)
    for i, (cap, expected_path) in enumerate([(1024, "pruned"), (0, "scan")]):
        dst_root = str(tmp_path / f"dst_{expected_path}")
        derive_join(spark, fact, dim, dst_root, ON, MAPPING,
                    reverse_lookup_max_keys=cap)
        _dmerge(spark, dim,
                [("U", "py", f"python{i}", "script", 4 + i)], 1 + i)
        r = derive_join(spark, fact, dim, dst_root, ON, MAPPING,
                        reverse_lookup_max_keys=cap)
        assert r.dim_refresh_path == expected_path
        assert r.dim_changed_keys == 1
        assert _live(spark, LaketteTable(dst_root)) == _expected(spark, fact, dim)


def test_dim_refresh_collects_changed_keys_once(spark, tmp_path):
    """A one-key dim update's refresh diffs the dim span for one bounded
    collect that yields both the changed keys and their count, not for a
    count() and then a collect()."""
    import uuid

    fact, dim = _tables(tmp_path, bloom_cols=["fk"])
    _seed(spark, fact, dim)
    dst_root = str(tmp_path / "dst")
    derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    _dmerge(spark, dim, [("U", "py", "python3", "script", 4)], 1)

    sc = spark.sparkContext
    group = f"dj-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "derive_join dim refresh")
    try:
        r = derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert r.dim_refresh_path == "pruned" and r.dim_changed_keys == 1
    assert _live(spark, LaketteTable(dst_root)) == _expected(spark, fact, dim)
    # 18 jobs in all; running the diff for count() and again for the
    # keys' collect() took 23
    assert n_jobs <= 18, n_jobs


def test_dim_refresh_merge_does_not_rerun_the_dim_diff(spark, tmp_path, monkeypatch):
    """On the pruned path the dim side of the refresh join reads the
    collected changed keys (col_eq), so the batch handed to the merge
    holds no span diff: snapshot_diff is a full-outer join, and every job
    over the batch would otherwise run it again."""
    from forklift_spark.operators import feed

    fact, dim = _tables(tmp_path, bloom_cols=["fk"])
    _seed(spark, fact, dim)
    dst_root = str(tmp_path / "dst")
    derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    _dmerge(spark, dim, [("U", "py", "python3", "script", 4)], 1)

    batches = []
    real = feed.merge_into

    def spy(spark_, dst, batch_df, **kw):
        batches.append(batch_df)
        return real(spark_, dst, batch_df, **kw)

    monkeypatch.setattr(feed, "merge_into", spy)
    r = derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    assert r.dim_refresh_path == "pruned" and r.dim_changed_keys == 1
    assert len(batches) == 1
    plan = batches[0]._jdf.queryExecution().optimizedPlan().toString()
    assert "FullOuter" not in plan, plan
    assert _live(spark, LaketteTable(dst_root)) == _expected(spark, fact, dim)


def test_inner_join_semantics(spark, tmp_path):
    fact, dim = _tables(tmp_path)
    _seed(spark, fact, dim)
    dst_root = str(tmp_path / "dst")
    derive_join(spark, fact, dim, dst_root, ON, MAPPING, how="inner",
                derive_id="dj_inner")
    dst = LaketteTable(dst_root)
    assert _live(spark, dst) == _expected(spark, fact, dim, how="inner")
    # the NULL-fk row is absent AND not tombstoned (never inserted)
    assert dst.snapshot(spark, include_deleted=True) \
        .filter("path = 'd'").count() == 0

    # dim delete removes the dependent rows
    _dmerge(spark, dim, [("D", "py", None, None, 4)], 1)
    r = derive_join(spark, fact, dim, dst_root, ON, MAPPING, how="inner",
                    derive_id="dj_inner")
    assert not r.resync
    assert _live(spark, dst) == _expected(spark, fact, dim, how="inner")
    assert dst.snapshot(spark).filter("fk = 'py'").count() == 0

    # dim re-insert resurrects them; a fact update to an unmatched fk leaves
    _dmerge(spark, dim, [("I", "py", "python", "script", 5)], 2)
    _fmerge(spark, fact, [("U", "c", "zz", 31, 5)], 1)
    r = derive_join(spark, fact, dim, dst_root, ON, MAPPING, how="inner",
                    derive_id="dj_inner")
    assert not r.resync
    assert _live(spark, dst) == _expected(spark, fact, dim, how="inner")
    assert dst.snapshot(spark).filter("path = 'a'").count() == 1
    assert dst.snapshot(spark).filter("path = 'c'").count() == 0


def test_crash_between_merge_and_sidecar(spark, tmp_path):
    import os

    fact, dim = _tables(tmp_path)
    _seed(spark, fact, dim)
    dst_root = str(tmp_path / "dst")
    derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    dst = LaketteTable(dst_root)
    off = os.path.join(dst.root, "_derive", "derive_join.offsets.json")

    # window A: sidecar lost, sources unmoved -> marker skips, sidecar heals
    os.remove(off)
    r = derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    assert not r.applied_epochs and os.path.exists(off)
    assert _live(spark, dst) == _expected(spark, fact, dim)

    # window B: refresh merged, sidecar lost, then a source advances ->
    # re-entry repairs by state-diff and converges
    _dmerge(spark, dim, [("U", "py", "python3", "script", 4)], 1)
    derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    os.remove(off)
    _fmerge(spark, fact, [("I", "z", "go", 70, 10)], 1)
    r = derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    assert r.resync and os.path.exists(off)
    assert _live(spark, dst) == _expected(spark, fact, dim)
    # and the next refresh is incremental again
    _dmerge(spark, dim, [("U", "go", "golang9", "compiled", 8)], 2)
    r = derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    assert not r.resync
    assert _live(spark, dst) == _expected(spark, fact, dim)


def test_vacuumed_offset_resyncs(spark, tmp_path):
    fact, dim = _tables(tmp_path)
    _seed(spark, fact, dim)
    dst_root = str(tmp_path / "dst")
    derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    for e in range(1, 4):
        _fmerge(spark, fact, [("U", "a", "py", 10 + e, 10 + e)], e)
    fact.vacuum(keep_versions=1, grace_seconds=0.0)
    r = derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    assert r.resync
    assert _live(spark, LaketteTable(dst_root)) == _expected(spark, fact, dim)


def test_guards_are_loud(spark, tmp_path):
    fact, dim = _tables(tmp_path)
    _seed(spark, fact, dim)
    dst_root = str(tmp_path / "dst")
    with pytest.raises(ValueError, match="ALL dim key columns"):
        derive_join(spark, fact, dim, dst_root, {"fk": "lang_name"}, MAPPING)
    with pytest.raises(ValueError, match="not in the fact schema"):
        derive_join(spark, fact, dim, dst_root, {"nope": "lang_id"}, MAPPING)
    with pytest.raises(ValueError, match="how must be"):
        derive_join(spark, fact, dim, dst_root, ON, MAPPING, how="full")
    with pytest.raises(ValueError, match="self-join"):
        derive_join(spark, fact, fact, dst_root, ON, MAPPING)
    with pytest.raises(ValueError, match="KEY-PRESERVING"):
        derive_join(spark, fact, dim, dst_root, ON,
                    {"path": "upper(path)", **MAPPING})
    # dim payload collision under a hostile prefix
    with pytest.raises(ValueError, match="collide"):
        bad_dim = LaketteTable.create(
            str(tmp_path / "bad_dim"),
            T.StructType([T.StructField("lang_id", T.StringType()),
                          T.StructField("size", T.IntegerType())]),
            ["lang_id"], n_buckets=2,
        )
        derive_join(spark, fact, bad_dim, str(tmp_path / "dst2"),
                    ON, {"s": "size"}, dim_prefix="")
    # spec drift: loud, then accepted via resync
    derive_join(spark, fact, dim, dst_root, ON, MAPPING)
    changed = {**MAPPING, "size2": "size * 3"}
    with pytest.raises(ValueError, match="allow_spec_change"):
        derive_join(spark, fact, dim, dst_root, ON, changed)
    r = derive_join(spark, fact, dim, dst_root, ON, changed,
                    allow_spec_change=True)
    assert r.resync
    dst = LaketteTable(dst_root)
    assert _rows(dst.snapshot(spark).select("path", "size2")) == _rows(
        derived_join_recompute(spark, fact, dim, ON, changed)
        .select("path", "size2")
    )
