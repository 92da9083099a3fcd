"""The key-group rewrite (operators/merge.py _rewrite_groups) shared by
copy-on-write merge, compact() and predicate DML: the Spark jobs each of
the three runs per operation, counted in a job group, so a change to the
shared rewrite that adds a job to any caller shows here."""

import uuid

from forklift_spark.operators.dml import update_where
from forklift_spark.operators.merge import compact, merge_into
from forklift_spark.streaming.ingest import CHANGELOG_SCHEMA, create_entity_table


def _ev(op, seq, i, content=None):
    return (op, seq, f"r{i % 5}", f"p{i}", f"c{seq}",
            ("py", "go", "de")[i % 3], content or f"v{seq}", None, 1)


def _jobs(spark, fn):
    """(result, Spark jobs `fn` ran)."""
    sc = spark.sparkContext
    group = f"rewrite-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "group rewrite")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _table(spark, tmp_path, name, mode):
    table = create_entity_table(str(tmp_path / name), n_buckets=4)
    merge_into(spark, table, spark.createDataFrame(
        [_ev("I", i, i) for i in range(60)], CHANGELOG_SCHEMA,
    ), query_id="seed", epoch=0, mode=mode)
    return table


def test_rewrite_paths_job_counts(spark, tmp_path):
    # bounds = the counts each operation ran before the three rewrites
    # shared one function; under AQE each shuffle's map stage is a job.
    # A one-shot copy-on-write epoch: the bucket count, then the fold and
    # write.
    table = _table(spark, tmp_path, "cow", "cow")
    upd = spark.createDataFrame(
        [_ev("U", 100 + i, i, "u") for i in range(0, 60, 7)], CHANGELOG_SCHEMA
    )
    stats, n_cow = _jobs(spark, lambda: merge_into(
        spark, table, upd, query_id="q", epoch=1,
    ))
    assert stats.mode_used == "cow" and stats.applied_rows == 9
    assert n_cow <= 4, n_cow

    # incremental compaction of one bucket holding merge-on-read deltas
    table = _table(spark, tmp_path, "mor", "mor")
    res, n_compact = _jobs(spark, lambda: compact(spark, table, buckets=[1]))
    assert res["compacted_buckets"] == 1
    assert n_compact <= 3, n_compact

    # predicate DML: the discovery scan, then the group rewrite
    res, n_update = _jobs(spark, lambda: update_where(
        spark, table, {"content": "upper(content)"}, "lang = 'go'",
    ))
    assert res["rows_matched"] == 20
    assert n_update <= 6, n_update
