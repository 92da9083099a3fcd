"""Online bucket rescale (lakette bucket-spec evolution): grow n_buckets
with ONE metadata-only commit, reads stay correct across the mixed-spec
window, migration rides normal COW/compaction work, and the old spec
auto-collapses when drained. The 100 TB growth path — the alternative,
compact(n_buckets=...), rewrites every row in one commit."""

import pytest
from pyspark.sql import functions as F

from forklift_spark.changelog import ChangelogSpec, expected_final_state, generate_changelog
from forklift_spark.lakette.table import CommitConflictError, _specs
from forklift_spark.operators.merge import (
    compact,
    merge_into,
    select_compaction_candidates,
)
from forklift_spark.streaming.ingest import (
    CHANGELOG_SCHEMA,
    create_entity_table,
    verify_state,
)


def _rows(tups):
    return [
        {
            "op": op, "seq": seq, "repo": repo, "path": path,
            "commit": None, "lang": "py", "content": content,
            "event_ts": None, "schema_ver": None,
        }
        for op, seq, repo, path, content in tups
    ]


def _seed(spark, tmp_path, *, n_buckets=4, n=80, mode="cow"):
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=n_buckets)
    events = _rows(
        [("I", i, f"repo_{i % 7}", f"f{i}.py", f"v{i}") for i in range(n)]
    )
    merge_into(spark, table, spark.createDataFrame(events, CHANGELOG_SCHEMA),
               query_id="seed", epoch=0, mode=mode)
    return table


def _content(spark, table):
    return {
        (r.repo, r.path): (r.content, r.seq)
        for r in table.snapshot(spark).collect()
    }


def test_rescale_is_metadata_only_and_reads_unchanged(spark, tmp_path):
    table = _seed(spark, tmp_path, n_buckets=4)
    before = _content(spark, table)
    data_files = {f["path"] for f in table.current_metadata()["files"]}

    table.rescale(16)
    meta = table.current_metadata()
    assert meta["n_buckets"] == 16 and _specs(meta) == [4, 16]
    # not one data file moved
    assert {f["path"] for f in meta["files"]} == data_files
    assert all(f["nb"] == 4 for f in meta["files"])
    assert _content(spark, table) == before
    ms = table.migration_status()
    assert not ms["migrated"] and ms["files_by_spec"][4] == len(data_files)

    # key-equality pruning stays exact across the mixed-spec window: a
    # current-spec bucket folds onto its old-spec parent (b % 4)
    for b in (0, 5, 11):
        for f in table.plan_files(buckets=[b]):
            assert f["bucket"] == b % 4 and f["nb"] == 4


def test_rescale_rejects_bad_targets(spark, tmp_path):
    table = _seed(spark, tmp_path, n_buckets=4)
    for bad in (6, 4, 2):
        with pytest.raises(ValueError, match="multiple"):
            table.rescale(bad)


def test_cow_merge_migrates_touched_groups(spark, tmp_path):
    table = _seed(spark, tmp_path, n_buckets=4, n=80)
    table.rescale(8)
    upd = _rows([("U", 1000, "repo_0", "f0.py", "patched")])
    merge_into(spark, table, spark.createDataFrame(upd, CHANGELOG_SCHEMA),
               query_id="mig", epoch=0)
    meta = table.current_metadata()
    # the touched key's group was rewritten under the new spec...
    g = next(
        f["bucket"] % 4 for f in meta["files"] if f["nb"] == 8
    )
    assert not any(
        f for f in meta["files"] if f["nb"] == 4 and f["bucket"] == g
    ), "old-spec files of the migrated group must be replaced"
    # ...and untouched groups were NOT rewritten
    assert any(f["nb"] == 4 for f in meta["files"])
    got = _content(spark, table)
    assert got[("repo_0", "f0.py")] == ("patched", 1000)
    assert len(got) == 80


def test_mor_lww_resolves_across_specs(spark, tmp_path):
    """A new-spec delta must drag the old-spec base files of its key group
    into the LWW side — newer version wins, late lower-seq event loses."""
    table = _seed(spark, tmp_path, n_buckets=4, n=40)
    table.rescale(16)
    win = _rows([("U", 900, "repo_1", "f1.py", "newer")])
    merge_into(spark, table, spark.createDataFrame(win, CHANGELOG_SCHEMA),
               query_id="d1", epoch=0, mode="mor")
    late = _rows([("U", 0, "repo_1", "f1.py", "stale-late")])
    merge_into(spark, table, spark.createDataFrame(late, CHANGELOG_SCHEMA),
               query_id="d2", epoch=0, mode="mor")
    got = _content(spark, table)
    assert got[("repo_1", "f1.py")] == ("newer", 900)
    assert len(got) == 40


def test_compact_finishes_migration_and_collapses_spec(spark, tmp_path):
    table = _seed(spark, tmp_path, n_buckets=4, n=60)
    table.rescale(8)
    before = _content(spark, table)
    res = compact(spark, table)
    assert res["n_buckets"] == 8
    ms = table.migration_status()
    assert ms["migrated"] and ms["bucket_specs"] == [8]
    meta = table.current_metadata()
    assert all(f["nb"] == 8 for f in meta["files"])
    assert _content(spark, table) == before


def test_incremental_compact_migrates_only_target_groups(spark, tmp_path):
    table = _seed(spark, tmp_path, n_buckets=4, n=60, mode="mor")
    table.rescale(8)
    before = _content(spark, table)
    # compact group 1 only (current ids 1 and 5 fold onto old bucket 1)
    compact(spark, table, buckets=[1, 5])
    meta = table.current_metadata()
    assert not any(f["nb"] == 4 and f["bucket"] == 1 for f in meta["files"])
    assert any(f["nb"] == 4 for f in meta["files"])  # other groups untouched
    assert not table.migration_status()["migrated"]
    assert _content(spark, table) == before
    # candidate planner expands qualifying groups to current-spec ids
    cands = select_compaction_candidates(table, max_delta_files=0)
    assert all(0 <= b < 8 for b in cands)
    compact(spark, table, buckets=cands)
    compact(spark, table)  # fold any remainder
    assert table.migration_status()["migrated"]
    assert _content(spark, table) == before


def test_stale_pre_rescale_writer_conflicts_cleanly(spark, tmp_path):
    table = _seed(spark, tmp_path, n_buckets=4)
    base = table.current_metadata()["version"]
    table.rescale(8)
    with pytest.raises(CommitConflictError, match="re-bucketed or rescaled"):
        table.commit_version(
            new_files=[{"path": "data/x.parquet", "bucket": 0, "rows": 1,
                        "delta": True, "kmin": None, "kmax": None}],
            replaced_buckets=set(),
            writer={"query_id": "stale", "epoch": 0},
            base_version=base,
        )


def test_end_to_end_rescale_mid_stream_sha_exact(spark, tmp_path):
    """Replay half a changelog, rescale 4->16 online, replay the rest with
    MOR + a final compact — the table must equal the whole-log LWW oracle
    sha-exactly, and the migration must be complete."""
    spec = ChangelogSpec(n_events=4_000, n_repos=12, paths_per_repo=10, seed=31)
    log = tmp_path / "log"
    generate_changelog(spec, str(log))
    df = spark.read.schema(CHANGELOG_SCHEMA).parquet(f"{log}/seg-*.parquet")
    table = create_entity_table(str(tmp_path / "tbl"), n_buckets=4)
    merge_into(spark, table, df.filter("seq % 2 = 0"), query_id="h1", epoch=0)
    table.rescale(16)
    merge_into(spark, table, df.filter("seq % 4 = 1"), query_id="h2", epoch=0, mode="mor")
    merge_into(spark, table, df.filter("seq % 4 = 3"), query_id="h2", epoch=1)
    compact(spark, table)
    assert table.migration_status()["migrated"]
    assert table.n_buckets() == 16
    exp = spark.createDataFrame(expected_final_state(spec))
    assert verify_state(spark, table, exp)["ok"]


def test_replicate_across_source_rescale(spark, tmp_path):
    """Replication spans a source rescale: the diff pruning falls back
    safely (specs differ) and the replica still converges."""
    from forklift_spark.lakette import LaketteTable
    from forklift_spark.operators.replicate import replicate

    table = _seed(spark, tmp_path, n_buckets=4, n=50)
    dst_root = str(tmp_path / "dst")
    replicate(spark, table, dst_root, replication_id="r")
    table.rescale(8)
    upd = _rows([("U", 5000, "repo_2", "f2.py", "post-rescale")])
    merge_into(spark, table, spark.createDataFrame(upd, CHANGELOG_SCHEMA),
               query_id="pr", epoch=0)
    replicate(spark, table, dst_root, replication_id="r")
    assert _content(spark, LaketteTable(dst_root)) == _content(spark, table)


def test_cow_sibling_rewrite_does_not_mask_newer_delta(spark, tmp_path):
    """The sharpest migration interleaving: after rescale 4->8, a MOR delta
    lands in new bucket bA; a COW merge then touches a DIFFERENT new bucket
    bB of the SAME key group, which drags the group's old-spec base file
    (holding stale rows for bA's keys) into its rewrite. The stale rows are
    re-emitted under the new spec as an APPEND — the un-replaced delta must
    still win LWW at read time."""
    table = _seed(spark, tmp_path, n_buckets=4, n=64)
    table.rescale(8)

    # two keys in the same old group (hash%4 equal) but different new buckets
    cand = [(f"repo_{i % 7}", f"f{i}.py") for i in range(64)]
    b = {
        (r.repo, r.path): r.b
        for r in spark.createDataFrame(cand, "repo string, path string")
        .select("repo", "path", table.bucket_expr().alias("b"))
        .collect()
    }
    ka = cand[0]
    kb = next(k for k in cand[1:] if b[k] % 4 == b[ka] % 4 and b[k] != b[ka])

    mor = _rows([("U", 500, ka[0], ka[1], "delta-wins")])
    merge_into(spark, table, spark.createDataFrame(mor, CHANGELOG_SCHEMA),
               query_id="mor", epoch=0, mode="mor")
    cow = _rows([("U", 600, kb[0], kb[1], "cow-wins")])
    merge_into(spark, table, spark.createDataFrame(cow, CHANGELOG_SCHEMA),
               query_id="cow", epoch=0, mode="cow")

    got = _content(spark, table)
    assert got[ka] == ("delta-wins", 500)
    assert got[kb] == ("cow-wins", 600)
    assert len(got) == 64
    # and compaction folds the group cleanly afterwards
    compact(spark, table)
    assert _content(spark, table)[ka] == ("delta-wins", 500)


def test_predicate_dml_migrates_touched_groups(spark, tmp_path):
    """update_where / delete_where mid-rescale: each rewrites the key groups
    its matches live in under the new spec (old-spec files of those groups
    replaced, sibling rows re-emitted), and leaves every other group's
    files alone — the state stays sha-exact against a recompute."""
    from forklift_spark.operators.dml import delete_where, update_where

    table = _seed(spark, tmp_path, n_buckets=4, n=80)
    table.rescale(8)
    before = _content(spark, table)
    files_before = {f["path"]: f["bucket"] for f in table.current_metadata()["files"]}
    n_old = table.migration_status()["files_by_spec"][4]

    upd_paths, del_path = ["f3.py", "f10.py"], "f21.py"
    group = {
        r.path: r.b % 4
        for r in spark.createDataFrame(
            [(f"repo_{int(p[1:-3]) % 7}", p) for p in [*upd_paths, del_path]],
            "repo string, path string",
        ).select("path", table.bucket_expr().alias("b")).collect()
    }
    touched = set(group.values())
    assert len(touched) < 4, "the test needs an untouched group"

    res = update_where(
        spark, table, {"content": "concat(content, '-fixed')"},
        "path IN ('f3.py', 'f10.py')",
    )
    assert res["rows_matched"] == 2
    res = delete_where(spark, table, f"path = '{del_path}'")
    assert res["rows_matched"] == 1

    expected = {
        k: (f"{c}-fixed" if k[1] in upd_paths else c, s)
        for k, (c, s) in before.items() if k[1] != del_path
    }
    assert _content(spark, table) == expected
    exp_df = spark.createDataFrame(
        [(r, p, c) for (r, p), (c, _) in expected.items()],
        "repo string, path string, content string",
    )
    assert verify_state(spark, table, exp_df)["ok"]

    files = table.current_metadata()["files"]
    # the touched groups' old-spec files were replaced by new-spec ones...
    assert not any(f["nb"] == 4 and f["bucket"] in touched for f in files)
    assert {f["bucket"] % 4 for f in files if f["nb"] == 8} == touched
    by_spec = table.migration_status()["files_by_spec"]
    assert by_spec[4] == n_old - sum(1 for b in files_before.values() if b in touched)
    assert by_spec[8] > 0
    # ...and every untouched group's files are the very same files
    untouched = {p for p, b in files_before.items() if b not in touched}
    assert {f["path"] for f in files if f["nb"] == 4} == untouched
    assert not table.migration_status()["migrated"]
