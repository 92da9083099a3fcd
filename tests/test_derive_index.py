"""derive_index() — record-level secondary index as derived state.
Binding invariant: after derive_index catches up, the index snapshot
holds EXACTLY one posting (term, *src_keys) per live, predicate-passing
source row with term = the indexed expression — across inserts, term
moves (update must retract the OLD posting), deletes, predicate
entry/exit, crash-replay, and forced resync. Lookups must be pruned:
index_lookup file-prunes by the term's kmin/kmax, index_point_read
bucket-prunes the source fetch."""

import pytest
from pyspark.sql import functions as F

from forklift_spark.lakette.table import LaketteTable
from forklift_spark.operators.derive_index import (
    derive_index,
    index_lookup,
    index_point_read,
)
from forklift_spark.operators.merge import merge_into
from forklift_spark.streaming.ingest import create_entity_table

_DDL = (
    "op string, seq long, repo string, path string, commit string, "
    "lang string, content string, event_ts timestamp, schema_v int"
)


def _ev(op, seq, repo, path, commit, lang="py", content="body"):
    return (op, seq, repo, path, commit, lang, content, None, 1)


def _apply(spark, table, rows, epoch, query_id="src"):
    merge_into(
        spark, table, spark.createDataFrame(rows, _DDL),
        query_id=query_id, epoch=epoch,
    )


def _postings(spark, idx_root):
    df = LaketteTable(idx_root).snapshot(spark)
    return sorted(
        (r.term, r.repo, r.path) for r in df.select("term", "repo", "path").collect()
    )


def _expected_postings(spark, src, term_expr, predicate=None):
    df = src.snapshot(spark)
    if predicate:
        df = df.filter(predicate)
    df = df.select(F.expr(term_expr).alias("term"), "repo", "path")
    return sorted((r.term, r.repo, r.path) for r in df.collect())


@pytest.fixture()
def src(spark, tmp_path):
    table = create_entity_table(str(tmp_path / "src"), n_buckets=4)
    rows = [
        _ev("I", i, f"r{i % 3}", f"f/{i}.txt", f"sha{i % 5}",
            lang=["py", "js", "md"][i % 3])
        for i in range(20)
    ]
    _apply(spark, table, rows, 0)
    return table


def test_initial_sync_and_incremental_term_moves(spark, src, tmp_path):
    idx = str(tmp_path / "idx")
    r = derive_index(spark, src, idx, "commit", derive_id="by_commit")
    assert r.initial_sync
    assert _postings(spark, idx) == _expected_postings(spark, src, "commit")

    # epoch 1: term move (f/1 sha1 -> shaX), delete f/7, fresh insert
    _apply(spark, src, [
        _ev("U", 100, "r1", "f/1.txt", "shaX"),
        _ev("D", 101, "r1", "f/7.txt", None, lang=None, content=None),
        _ev("I", 102, "r9", "new.txt", "sha1"),
    ], 1)
    r = derive_index(spark, src, idx, "commit", derive_id="by_commit")
    assert not r.initial_sync and not r.resync and r.applied_epochs
    got = _postings(spark, idx)
    assert got == _expected_postings(spark, src, "commit")
    assert ("shaX", "r1", "f/1.txt") in got          # new posting
    assert ("sha1", "r1", "f/1.txt") not in got      # old posting retracted
    assert all(p != "f/7.txt" for _, _, p in got)    # deleted row gone

    # idempotent catch-up: nothing upstream -> no epochs
    r = derive_index(spark, src, idx, "commit", derive_id="by_commit")
    assert not r.applied_epochs


def test_predicate_entry_and_exit(spark, src, tmp_path):
    idx = str(tmp_path / "idx")
    derive_index(
        spark, src, idx, "commit", predicate="lang = 'py'", derive_id="py_idx"
    )
    assert _postings(spark, idx) == _expected_postings(
        spark, src, "commit", "lang = 'py'"
    )
    # f/0 (py) leaves the predicate; f/1 (js) enters it, same commits
    _apply(spark, src, [
        _ev("U", 200, "r0", "f/0.txt", "sha0", lang="go"),
        _ev("U", 201, "r1", "f/1.txt", "sha1", lang="py"),
    ], 1)
    derive_index(
        spark, src, idx, "commit", predicate="lang = 'py'", derive_id="py_idx"
    )
    got = _postings(spark, idx)
    assert got == _expected_postings(spark, src, "commit", "lang = 'py'")
    assert ("sha0", "r0", "f/0.txt") not in got
    assert ("sha1", "r1", "f/1.txt") in got


def test_lookup_is_file_pruned_and_point_read_is_bucket_pruned(
    spark, tmp_path
):
    # more rows + small files: each bucket rolls several key-sorted files,
    # so per-file (kmin, kmax) term ranges are tight and pruning bites —
    # the layout a 10^10-row index has by construction
    src = create_entity_table(str(tmp_path / "src"), n_buckets=4)
    _apply(spark, src, [
        _ev("I", i, f"r{i % 3}", f"f/{i}.txt", f"sha{i % 12}") for i in range(96)
    ] + [_ev("I", 96, "r9", "needle.txt", "needle")], 0)
    idx_root = str(tmp_path / "idx")
    derive_index(
        spark, src, idx_root, "commit", derive_id="by_commit",
        target_file_rows=6,
    )
    idx = LaketteTable(idx_root)

    hits = index_lookup(spark, idx, "sha2")
    assert sorted((r.repo, r.path) for r in hits.collect()) == sorted(
        (r.repo, r.path)
        for r in src.snapshot(spark).filter("commit = 'sha2'").collect()
    )
    # file pruning: the planned file set for one term is a strict subset
    all_files = {f["path"] for f in idx.plan_files()}
    hit_files = {f["path"] for f in idx.plan_files(key_range=("sha2", "sha2"))}
    assert hit_files and hit_files < all_files

    rows = index_point_read(spark, idx, src, "sha2")
    exp = src.snapshot(spark).filter("commit = 'sha2'")
    assert sorted(map(tuple, rows.select(*sorted(rows.columns)).collect())) == \
        sorted(map(tuple, exp.select(*sorted(exp.columns)).collect()))

    # a sparse term's source fetch reads only the matched key's bucket
    needle = index_point_read(spark, idx, src, "needle")
    assert [r.path for r in needle.collect()] == ["needle.txt"]
    matched_buckets = {
        r[0]
        for r in src.snapshot(spark).filter("commit = 'needle'")
        .select(src.bucket_expr().alias("b")).distinct().collect()
    }
    assert len(matched_buckets) == 1 < src.n_buckets()  # pruning has teeth

    with pytest.raises(ValueError, match="max_keys"):
        index_point_read(spark, idx, src, "sha2", max_keys=1)

    assert index_point_read(spark, idx, src, "no-such-term").count() == 0


def test_spec_guard_and_force_resync(spark, src, tmp_path):
    idx_root = str(tmp_path / "idx")
    derive_index(spark, src, idx_root, "commit", derive_id="i")
    with pytest.raises(ValueError, match="allow_spec_change"):
        derive_index(spark, src, idx_root, "lang", derive_id="i")
    r = derive_index(
        spark, src, idx_root, "lang", derive_id="i", allow_spec_change=True
    )
    assert r.resync
    assert _postings(spark, idx_root) == _expected_postings(spark, src, "lang")

    # out-of-band vandalism, then REFRESH FULL semantics
    idx = LaketteTable(idx_root)
    merge_into(
        spark, idx,
        spark.createDataFrame(
            [("U", 999, "bogus", "rX", "nope.txt")],
            "op string, seq long, term string, repo string, path string",
        ),
        query_id="vandal", epoch=0,
    )
    assert _postings(spark, idx_root) != _expected_postings(spark, src, "lang")
    r = derive_index(
        spark, src, idx_root, "lang", derive_id="i", force_resync=True
    )
    assert r.resync
    assert _postings(spark, idx_root) == _expected_postings(spark, src, "lang")


def test_vacuum_broken_chain_resyncs(spark, src, tmp_path):
    """Source vacuumed past the index's offset -> one repair epoch: the
    index equals a full rebuild, including the retraction of postings
    whose rows moved or died while the chain was broken."""
    idx_root = str(tmp_path / "idx")
    derive_index(spark, src, idx_root, "commit", derive_id="i")
    for e in range(1, 4):
        _apply(spark, src, [
            _ev("U", 1000 * e + i, f"r{i % 3}", f"f/{i}.txt", f"wave{e}")
            for i in range(0, 20, 5)
        ] + [_ev("D", 1000 * e + 99, f"r{e % 3}", f"f/{e}.txt", None,
                 lang=None, content=None)], e)
    src.vacuum(keep_versions=1, grace_seconds=0)
    r = derive_index(spark, src, idx_root, "commit", derive_id="i")
    assert r.resync
    assert _postings(spark, idx_root) == _expected_postings(spark, src, "commit")
    rebuilt = str(tmp_path / "rebuilt")
    derive_index(spark, src, rebuilt, "commit", derive_id="i")
    assert _postings(spark, idx_root) == _postings(spark, rebuilt)


def test_crash_replay_is_exactly_once(spark, src, tmp_path):
    idx_root = str(tmp_path / "idx")
    derive_index(spark, src, idx_root, "commit", derive_id="i")
    _apply(spark, src, [_ev("U", 300, "r0", "f/0.txt", "shaZ")], 1)
    derive_index(spark, src, idx_root, "commit", derive_id="i")
    before = _postings(spark, idx_root)
    # a crashed run re-entering the same span must skip on the marker
    r = derive_index(spark, src, idx_root, "commit", derive_id="i")
    assert not r.applied_epochs
    assert _postings(spark, idx_root) == before == _expected_postings(
        spark, src, "commit"
    )


def test_composite_term_expression(spark, src, tmp_path):
    idx_root = str(tmp_path / "idx")
    expr = "lang || ':' || commit"
    derive_index(spark, src, idx_root, expr, derive_id="lc")
    assert _postings(spark, idx_root) == _expected_postings(spark, src, expr)
    with pytest.raises(ValueError, match="atomic"):
        derive_index(
            spark, src, str(tmp_path / "bad"), "array(lang)", derive_id="arr"
        )


def test_lookup_with_numeric_term_on_string_column_is_not_mispruned(
    spark, tmp_path
):
    """index_lookup(idx, 107) on a STRING term column: Spark compares
    '0107' = 107 numerically (true), but the (kmin, kmax) file prune is
    lexicographic — with commits '0101'..'0125' every file's kmax sorts
    below '107', so a str(term) range would prune away the match. The
    prune must only apply to string-vs-string lookups."""
    src = create_entity_table(str(tmp_path / "src"), n_buckets=2)
    _apply(spark, src, [
        _ev("I", i, "r", f"f/{i}.txt", f"{100 + i:04d}") for i in range(1, 26)
    ], 0)
    idx_root = str(tmp_path / "idx")
    derive_index(spark, src, idx_root, "commit", derive_id="by_commit")
    idx = LaketteTable(idx_root)

    hits = index_lookup(spark, idx, 107)
    assert [(r.repo, r.path) for r in hits.collect()] == [("r", "f/7.txt")]
    rows = index_point_read(spark, idx, src, 107)
    assert [r.commit for r in rows.collect()] == ["0107"]
    # string lookups keep the pruned fast path and agree
    assert [(r.repo, r.path) for r in index_lookup(spark, idx, "0107").collect()] \
        == [("r", "f/7.txt")]


def test_boolean_terms_are_rejected(spark, tmp_path):
    """Boolean terms are refused: a two-valued posting list cannot
    select, and — the soundness half — a boolean term's top-level OR/AND
    binds looser than '=', so the SQL matcher's textual bracketing of
    `WHERE a = 1 OR b = 2` against term `a = 1 OR b` would disagree with
    SQL's parse. Partial indexes (predicate=) are the supported way to
    scope rows."""
    src = create_entity_table(str(tmp_path / "src"), n_buckets=2)
    _apply(spark, src, [_ev("I", 1, "r", "f.txt", "c1")], 0)
    with pytest.raises(ValueError, match="must not be boolean"):
        derive_index(spark, src, str(tmp_path / "idx"),
                     "lang = 'py' OR content IS NULL", derive_id="bad")
