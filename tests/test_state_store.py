"""Versioned state store: commit atomicity, snapshot reads, time
travel, MERGE semantics, orphan tolerance, vacuum."""

from __future__ import annotations

import os

import pytest

from trello_github_etl_spark.plans.state_store import VersionedStateStore


def _df(spark, rows):
    return spark.createDataFrame(rows, ["entity_id", "title"])


@pytest.fixture()
def store(tmp_path):
    return VersionedStateStore(str(tmp_path / "state"))


def test_commit_read_and_time_travel(spark, store):
    store.commit(_df(spark, [("a", "t1")]))
    store.commit(_df(spark, [("a", "t2"), ("b", "t1")]))
    assert store.latest_version() == 2
    assert {r.title for r in store.read(spark).collect()} == {"t2", "t1"}
    old = store.read(spark, version=1).collect()
    assert len(old) == 1 and old[0].title == "t1"
    ops = [c.op for c in store.history()]
    assert ops == ["overwrite", "overwrite"]


def test_merge_replaces_matches_keeps_rest(spark, store):
    store.commit(_df(spark, [("a", "t1"), ("b", "t1")]))
    store.merge(_df(spark, [("b", "t9"), ("c", "t1")]))
    got = {r.entity_id: r.title for r in store.read(spark).collect()}
    assert got == {"a": "t1", "b": "t9", "c": "t1"}
    # idempotent re-apply: same applied frame -> same table
    store.merge(_df(spark, [("b", "t9"), ("c", "t1")]))
    got2 = {r.entity_id: r.title for r in store.read(spark).collect()}
    assert got2 == got


def test_history_counts_the_rows_written(spark, store):
    """n_rows is counted in the write itself, for any partitioning and
    for empty frames; a merge records the merged table's size."""
    empty = _df(spark, [("a", "t1")]).limit(0)
    store.commit(empty)
    rows = [(f"k{i}", "t1") for i in range(5)]
    store.commit(_df(spark, rows).repartition(3))
    store.commit(_df(spark, rows).filter("title = 'none'"))
    store.merge(_df(spark, rows[:2]))
    store.merge(_df(spark, [("z", "t1")]))
    store.merge(empty)
    assert [c.n_rows for c in store.history()] == [0, 5, 0, 2, 3, 3]
    assert store.read(spark).count() == 3


def test_orphan_directory_is_invisible(spark, store):
    store.commit(_df(spark, [("a", "t1")]))
    # simulate a writer that crashed after writing data but BEFORE
    # publishing: the directory exists, the manifest never updated
    _df(spark, [("zz", "junk")]).write.parquet(
        os.path.join(store.root, "v00000002")
    )
    assert store.latest_version() == 1
    assert [r.entity_id for r in store.read(spark).collect()] == ["a"]
    with pytest.raises(ValueError):
        store.read(spark, version=2)  # unpublished => not a version


def test_empty_store_refuses_reads(spark, store):
    with pytest.raises(ValueError):
        store.read(spark)


def test_vacuum_drops_old_keeps_current(spark, store):
    store.commit(_df(spark, [("a", "t1")]))
    store.commit(_df(spark, [("a", "t2")]))
    store.commit(_df(spark, [("a", "t3")]))
    removed = store.vacuum(keep_last=1)
    assert 1 in removed and 2 in removed
    assert store.read(spark).collect()[0].title == "t3"
    with pytest.raises(ValueError):
        store.read(spark, version=1)


def test_stale_cas_commit_conflicts_and_preserves_winner(spark, store):
    """Multi-writer guard (manifest CAS): a commit computed from a
    stale base must abort with CommitConflictError, clean up its
    orphan, and leave the winning writer's version untouched."""
    from trello_github_etl_spark.plans.state_store import CommitConflictError

    store.commit(_df(spark, [("a", "t1")]))  # v1
    stale_base = store.latest_version()
    store.commit(_df(spark, [("a", "t2")]))  # competing writer -> v2
    with pytest.raises(CommitConflictError, match="re-read and retry"):
        store.commit(
            _df(spark, [("a", "LOST-UPDATE")]), expected_version=stale_base
        )
    # winner intact, loser invisible
    assert store.latest_version() == 2
    assert [r.title for r in store.read(spark).collect()] == ["t2"]
    # retry-after-reread protocol succeeds
    v3 = store.commit(
        _df(spark, [("a", "t3")]), expected_version=store.latest_version()
    )
    assert v3 == 3


def test_directory_claim_race_conflicts(spark, store):
    """Even without a CAS expectation, two writers racing for the
    same version number cannot both win: the version directory is the
    claim token, and the loser gets CommitConflictError — never a
    silent overwrite of published data."""
    from trello_github_etl_spark.plans.state_store import CommitConflictError

    store.commit(_df(spark, [("a", "t1")]))  # v1
    # a competing writer has already claimed v2's directory
    os.makedirs(os.path.join(store.root, "v00000002"))
    with pytest.raises(CommitConflictError, match="already claimed"):
        store.commit(_df(spark, [("a", "t2")]))
    # the published table is unaffected
    assert store.latest_version() == 1
    assert [r.title for r in store.read(spark).collect()] == ["t1"]


def test_merge_threads_cas_through(spark, store, monkeypatch):
    """merge() computes from a snapshot and must carry that snapshot
    version as its CAS expectation: if another writer publishes
    between the snapshot read and the commit, the merge aborts
    instead of silently dropping the competitor's rows."""
    from trello_github_etl_spark.plans import state_store as ss

    store.commit(_df(spark, [("a", "t1"), ("b", "t1")]))  # v1

    real_read = store.read
    interleaved = {}

    def read_then_interleave(spark_arg, version=None):
        snap = real_read(spark_arg, version)
        if not interleaved:  # publish a competing merge exactly once
            interleaved["done"] = True
            store.commit(_df(spark, [("z", "competitor")]), op="merge")
        return snap

    monkeypatch.setattr(store, "read", read_then_interleave)
    with pytest.raises(ss.CommitConflictError):
        store.merge(_df(spark, [("b", "t9")]))


def test_conflict_never_deletes_competitor_directory(spark, store):
    """A claim conflict must be non-destructive: the competing
    writer's version directory (with its data) survives, and the
    loser gets CommitConflictError — never an rmtree of published
    work."""
    from trello_github_etl_spark.plans.state_store import CommitConflictError

    store.commit(_df(spark, [("a", "t1")]))  # v1
    # competing writer completed v2's directory (not yet published)
    comp = os.path.join(store.root, "v00000002")
    _df(spark, [("z", "competitor")]).write.parquet(comp)
    assert os.path.exists(os.path.join(comp, "_SUCCESS"))
    with pytest.raises(CommitConflictError):
        store.commit(_df(spark, [("a", "t2")]))
    # competitor's data intact
    assert os.path.exists(os.path.join(comp, "_SUCCESS"))
    assert [r.title for r in spark.read.parquet(comp).collect()] == [
        "competitor"
    ]


def test_vacuum_raced_commit_fails_loudly(spark, store):
    """A commit landing between vacuum's manifest read and its publish
    must NOT be rolled back by the stale manifest — vacuum re-checks
    `current` at publish time and raises, mirroring commit()'s CAS
    (the store's no-silent-update-loss contract)."""
    from trello_github_etl_spark.plans.state_store import CommitConflictError

    store.commit(_df(spark, [("a", "t1")]))
    store.commit(_df(spark, [("a", "t2")]))
    real = store._read_manifest
    calls = {"n": 0}

    def racing(*a, **kw):
        m = real(*a, **kw)
        calls["n"] += 1
        if calls["n"] == 2:  # the publish-time re-check sees a newer current
            m = dict(m)
            m["current"] = m["current"] + 1
        return m

    store._read_manifest = racing
    with pytest.raises(CommitConflictError, match="vacuum raced"):
        store.vacuum(keep_last=1)
    store._read_manifest = real
    # the (simulated) winner's pointer was never regressed
    assert store._read_manifest()["current"] == 2


def test_recover_orphans_skips_version_named_files(spark, store):
    """r12 ADVICE: a stray regular FILE whose name parses as a
    version (e.g. a leftover marker) must not make recover_orphans
    raise NotADirectoryError and wedge stream startup — files are
    never commit candidates and are skipped; orphan DIRECTORIES
    above current are still removed."""
    store.commit(_df(spark, [("a", "t1")]))
    with open(os.path.join(store.root, "v00000002"), "w") as fh:
        fh.write("not a commit directory")
    _df(spark, [("zz", "junk")]).write.parquet(
        os.path.join(store.root, "v00000003")
    )
    assert store.recover_orphans() == [3]
    # the stray file survives untouched; the store still reads
    assert os.path.isfile(os.path.join(store.root, "v00000002"))
    assert [r.entity_id for r in store.read(spark).collect()] == ["a"]
