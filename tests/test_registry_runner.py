"""registry.run, the one runner every registry sweep goes through: it
tags each job with its query, drops the tag whatever happens, and
reports the persistent RDDs a query left registered."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from trello_github_etl_spark import registry

registry.load_all()

SWEEP = ["p1_filter_open_orders", "s1_cosine_topk", "pipe6_corpus_shuffle"]


def _tagged(sc, tag: str) -> set[int]:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))


def _marker(spark) -> int:
    """Run one job under a tag of its own; return its id."""
    sc = spark.sparkContext
    sc.addJobTag("marker")
    spark.range(1).collect()
    sc.removeJobTag("marker")
    return max(_tagged(sc, "marker"))


def test_sweep_tags_every_job_with_exactly_one_query(spark):
    sc = spark.sparkContext
    first = _marker(spark)
    runs = {n: registry.run(spark, n, SF_DIR, "noop") for n in SWEEP}
    between = set(range(first + 1, _marker(spark)))
    tagged = {n: _tagged(sc, f"q:{n}") & between for n in SWEEP}
    assert all(tagged.values()), tagged
    # job ids are consecutive: every job between the markers carries
    # exactly one query's tag
    assert sorted(j for jobs in tagged.values() for j in jobs) == sorted(between)
    assert {n: set(r.jobs) for n, r in runs.items()} == tagged


def test_failed_builder_propagates_and_leaves_no_tag(spark, monkeypatch):
    during: set[str] = set()

    def boom(spark, sf_dir):
        during.update(spark.sparkContext.getJobTags())
        raise RuntimeError("builder failed")

    monkeypatch.setitem(registry.QUERIES, "p1_filter_open_orders", boom)
    with pytest.raises(RuntimeError, match="builder failed"):
        registry.run(spark, "p1_filter_open_orders", SF_DIR, "collect")
    assert during == {"q:p1_filter_open_orders"}
    assert set(spark.sparkContext.getJobTags()) == set()


def test_pins_are_the_persistent_rdds_the_call_left(spark):
    def held() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs())

    before = held()
    run = registry.run(spark, "pipe6_corpus_shuffle", SF_DIR, "noop")
    assert run.pins == sorted(held() - before)


def test_corpus_shuffle_leaves_no_pin_and_plans_no_rdd_scan(spark):
    """pipe6 recomputes its md5 keys instead of pinning them: the runner
    finds nothing left registered, and the plan reads the table, not a
    checkpointed RDD."""
    assert registry.run(spark, "pipe6_corpus_shuffle", SF_DIR, "noop").pins == []
    plan = registry.run(spark, "pipe6_corpus_shuffle", SF_DIR, "explain").value
    assert "ExistingRDD" not in plan
    assert "Scan parquet" in plan
