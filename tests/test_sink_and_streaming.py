"""Hermetic tests for the rate-limited sink (mock transport), the
streaming window variants, and the stateful migration machine."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from trello_github_etl_spark.io import load_table
from trello_github_etl_spark.operators.textstats import token_count
from trello_github_etl_spark.sources.rest_sink import (
    RateLimited,
    SinkConfig,
    run_sink,
)
from trello_github_etl_spark.streaming.windows import (
    stream_tumbling_counts,
    tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def _read_log(path):
    with open(path) as f:
        return [json.loads(line) for line in f]


def test_sink_serializes_throttles_and_records(spark, tmp_path):
    log = str(tmp_path / "sink.jsonl")
    df = spark.createDataFrame(
        [(str(i), f"title{i}") for i in range(5)], "entity_id string, title string"
    ).orderBy("entity_id")

    def transport(payload, _log=log):
        import json as _json

        with open(_log, "a") as f:
            f.write(_json.dumps({"kind": "send", "id": payload["entity_id"]}) + "\n")

    def fake_sleep(seconds, _log=log):
        import json as _json

        with open(_log, "a") as f:
            f.write(_json.dumps({"kind": "sleep", "s": seconds}) + "\n")

    run_sink(df, transport, SinkConfig(sleep_s=3.0), sleep=fake_sleep)
    events = _read_log(log)
    sends = [e["id"] for e in events if e["kind"] == "send"]
    sleeps = [e["s"] for e in events if e["kind"] == "sleep"]
    assert sorted(sends) == [str(i) for i in range(5)]
    assert sleeps == [3.0] * 4  # ST3: between entities, not before the first


def test_sink_backoff_doubles_and_resets(spark, tmp_path):
    log = str(tmp_path / "backoff.jsonl")
    df = spark.createDataFrame(
        [("a",), ("b",)], "entity_id string"
    ).orderBy("entity_id")

    # 'a' rate-limits twice then succeeds; 'b' succeeds → backoff reset
    def transport(payload, _log=log):
        import json as _json

        from trello_github_etl_spark.sources.rest_sink import RateLimited as RL

        with open(_log, "a") as f:
            f.write(_json.dumps({"kind": "try", "id": payload["entity_id"]}) + "\n")
        with open(_log) as f:
            events = [_json.loads(line) for line in f]
        tries = sum(
            1 for e in events
            if e["kind"] == "try" and e["id"] == payload["entity_id"]
        )
        if payload["entity_id"] == "a" and tries <= 2:
            raise RL()

    def fake_sleep(seconds, _log=log):
        import json as _json

        with open(_log, "a") as f:
            f.write(_json.dumps({"kind": "sleep", "s": seconds}) + "\n")

    run_sink(df, transport, SinkConfig(sleep_s=1.0), sleep=fake_sleep)
    sleeps = [e["s"] for e in _read_log(log) if e["kind"] == "sleep"]
    # ST4: 60 then 120 backoff for 'a', then the 1.0 inter-entity throttle
    assert sleeps == [60.0, 120.0, 1.0]


def test_stream_tumbling_matches_batch(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "events_src")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        stream_tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    want = {
        (r.window_start, r.event_type): r.n
        for r in tumbling_counts(events).collect()
    }
    assert got == want


def test_migration_state_machine(spark, tmp_path):
    from trello_github_etl_spark.streaming.state_machine import migration_phases

    src = str(tmp_path / "ops_src")
    os.makedirs(src)
    # batch 1: create both; batch 2: lists for card1 + replayed create for card2
    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write('{"entity_id": "card1", "op": "create"}\n')
        f.write('{"entity_id": "card2", "op": "create"}\n')
    with open(os.path.join(src, "b2.json"), "w") as f:
        f.write('{"entity_id": "card1", "op": "add_to_lists"}\n')
        f.write('{"entity_id": "card2", "op": "create"}\n')  # replay → no-op

    stream = (
        spark.readStream.schema("entity_id string, op string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        migration_phases(stream)
        .writeStream.format("memory")
        .queryName("phases_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode appends per-batch rows; the LAST row per entity is current
    rows = spark.sql("SELECT * FROM phases_test").collect()
    final = {}
    for r in rows:
        final[r.entity_id] = r.phase
    assert final == {"card1": 1, "card2": 0}


def test_watermark_drops_too_late_events(spark, tmp_path):
    """Append-mode watermarking: an event older than watermark never
    lands in its (already-finalized) window."""
    src = str(tmp_path / "late_src")
    os.makedirs(src)
    # batch A advances the watermark to 03:00 (05:00 - 2h); batch B
    # finalizes + evicts the [01:00, 02:00) window; batch C's 01:30
    # arrival is then behind the watermark → dropped. (A late row
    # landing in the SAME batch that evicts its window still merges —
    # eviction and the late filter use the same watermark.)
    batches = [
        '{"ts": "2024-01-01T01:10:00", "event_type": "x"}\n'
        '{"ts": "2024-01-01T05:00:00", "event_type": "x"}\n',
        '{"ts": "2024-01-01T05:30:00", "event_type": "x"}\n',
        '{"ts": "2024-01-01T01:30:00", "event_type": "x"}\n'
        '{"ts": "2024-01-01T09:00:00", "event_type": "x"}\n',
    ]
    now = time.time()
    for i, content in enumerate(batches):
        p = os.path.join(src, f"b{i}.json")
        with open(p, "w") as f:
            f.write(content)
        os.utime(p, (now - 600 + i * 60, now - 600 + i * 60))

    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stream_tumbling_counts(stream, width="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r.window_start.isoformat(): r.n
        for r in spark.sql("SELECT * FROM late_test").collect()
    }
    # the 01:00 window finalized with ONE event; the late 01:30 arrival
    # was discarded, not merged
    assert rows.get("2024-01-01T01:00:00") == 1
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped == 1


def test_streaming_exact_dedup_within_watermark(spark, tmp_path):
    """Streaming arm of the dedup family: dropDuplicatesWithinWatermark
    on the content fingerprint suppresses re-deliveries while state
    stays bounded by the watermark."""
    from trello_github_etl_spark.operators.textstats import fingerprint

    src = str(tmp_path / "dedup_src")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write('{"ts": "2024-01-01T01:00:00", "text": "hello  WORLD"}\n')
        f.write('{"ts": "2024-01-01T01:01:00", "text": "hello world"}\n')  # dup (canon)
        f.write('{"ts": "2024-01-01T01:02:00", "text": "fresh content"}\n')

    stream = (
        spark.readStream.schema("ts timestamp, text string")
        .json(src)
        .withColumn("fp", fingerprint(F.col("text")))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["fp"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT text FROM dedup_stream").collect()
    texts = sorted(r.text for r in rows)
    # one survivor per canonical form
    assert texts == ["fresh content", "hello  WORLD"]


def test_stream_stream_click_attribution(spark, tmp_path):
    """Stream-stream join with two watermarks matches the equivalent
    batch join (inner, time-bounded, same user)."""
    from trello_github_etl_spark.streaming.windows import (
        stream_click_attribution,
    )

    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = str(tmp_path / "ss_src")
    events.write.parquet(src)

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "view"),
        )

    stream = spark.readStream.schema(events.schema).parquet(src)
    sc, sv = split(stream)
    q = (
        stream_click_attribution(sc, sv)
        .writeStream.format("memory")
        .queryName("attr_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.click_id, r.view_id)
        for r in spark.sql("SELECT * FROM attr_test").collect()
    }

    bc, bv = split(events)
    want = {
        (r.click_id, r.view_id)
        for r in stream_click_attribution(bc, bv).collect()
    }
    assert got == want
    assert len(want) > 0


def test_stream_upserts_idempotent_across_batches(spark, tmp_path):
    """foreachBatch upsert loop: re-delivered entities sink nothing;
    state versions accumulate only genuine creates."""
    from trello_github_etl_spark.plans.state_store import VersionedStateStore
    from trello_github_etl_spark.streaming.sink_stream import (
        read_state,
        stream_upserts,
    )

    src = str(tmp_path / "entities_src")
    store = VersionedStateStore(str(tmp_path / "state"))
    ckpt = str(tmp_path / "ckpt")
    log = str(tmp_path / "sent.jsonl")
    os.makedirs(src)

    def write_batch(name, rows, age):
        p = os.path.join(src, name)
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        now = time.time()
        os.utime(p, (now - age, now - age))

    ent = lambda i: {
        "entity_id": f"c{i}", "title": f"t{i}", "state": "open",
        "field_values": {"Status": "Pending"},
    }
    write_batch("b1.json", [ent(1), ent(2)], 600)
    write_batch("b2.json", [ent(1), ent(3)], 0)  # c1 re-delivered

    def transport(payload, _log=log):
        import json as _json

        with open(_log, "a") as f:
            f.write(_json.dumps({"id": payload["entity_id"]}) + "\n")

    stream = (
        spark.readStream.schema(
            "entity_id string, title string, state string,"
            " field_values map<string,string>"
        )
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stream_upserts(stream, store, ckpt, transport, SinkConfig(sleep_s=0.0),
                       sleep=lambda s: None)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    sent = [json.loads(l)["id"] for l in open(log)]
    assert sorted(sent) == ["c1", "c2", "c3"]  # c1 exactly once

    final = read_state(spark, store)
    rows = {r.entity_id: r.issue_number for r in final.collect()}
    assert set(rows) == {"c1", "c2", "c3"}
    assert len(set(rows.values())) == 3  # dense unique issue numbers


def test_stream_rollup_incremental_equals_batch(spark, tmp_path):
    """Rollup maintained over micro-batches == one-shot batch agg, and
    restarting the stream over the same source merges nothing twice."""
    from pyspark.sql import functions as F

    from trello_github_etl_spark.streaming import rollup_stream as RS

    src = str(tmp_path / "orders_src")
    state = str(tmp_path / "rollup_state")
    ckpt = str(tmp_path / "rollup_ckpt")

    rows1 = [("HIGH", 10.0), ("LOW", 5.0), ("HIGH", 2.5)]
    rows2 = [("LOW", 1.0), ("MED", 7.25)]
    schema = "priority string, price double"
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(src)

    measures = {
        "sum_price": F.sum(F.col("price").cast("decimal(18,2)")),
    }

    def run():
        q = RS.stream_rollup(
            spark.readStream.schema(schema).parquet(src),
            state, ckpt, keys=["priority"], measures=measures,
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    run()
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)
    run()

    got_df, last_id = RS.read_rollup(
        spark, state, "priority string, sum_price decimal(28,2), n_rows bigint"
    )
    got = {r.priority: (float(r.sum_price), r.n_rows) for r in got_df.collect()}
    assert got == {"HIGH": (12.5, 2), "LOW": (6.0, 2), "MED": (7.25, 1)}
    assert last_id >= 1

    # replay: fresh checkpoint-less rerun of batch ids <= last merged
    # must be ignored by the monotone gate, not double-counted
    batch = spark.createDataFrame(rows1, schema)
    import trello_github_etl_spark.streaming.rollup_stream as mod
    delta = batch.groupBy("priority").agg(
        measures["sum_price"].alias("sum_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    # simulate a foreachBatch redelivery with an already-merged id
    state_df, last = RS.read_rollup(
        spark, state, "priority string, sum_price decimal(28,2), n_rows bigint"
    )
    before = sorted(map(tuple, state_df.collect()))
    q = RS.stream_rollup(
        spark.readStream.schema(schema).parquet(src),
        state, ckpt, keys=["priority"], measures=measures,
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    after_df, _ = RS.read_rollup(
        spark, state, "priority string, sum_price decimal(28,2), n_rows bigint"
    )
    assert sorted(map(tuple, after_df.collect())) == before


def test_rollup_merge_from_stale_base_conflicts(spark, tmp_path, monkeypatch):
    """A rollup merge computed from a base another writer has since
    advanced must fail loudly, not publish over the competitor: while
    batch 1's merge is in flight, batch 2 merges from the same base.
    Batch 1's commit then raises CommitConflictError, and the state
    keeps batches 0 and 2 with last_id == 2."""
    from trello_github_etl_spark.plans.state_store import CommitConflictError
    from trello_github_etl_spark.streaming import rollup_stream as RS

    state = str(tmp_path / "rollup_state")
    schema = "k string, v long, n_rows long"

    def merge(rows, batch_id):
        delta = spark.createDataFrame(rows, schema)
        return RS.merge_rollup_delta(delta, state, batch_id, ["k"], ["v"])

    assert merge([("a", 5, 1)], 0) is True

    orig = RS.merge_agg_state

    def racing(*args, **kwargs):
        monkeypatch.setattr(RS, "merge_agg_state", orig)
        assert merge([("b", 10, 1)], 2) is True  # the competing writer
        return orig(*args, **kwargs)

    monkeypatch.setattr(RS, "merge_agg_state", racing)
    with pytest.raises(CommitConflictError):
        merge([("c", 7, 1)], 1)

    got, last_id = RS.read_rollup(spark, state, schema)
    assert sorted(map(tuple, got.collect())) == [("a", 5, 1), ("b", 10, 1)]
    assert last_id == 2


def test_stream_incremental_dedup_exactly_once_corpus(spark, tmp_path):
    """Continuous-crawl dedup loop (streaming/dedup_stream.py): three
    file micro-batches — fresh docs, a re-crawl + within-batch dup,
    and a full batch re-delivery. The fingerprint state must admit
    each canonical text exactly once, and a re-delivered batch must
    classify as all dup_existing (idempotent replay)."""
    import json as _json

    from trello_github_etl_spark.plans.state_store import (
        VersionedStateStore,
    )
    from trello_github_etl_spark.streaming.dedup_stream import (
        dedup_batch,
        read_fps,
    )

    store = VersionedStateStore(str(tmp_path / "fps"))

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    # day 1: two fresh docs
    v1 = {
        r.doc_id: r.verdict
        for r in dedup_batch(
            spark, store, docs([(1, "alpha text"), (2, "beta text")])
        ).collect()
    }
    assert v1 == {1: "kept", 2: "kept"}
    # day 2: re-crawl of doc 1 (case-mangled), a fresh doc arriving twice
    v2 = {
        r.doc_id: r.verdict
        for r in dedup_batch(
            spark,
            store,
            docs([(10, "ALPHA   text"), (11, "gamma text"), (12, "gamma text")]),
        ).collect()
    }
    assert v2 == {10: "dup_existing", 11: "kept", 12: "dup_batch"}
    # replay of day 2 (at-least-once delivery): nothing new admitted
    v2_replay = {
        r.doc_id: r.verdict
        for r in dedup_batch(
            spark,
            store,
            docs([(10, "ALPHA   text"), (11, "gamma text"), (12, "gamma text")]),
        ).collect()
    }
    assert set(v2_replay.values()) == {"dup_existing"}
    # corpus state: exactly one fp per canonical text, versioned commits
    fps = read_fps(spark, store).collect()
    assert len(fps) == 3  # alpha, beta, gamma
    assert store.latest_version() == 3
    assert [c.op for c in store.history()] == ["dedup-batch"] * 3


def test_stream_incremental_dedup_via_foreachbatch(spark, tmp_path):
    """Same loop driven by an actual Structured Streaming file source
    with availableNow, one file per micro-batch."""
    import json as _json

    from trello_github_etl_spark.plans.state_store import (
        VersionedStateStore,
    )
    from trello_github_etl_spark.streaming.dedup_stream import (
        read_fps,
        stream_dedup,
    )

    src = str(tmp_path / "docs_src")
    os.makedirs(src)

    def write_file(name, rows, age):
        p = os.path.join(src, name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        now = time.time()
        os.utime(p, (now - age, now - age))

    write_file("d1.json", [{"doc_id": 1, "text": "one"},
                           {"doc_id": 2, "text": "two"}], 600)
    write_file("d2.json", [{"doc_id": 3, "text": "ONE "},
                           {"doc_id": 4, "text": "three"}], 0)

    store = VersionedStateStore(str(tmp_path / "fps"))
    seen = []
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stream_dedup(
            stream,
            store,
            str(tmp_path / "ckpt"),
            on_batch=lambda bid, v: seen.extend(
                (r.doc_id, r.verdict) for r in v.collect()
            ),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    verdicts = dict(seen)
    assert verdicts[3] == "dup_existing"  # canonical match of doc 1
    assert verdicts[1] == verdicts[2] == verdicts[4] == "kept"
    assert len(read_fps(spark, store).collect()) == 3


def test_stream_sketch_incremental_equals_batch_and_skips_replay(
    spark, tmp_path
):
    """Sketch maintenance loop: three batches merged incrementally
    must equal the one-shot grid over the concatenation (mergeability
    is exact); a replayed batch id must be skipped — SUM is not
    idempotent, so the batch-id gate is what makes at-least-once
    delivery exactly-once."""
    from trello_github_etl_spark.operators.sketch import countmin_table
    from trello_github_etl_spark.plans.state_store import (
        VersionedStateStore,
    )
    from trello_github_etl_spark.streaming.sketch_stream import (
        apply_batch,
        read_grid,
    )

    store = VersionedStateStore(str(tmp_path / "cms"))
    batches = [
        [(f"tok{i % 30}",) for i in range(200)],
        [(f"tok{i % 75}",) for i in range(150)],
        [(f"day3-{i % 10}",) for i in range(90)],
    ]
    dfs = [
        spark.createDataFrame(rows, "token string") for rows in batches
    ]
    for bid, df in enumerate(dfs):
        assert apply_batch(spark, store, df, bid) is True
    # replay of batch 1: skipped, state untouched
    v_before = store.latest_version()
    assert apply_batch(spark, store, dfs[1], 1) is False
    assert store.latest_version() == v_before

    incremental = sorted(
        map(tuple, read_grid(spark, store).collect())
    )
    batch_once = sorted(
        map(
            tuple,
            countmin_table(dfs[0].union(dfs[1]).union(dfs[2]))
            .selectExpr("CAST(d AS LONG) d", "CAST(cell AS LONG) cell", "cnt")
            .collect(),
        )
    )
    assert incremental == batch_once


def test_stream_sketch_over_file_batches_equals_batch(spark, tmp_path):
    """stream_sketch on a file source, one micro-batch per file: the
    stored grid equals the one-shot grid over all three files."""
    from trello_github_etl_spark.operators.sketch import countmin_table
    from trello_github_etl_spark.plans.state_store import (
        VersionedStateStore,
    )
    from trello_github_etl_spark.streaming.sketch_stream import (
        read_grid,
        stream_sketch,
    )

    src = str(tmp_path / "tokens_src")
    for rows in (
        [(f"tok{i % 30}",) for i in range(200)],
        [(f"tok{i % 75}",) for i in range(150)],
        [(f"day3-{i % 10}",) for i in range(90)],
    ):
        spark.createDataFrame(rows, "token string").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    store = VersionedStateStore(str(tmp_path / "cms"))
    stream = (
        spark.readStream.schema("token string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_sketch(stream, store, str(tmp_path / "ckpt")).trigger(
        availableNow=True
    ).start().awaitTermination(180)

    assert store.last_batch() == 2  # three files, three batches
    once = countmin_table(spark.read.parquet(src)).selectExpr(
        "CAST(d AS LONG) d", "CAST(cell AS LONG) cell", "cnt"
    )
    assert sorted(map(tuple, read_grid(spark, store).collect())) == sorted(
        map(tuple, once.collect())
    )


def test_sketch_stream_tolerates_foreign_commits(spark, tmp_path):
    """A store seeded by non-sketch commits must not trip the
    batch-id gate: a commit without a batch id leaves it at -1."""
    from trello_github_etl_spark.plans.state_store import (
        VersionedStateStore,
    )
    from trello_github_etl_spark.streaming.sketch_stream import (
        apply_batch,
    )

    store = VersionedStateStore(str(tmp_path / "cms"))
    # foreign seed commit (op='overwrite'), empty grid shape
    store.commit(
        spark.createDataFrame([], "d long, cell long, cnt long")
    )
    assert store.last_batch() == -1
    ok = apply_batch(
        spark,
        store,
        spark.createDataFrame([("tok",)], "token string"),
        0,
    )
    assert ok is True


def test_sketch_gate_survives_vacuum_and_foreign_commits(spark, tmp_path):
    """ADVICE r2: the replay gate must not regress when vacuum()
    rewrites history. Sequence that broke the history-derived gate:
    cms-batch commit → foreign commit → vacuum(keep_last=1) prunes the
    cms-batch history entry → replay of the batch. The manifest's
    last_batch gate must still report the applied batch and skip the
    replay."""
    from trello_github_etl_spark.plans.state_store import (
        VersionedStateStore,
    )
    from trello_github_etl_spark.streaming.sketch_stream import (
        apply_batch,
        read_grid,
    )

    store = VersionedStateStore(str(tmp_path / "cms"))
    batch = spark.createDataFrame([("tok",), ("tok",)], "token string")
    assert apply_batch(spark, store, batch, 0) is True
    # a non-sketch commit lands after the cms-batch commit...
    store.commit(read_grid(spark, store), op="compaction")
    # ...and vacuum prunes everything but the latest version
    store.vacuum(keep_last=1)
    assert all(not c.op.startswith("cms-batch:") for c in store.history())
    # gate persisted in the manifest, not prunable history
    assert store.last_batch() == 0
    grid_before = sorted(map(tuple, read_grid(spark, store).collect()))
    assert apply_batch(spark, store, batch, 0) is False  # replay skipped
    assert (
        sorted(map(tuple, read_grid(spark, store).collect())) == grid_before
    )


def test_stream_incremental_near_dedup_exactly_once(spark, tmp_path):
    """Near-dup crawl loop (streaming/neardup_stream.py): batch 1
    admits fresh docs; batch 2 brings a NEAR-copy of an admitted doc
    (one appended token — exact-fp dedup would miss it), a genuinely
    fresh doc arriving twice, and a no-shingle doc; a replay of
    batch 2 admits nothing new. Band state grows only by keeper
    bands, CAS-versioned per batch."""
    from trello_github_etl_spark.plans.state_store import (
        VersionedStateStore,
    )
    from trello_github_etl_spark.streaming.neardup_stream import (
        near_dedup_batch,
        read_bands,
    )

    store = VersionedStateStore(str(tmp_path / "bands"))

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    v1 = {
        r.doc_id: r.verdict
        for r in near_dedup_batch(
            spark, store, docs([(1, base), (2, other)])
        ).collect()
    }
    assert v1 == {1: "kept", 2: "kept"}
    n_state_v1 = len(read_bands(spark, store).collect())
    assert 1 <= n_state_v1 <= 8  # <= LSH_BANDS per kept doc
    batch2 = [
        (10, base + " tailword"),  # near-copy: exact fp differs
        (11, "red orange yellow green blue indigo violet pink brown black"),
        (12, "red orange yellow green blue indigo violet pink brown black"),
        (13, "too short"),  # < 3 tokens -> no shingles
    ]
    v2 = {
        r.doc_id: r.verdict
        for r in near_dedup_batch(spark, store, docs(batch2)).collect()
    }
    assert v2 == {
        10: "dup_existing_near",
        11: "kept",
        12: "dup_batch_near",
        13: "no_signature",
    }
    v2_replay = {
        r.doc_id: r.verdict
        for r in near_dedup_batch(spark, store, docs(batch2)).collect()
    }
    assert v2_replay[11] == "dup_existing_near"  # now in state
    assert v2_replay[12] == "dup_existing_near"
    assert v2_replay[13] == "no_signature"  # never admitted
    # the replay admitted nothing, so its byte-identical state is NOT
    # committed as a fresh version (ADVICE r5/r6: no-op commits churn
    # version history under at-least-once delivery) — version stays 2
    assert store.latest_version() == 2
    assert [c.op for c in store.history()] == ["near-dedup-batch"] * 2
    state_after = sorted(r.band_key for r in read_bands(spark, store).collect())
    # an EMPTY batch is also a no-op: no version, no state change
    empty = near_dedup_batch(spark, store, docs([]).filter("doc_id < 0"))
    assert empty.count() == 0
    assert store.latest_version() == 2
    # a second full replay: still flat
    near_dedup_batch(spark, store, docs(batch2)).collect()
    assert store.latest_version() == 2
    assert (
        sorted(r.band_key for r in read_bands(spark, store).collect())
        == state_after
    )


def test_stream_near_dedup_via_foreachbatch(spark, tmp_path):
    """Near-dup loop driven by a real file-source stream with
    availableNow, one file per micro-batch; batch-mode bootstrap
    state (lsh_band_keys of an offline corpus) continues seamlessly
    because stream and batch share one banding scheme."""
    import json as _json

    from trello_github_etl_spark.operators.dedup import lsh_band_keys
    from trello_github_etl_spark.plans.state_store import (
        VersionedStateStore,
    )
    from trello_github_etl_spark.streaming.neardup_stream import (
        stream_near_dedup,
    )

    corpus = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    store = VersionedStateStore(str(tmp_path / "bands"))
    store.commit(
        lsh_band_keys(corpus).select("band_key").distinct(), op="bootstrap"
    )

    src = str(tmp_path / "docs_src")
    os.makedirs(src)

    def write_file(name, rows, age):
        p = os.path.join(src, name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        now = time.time()
        os.utime(p, (now - age, now - age))

    write_file(
        "d1.json",
        [
            {"doc_id": 1,
             "text": "alpha beta gamma delta epsilon zeta eta theta iota kappa tail"},
            {"doc_id": 2, "text": "one two three four five six seven"},
        ],
        600,
    )
    write_file(
        "d2.json",
        [{"doc_id": 3, "text": "one two three four five six seven extra"}],
        0,
    )

    seen = []
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stream_near_dedup(
            stream,
            store,
            str(tmp_path / "ckpt"),
            on_batch=lambda bid, v: seen.extend(
                (r.doc_id, r.verdict) for r in v.collect()
            ),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    verdicts = dict(seen)
    assert verdicts[1] == "dup_existing_near"  # near-copy of bootstrap
    assert verdicts[2] == "kept"
    assert verdicts[3] == "dup_existing_near"  # near-copy of batch-1 keeper


def test_composed_ingest_crash_replay_equals_batch(spark, tmp_path):
    """The composed loop (streaming/composed_stream.py): ingest →
    near-dup gate → rollup merge → sink → band admit over 4 real
    micro-batches (file source, one file per trigger), with an
    INJECTED CRASH mid-sink on batch 2 — after the rollup merged,
    before the band state admitted — then a checkpoint restart. Final
    band state, rollup state, and sink receipts must all equal a
    one-shot batch recompute over the full corpus; the crashed batch's
    kept doc must appear TWICE in the raw sink log (the honest
    at-least-once window) but once in the deduped receipt set."""
    import json as _json

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from trello_github_etl_spark.operators.dedup import (
        incremental_near_dedup,
        lsh_band_keys,
    )
    from trello_github_etl_spark.plans.state_store import VersionedStateStore
    from trello_github_etl_spark.streaming.composed_stream import (
        stream_ingest,
        token_ledger_dir,
    )
    from trello_github_etl_spark.streaming.neardup_stream import (
        BAND_SCHEMA,
        read_bands,
    )
    from trello_github_etl_spark.streaming.rollup_stream import read_rollup

    fam = {
        "A": "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "B": "one two three four five six seven eight nine ten",
        "C": "red orange yellow green blue indigo violet pink brown black",
        "D": "north south east west up down left right front back",
        "E": "cat dog bird fish horse cow sheep goat duck hen",
    }
    batches = [
        [(1, fam["A"], "web"), (2, fam["B"], "books")],
        [(10, fam["A"] + " tailword", "web"), (11, fam["C"], "web")],
        [(20, fam["D"], "books"), (21, fam["D"] + " extraword", "books")],
        [(30, fam["C"] + " tailtoken", "web"), (31, fam["E"], "books")],
    ]
    all_rows = [r for b in batches for r in b]

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}.json")
        with open(p, "w") as f:
            for doc_id, text, source in rows:
                f.write(
                    _json.dumps(
                        {"doc_id": doc_id, "text": text, "source": source}
                    )
                    + "\n"
                )
        now = time.time()
        age = (len(batches) - i) * 120
        os.utime(p, (now - age, now - age))

    sink_log = str(tmp_path / "sink.jsonl")
    crash_marker = str(tmp_path / "crashed.marker")
    store = VersionedStateStore(str(tmp_path / "bands"))
    rollup_dir = str(tmp_path / "rollup")
    os.makedirs(rollup_dir)

    def transport(payload, _log=sink_log, _marker=crash_marker):
        import json as _j
        import os as _os

        with open(_log, "a") as f:
            f.write(_j.dumps({"id": payload["doc_id"]}) + "\n")
        if payload["doc_id"] == 20 and not _os.path.exists(_marker):
            with open(_marker, "w") as f:
                f.write("x")
            raise RuntimeError("injected crash mid-sink (batch 2)")

    def start():
        stream = (
            spark.readStream.schema("doc_id long, text string, source string")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        return (
            stream_ingest(
                stream,
                store,
                rollup_dir,
                str(tmp_path / "ckpt"),
                transport,
            )
            .trigger(availableNow=True)
            .start()
        )

    q1 = start()
    with pytest.raises(StreamingQueryException):
        q1.awaitTermination(300)
    assert os.path.exists(crash_marker)  # the crash actually fired
    # mid-crash state: batch 2's rollup already merged, bands NOT yet
    # admitted (3 admits so far: b0 + b1 -> versions 1..2)
    assert store.latest_version() == 2

    q2 = start()  # restart from the same checkpoint: b2 replays, b3 runs
    q2.awaitTermination(300)

    # --- batch recompute oracle: the whole corpus as ONE batch over
    # empty state (families are designed so min-id-per-family keepers
    # agree between incremental arrival order and one-shot election)
    corpus = spark.createDataFrame(
        all_rows, "doc_id long, text string, source string"
    )
    one_shot = incremental_near_dedup(
        corpus, spark.createDataFrame([], BAND_SCHEMA)
    )
    batch_kept_ids = sorted(
        r.doc_id for r in one_shot.filter("verdict = 'kept'").collect()
    )
    assert batch_kept_ids == [1, 2, 11, 20, 31]
    batch_kept = corpus.join(
        spark.createDataFrame([(i,) for i in batch_kept_ids], "doc_id long"),
        "doc_id",
    )

    # 1. band state == batch recompute's kept-doc band keys
    stream_bands = sorted(r.band_key for r in read_bands(spark, store).collect())
    batch_bands = sorted(
        r.band_key
        for r in lsh_band_keys(batch_kept).select("band_key").distinct().collect()
    )
    assert stream_bands == batch_bands
    # one admit per batch (every batch kept >= 1 doc), CAS-ordered
    assert store.latest_version() == 4
    assert [c.op for c in store.history()] == ["composed-ingest"] * 4

    # 2. rollup state == one-shot aggregate over batch-kept docs
    rollup, last_id = read_rollup(
        spark,
        token_ledger_dir(rollup_dir),
        "source string, tokens long, n_docs long",
    )
    got = {
        r.source: (r.tokens, r.n_docs) for r in rollup.collect()
    }
    expect = {
        r.source: (r.tokens, r.n_docs)
        for r in batch_kept.groupBy("source")
        .agg(
            F.sum(token_count(F.col("text"))).cast("long").alias("tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .collect()
    }
    assert got == expect == {"web": (20, 2), "books": (30, 3)}
    assert last_id == 3  # batches 0..3 all merged exactly once

    # 3. sink receipts: deduped set == kept set; raw log shows doc 20
    # delivered twice (once in the crashed attempt, once on replay)
    raw = [e["id"] for e in _read_log(sink_log)]
    assert sorted(set(raw)) == batch_kept_ids
    assert raw.count(20) == 2
    assert all(raw.count(i) == 1 for i in (1, 2, 11, 31))


def test_composed_ingest_all_dup_batch_is_full_noop(spark, tmp_path):
    """An all-dup micro-batch through the composed loop must be a
    complete no-op (r7 code review): no band-state version, no rollup
    version directory, no sink deliveries — an empty delta merged
    anyway would rewrite the whole rollup state byte-identically."""
    from trello_github_etl_spark.plans.state_store import VersionedStateStore
    from trello_github_etl_spark.streaming.composed_stream import (
        ingest_batch,
        token_ledger_dir,
    )
    from trello_github_etl_spark.streaming.rollup_stream import read_rollup

    store = VersionedStateStore(str(tmp_path / "bands"))
    rollup_dir = str(tmp_path / "rollup")
    os.makedirs(rollup_dir)
    sink_log = str(tmp_path / "sink.jsonl")

    def transport(payload, _log=sink_log):
        import json as _j

        with open(_log, "a") as f:
            f.write(_j.dumps({"id": payload["doc_id"]}) + "\n")

    def docs(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ingest_batch(
        spark, store, rollup_dir, docs([(1, text, "web")]), 0, transport
    )
    assert store.latest_version() == 1
    ledger = token_ledger_dir(rollup_dir)
    rollup_dirs = sorted(os.listdir(ledger))
    schema = "source string, tokens long, n_docs long"
    state0 = sorted(read_rollup(spark, ledger, schema)[0].collect())

    # batch 1: a near-copy only → every doc dup → full no-op
    ingest_batch(
        spark,
        store,
        rollup_dir,
        docs([(2, text + " tailword", "web")]),
        1,
        transport,
    )
    assert store.latest_version() == 1  # no band version
    assert sorted(os.listdir(ledger)) == rollup_dirs  # no v1 dir
    assert sorted(read_rollup(spark, ledger, schema)[0].collect()) == state0
    assert [e["id"] for e in _read_log(sink_log)] == [1]  # nothing new sent


def test_stream_incremental_semantic_dedup_exactly_once(spark, tmp_path):
    """Semantic day-N loop (streaming/semdedup_stream.py): batch 1
    admits fresh vectors; batch 2 brings an exact re-embedding of an
    admitted vector, a near-copy of another, a novel direction
    arriving twice, and a zero vector; a replay of batch 2 admits
    nothing new — including the zero vector, whose self-cosine is
    0.0 (the guard), so its exactly-once-ness rests on the id
    anti-join, which this test pins."""
    from trello_github_etl_spark.plans.state_store import (
        VersionedStateStore,
    )
    from trello_github_etl_spark.streaming.semdedup_stream import (
        read_exemplars,
        semantic_dedup_batch,
    )

    store = VersionedStateStore(str(tmp_path / "exemplars"))
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cent_id int, c_vec array<double>",
    )

    def vecs(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    v1 = {
        r.vec_id: r.verdict
        for r in semantic_dedup_batch(
            spark, store, cents,
            vecs([(1, [1.0, 0.1]), (2, [0.1, 1.0])]),
        ).collect()
    }
    assert v1 == {1: "kept", 2: "kept"}
    assert store.latest_version() == 1

    batch2 = [
        (10, [1.0, 0.1]),    # exact re-embed of 1 -> dup_of_state
        (11, [0.05, 1.0]),   # near-copy of 2 (cos ~0.9988)
        (12, [-1.0, 0.0]),   # novel direction -> kept
        (13, [-1.0, 0.0]),   # same again -> dup_in_batch, peer 12
        (14, [0.0, 0.0]),    # zero vector -> kept via cosine guard
    ]
    out2 = {
        r.vec_id: (r.verdict, r.match_id)
        for r in semantic_dedup_batch(
            spark, store, cents, vecs(batch2)
        ).collect()
    }
    assert out2[10] == ("dup_of_state", 1)
    assert out2[11] == ("dup_of_state", 2)
    assert out2[12] == ("kept", 12)
    assert out2[13] == ("dup_in_batch", 12)
    assert out2[14] == ("kept", 14)
    assert store.latest_version() == 2

    replay = {
        r.vec_id: (r.verdict, r.match_id)
        for r in semantic_dedup_batch(
            spark, store, cents, vecs(batch2)
        ).collect()
    }
    assert replay[10] == ("dup_of_state", 1)
    assert replay[12] == ("dup_of_state", 12)  # now in state
    assert replay[13] == ("dup_of_state", 12)
    assert replay[14] == ("kept", 14)  # zero self-cosine is 0.0 ...
    # ... but the id anti-join keeps its admission exactly-once:
    # the replay admitted nothing, so no fresh version was committed
    assert store.latest_version() == 2
    state_ids = sorted(
        r.vec_id
        for r in read_exemplars(
            spark, store, vecs(batch2)
        ).collect()
    )
    assert state_ids == [1, 2, 12, 14]
    # an empty batch is also a no-op
    empty = semantic_dedup_batch(
        spark, store, cents, vecs([]).filter("vec_id < 0")
    )
    assert empty.count() == 0
    assert store.latest_version() == 2


def test_stream_semantic_dedup_via_foreachbatch(spark, tmp_path):
    """Semantic loop driven by a real file-source stream with
    availableNow, one file per micro-batch; batch-mode bootstrap
    state continues seamlessly because stream and batch share one
    classification plan (dedup.incremental_semantic_dedup)."""
    from trello_github_etl_spark.plans.state_store import (
        VersionedStateStore,
    )
    from trello_github_etl_spark.streaming.semdedup_stream import (
        stream_semantic_dedup,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cent_id int, c_vec array<double>",
    )
    store = VersionedStateStore(str(tmp_path / "exemplars"))
    store.commit(
        spark.createDataFrame(
            [(100, [1.0, 0.05])], "vec_id long, embedding array<double>"
        ),
        op="bootstrap",
    )

    src = str(tmp_path / "vec_src")
    os.makedirs(src)

    def write_file(name, rows, age):
        p = os.path.join(src, name)
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        now = time.time()
        os.utime(p, (now - age, now - age))

    write_file(
        "b1.json",
        [
            {"vec_id": 1, "embedding": [1.0, 0.05]},  # dup of bootstrap
            {"vec_id": 2, "embedding": [0.1, 1.0]},   # novel
        ],
        600,
    )
    write_file(
        "b2.json",
        [{"vec_id": 3, "embedding": [0.1, 1.0]}],  # dup of batch-1 keeper
        0,
    )

    seen = []
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stream_semantic_dedup(
            stream,
            store,
            cents,
            str(tmp_path / "ckpt"),
            on_batch=lambda bid, v: seen.extend(
                (r.vec_id, r.verdict) for r in v.collect()
            ),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    verdicts = dict(seen)
    assert verdicts[1] == "dup_of_state"
    assert verdicts[2] == "kept"
    assert verdicts[3] == "dup_of_state"  # batch-1 keeper now in state


def test_recover_orphans_unwedges_crashed_commit(spark, tmp_path):
    """Unit view of the r11-verdict-#4 crash window: a commit whose
    version directory landed (parquet complete, _SUCCESS present)
    but whose manifest publish never ran must (a) WEDGE a plain
    retry — the directory-claim check cannot distinguish the orphan
    from a competitor's completed write — and (b) be cleanly removed
    by recover_orphans, after which the retry commits the identical
    content from the identical base."""
    from trello_github_etl_spark.plans.state_store import (
        CommitConflictError,
        VersionedStateStore,
    )

    store = VersionedStateStore(str(tmp_path / "st"))
    df = spark.range(3).selectExpr("CAST(id AS STRING) AS fp")
    assert store.commit(df, expected_version=0) == 1

    # simulate the crash: v2 fully written, manifest never flipped
    orig_publish = VersionedStateStore._publish
    def no_publish(self, manifest):
        raise RuntimeError("injected crash before manifest publish")
    VersionedStateStore._publish = no_publish
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            store.commit(
                spark.range(5).selectExpr("CAST(id AS STRING) AS fp"),
                expected_version=1,
            )
    finally:
        VersionedStateStore._publish = orig_publish

    assert store.latest_version() == 1  # publish never happened
    v2 = os.path.join(store.root, "v00000002")
    assert os.path.exists(os.path.join(v2, "_SUCCESS"))  # state write done

    # (a) the wedge: every retry from the same base now conflicts
    with pytest.raises(CommitConflictError, match="already claimed"):
        store.commit(
            spark.range(5).selectExpr("CAST(id AS STRING) AS fp"),
            expected_version=1,
        )

    # (b) recovery removes ONLY the unpublished orphan
    assert store.recover_orphans() == [2]
    assert not os.path.exists(v2)
    assert store.latest_version() == 1
    assert store.commit(
        spark.range(5).selectExpr("CAST(id AS STRING) AS fp"),
        expected_version=1,
    ) == 2
    assert {r.fp for r in store.read(spark).collect()} == {
        "0", "1", "2", "3", "4"
    }


def _crash_window_converges(spark, tmp_path, wire, read_state):
    """Kill a stream INSIDE the commit window of batch 0 — after the
    state write hits disk, before the manifest publish — restart the
    SAME stream (same checkpoint), and return the crash-free run's state
    after asserting the restarted run converged to it. The foreachBatch
    failure keeps the streaming checkpoint un-advanced, so batch 0
    re-delivers; the wiring's startup recover_orphans removes the
    unpublished orphan that would otherwise wedge the retried commit.

    ``wire(stream, state_root, checkpoint_dir)`` returns the loop's
    DataStreamWriter; ``read_state(state_root)`` the sorted state rows.
    """
    import json as _json

    from trello_github_etl_spark.plans.state_store import (
        VersionedStateStore,
    )

    def make_source(d):
        src = str(tmp_path / d)
        os.makedirs(src)
        rows1 = [{"doc_id": 1, "text": "one"}, {"doc_id": 2, "text": "two"}]
        rows2 = [{"doc_id": 3, "text": "ONE "}, {"doc_id": 4, "text": "three"}]
        for name, rows, age in (("d1.json", rows1, 600), ("d2.json", rows2, 0)):
            p = os.path.join(src, name)
            with open(p, "w") as f:
                for r in rows:
                    f.write(_json.dumps(r) + "\n")
            now = time.time()
            os.utime(p, (now - age, now - age))
        return src

    def run(src, root, ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        return wire(stream, root, ckpt).trigger(availableNow=True).start()

    # --- crash-free reference run ---
    q = run(make_source("src_ref"), str(tmp_path / "state_ref"),
            str(tmp_path / "ckpt_ref"))
    q.awaitTermination(180)
    ref = read_state(str(tmp_path / "state_ref"))

    # --- injected run: crash before batch 0's manifest publish ---
    src = make_source("src_crash")
    root = str(tmp_path / "state_crash")
    orig_publish = VersionedStateStore._publish
    crashed = {"n": 0}
    def crash_once(self, manifest):
        if self.root == root and crashed["n"] == 0:
            crashed["n"] = 1
            raise RuntimeError("injected crash before manifest publish")
        return orig_publish(self, manifest)
    VersionedStateStore._publish = crash_once
    try:
        q = run(src, root, str(tmp_path / "ckpt_crash"))
        with pytest.raises(Exception):
            q.awaitTermination(180)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
    finally:
        VersionedStateStore._publish = orig_publish

    store = VersionedStateStore(root)
    assert crashed["n"] == 1
    assert store.latest_version() == 0  # batch 0's publish never landed
    orphan = os.path.join(root, "v00000001")
    assert os.path.exists(orphan)  # ...but its state write did

    # --- restart: same checkpoint, same store root ---
    q = run(src, root, str(tmp_path / "ckpt_crash"))
    q.awaitTermination(180)
    assert not os.path.exists(orphan) or store.latest_version() >= 1
    assert read_state(root) == ref  # identical state, crash or no crash
    return ref


def test_stream_dedup_crash_window_converges_on_restart(spark, tmp_path):
    """End-to-end r11-verdict-#4 on the fingerprint state."""
    from trello_github_etl_spark.plans.state_store import (
        VersionedStateStore,
    )
    from trello_github_etl_spark.streaming.dedup_stream import (
        read_fps,
        stream_dedup,
    )

    ref_fps = _crash_window_converges(
        spark,
        tmp_path,
        lambda stream, root, ckpt: stream_dedup(
            stream, VersionedStateStore(root), ckpt
        ),
        lambda root: sorted(
            r.fp for r in read_fps(spark, VersionedStateStore(root)).collect()
        ),
    )
    assert len(ref_fps) == 3


def test_stream_rollup_crash_window_converges_on_restart(spark, tmp_path):
    """The same crash window on the rollup state: its replay gate must
    not skip the re-delivered batch 0, and the restart must recover the
    orphan rather than wedge on it."""
    from trello_github_etl_spark.streaming.rollup_stream import (
        read_rollup,
        stream_rollup,
    )

    ref = _crash_window_converges(
        spark,
        tmp_path,
        lambda stream, root, ckpt: stream_rollup(
            stream, root, ckpt, keys=["text"],
            measures={"id_sum": F.sum("doc_id")},
        ),
        lambda root: sorted(
            map(
                tuple,
                read_rollup(
                    spark, root, "text string, id_sum long, n_rows long"
                )[0].collect(),
            )
        ),
    )
    assert len(ref) == 4
