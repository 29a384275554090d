"""The benchmark's workloads and the run loop that times them.

A run starts in a fresh process and times its set-up once: the cold
session start (a new JVM) and the registry load. Input generation
follows, untimed. An untimed check pass then runs every registry query
once against its DuckDB oracle, or the board's cold ETL cycle; it and
the registry's untimed warm-up passes warm the JVM. Timed units follow
until the requested seconds have passed: a unit is one pass over the
query set, or one drift cycle of the board ETL on a copy of the cold
state. An op is one query (build plus action) or one ETL cycle. Ops
run closed-loop from one client: each starts when the previous one
ends.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from perfbench import boardgen, sink, tables
from perfbench.trace import (
    GC_THREADS,
    JIT_THREADS,
    JobCounts,
    Tracer,
    group_counts,
    median,
    percentile_reportable,
    program_cpu_s,
    self_times,
    threads_cpu_s,
    wait_for_listeners,
)
from tools.verify_local import normalize
from trello_github_etl_spark import io, registry
from trello_github_etl_spark.operators import similarity
from trello_github_etl_spark.operators.board_pipeline import (
    customize_cards,
    customize_check_items,
)
from trello_github_etl_spark.plans.state_store import VersionedStateStore
from trello_github_etl_spark.plans.upserts import M_CREATED, STATE_SCHEMA, plan_upserts
from trello_github_etl_spark.session import get_spark
from trello_github_etl_spark.sources.board import normalize_board, read_board
from trello_github_etl_spark.sources.rest_sink import run_sink

SPARK_CONF = {"spark.ui.showConsoleProgress": "false"}

# The bounded runtime metric is CPU seconds: those of the driver, its
# JVM (less its JIT compiler and GC threads, traced on their own) and
# the JVM's Python workers over the timed ops. Wall time moves with how much CPU a shared host grants
# the run: on a 4-vCPU VM the same registry pass took 3.3 s in one run
# and 7 s in another, every op slower alike. So wall time is traced,
# not bounded.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}
PER_LAYER = {
    "run.wall_s": "s",
    "run.op_p50_s": "s",
    "run.op_cpu_p50_s": "s",
    "session.get_spark_s": "s",
    "jvm.peak_rss_mb": "MB",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "io.load_table_s": "s",
    "io.load_table_jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_stages": "count",
    "queries.action_s": "s",
    "queries.action_jobs": "count",
    "queries.action_stages": "count",
    "queries.action_tasks": "count",
    "queries.failed_tasks": "count",
    "cache.pinned_mb": "MB",
    "cache.leaking_ops": "count",
    "board.extract_s": "s",
    "board_pipeline.customize_s": "s",
    "upserts.plan_s": "s",
    "rest_sink.run_sink_s": "s",
    "rest_sink.jobs": "count",
    "rest_sink.rows_sent": "count",
    "rest_sink.rate_limited": "count",
    "rest_sink.backoff_s_requested": "s",
    "state_store.read_s": "s",
    "state_store.merge_s": "s",
    "state_store.merge_jobs": "count",
    "etl.cycle_jobs": "count",
    "etl.cycle_self_s": "s",
    "trace.outside_ops_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


@dataclass
class Unit:
    """One timed unit: its ops as (name, wall seconds, CPU seconds) and
    its per-layer totals."""

    ops: list[tuple[str, float, float]] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    failed: int = 0
    elapsed_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return sum(s for _, s, _ in self.ops)


class Ops:
    """Hands out op ids and job-group names, and tallies what the ops'
    job groups ran."""

    def __init__(self, spark: SparkSession, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.next_id = 0

    def start(self) -> int:
        self.next_id += 1
        self.tracer.op = self.next_id
        return self.next_id

    def group(self, op: int, phase: str) -> str:
        name = f"op{op}/{phase}"
        self.sc.setJobGroup(name, name)
        return name

    def counts(self, group: str) -> JobCounts:
        wait_for_listeners(self.sc)
        return group_counts(self.sc, group)

    def storage(self) -> dict[int, int]:
        """Bytes held by cached or checkpointed blocks right now, by RDD id."""
        return {
            i.id(): i.memSize() + i.diskSize()
            for i in self.sc._jsc.sc().getRDDStorageInfo()
        }

    def pinned_mb(self, before: dict[int, int]) -> float:
        """Storage held now by RDDs that were not held at ``before``:
        what the op since then left pinned."""
        return sum(b for i, b in self.storage().items() if i not in before) / 1e6


def noop_write(*frames: DataFrame) -> None:
    for df in frames:
        df.write.format("noop").mode("overwrite").save()


# -- registry query workloads ----------------------------------------------


class RegistryWorkload:
    """Registry queries over generated tables. The check pass compares
    each query once with its DuckDB oracle; every timed op is the
    builder call plus a ``noop`` write. An op whose build or action
    runs another number of jobs than the same query did before in the
    run fails: each op must start from the same cold caches. (Stage and
    task counts are not compared: adaptive execution varies them with
    the order in which concurrent stages finish.)"""

    # after the check pass the JIT is still compiling: the first pass
    # over the queries ran about a third slower than later ones, the
    # second about a tenth
    warmup_units = 2

    def __init__(self, names: list[str], scale: float):
        self.names = names
        self.scale = scale
        self.bad: set[str] = set()
        self.builds: dict[str, JobCounts] = {}
        self.actions: dict[str, JobCounts] = {}

    def prepare(self, spark: SparkSession, work_dir: str, seed: int) -> None:
        self.data_dir = os.path.join(work_dir, "tables")
        tables.write_tables(tables.build_tables(seed, self.scale), self.data_dir)

    @staticmethod
    def reset(spark: SparkSession) -> None:
        """Start every op cold: no cached plans, no IVF seed memos."""
        similarity._CENTROID_CACHE.clear()
        similarity._GROUPED_SEED_CACHE.clear()
        spark.catalog.clearCache()

    def check(self, spark: SparkSession, ops: Ops) -> tuple[int, int]:
        """Run and check every query once; returns (attempted, failed)."""
        import duckdb

        con = duckdb.connect()
        for t in io.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{io.table_path(self.data_dir, t)}')"
            )
        for name in self.names:
            self.reset(spark)
            t0 = time.perf_counter()
            try:
                group = ops.group(ops.start(), "build")
                df = registry.QUERIES[name](spark, self.data_dir)
                self.builds[name] = ops.counts(group)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                rel = con.sql(registry.ORACLES[name])
                want_cols, want = rel.columns, rel.fetchall()
                if sorted(cols) != sorted(want_cols):
                    raise AssertionError(f"columns {sorted(cols)} != {sorted(want_cols)}")
                if normalize(rows, cols) != normalize(want, want_cols):
                    raise AssertionError(f"{len(rows)} rows differ from the oracle's {len(want)}")
            except Exception as e:  # noqa: BLE001 - any failure fails the query
                log(f"{name}: output check failed: {e}")
                self.bad.add(name)
            log(f"{name}: checked in {time.perf_counter() - t0:.2f} s")
        con.close()
        self.reset(spark)
        return len(self.names), len(self.bad)

    def unit(self, spark: SparkSession, ops: Ops, trace: bool) -> Unit:
        unit = Unit()
        tracer = ops.tracer
        if trace:
            op = ops.start()
            g = ops.group(op, "io")
            with tracer.span("io.load_table") as s:
                for t in io.TABLES:
                    io.load_table(spark, self.data_dir, t)
            unit.layers["io.load_table_s"] += s.seconds
            unit.layers["io.load_table_jobs"] += ops.counts(g).jobs
        for name in self.names:
            self.reset(spark)
            op = ops.start()
            ok = name not in self.bad
            build_s = action_s = 0.0
            held = ops.storage()
            cpu0 = program_cpu_s(os.getpid())
            with tracer.span(name) as s_op:
                try:
                    gb = ops.group(op, "build")
                    with tracer.span("queries.build") as s:
                        df = registry.QUERIES[name](spark, self.data_dir)
                    build_s = s.seconds
                    ops.group(op, "action")
                    with tracer.span("queries.action") as s:
                        noop_write(df)
                    action_s = s.seconds
                except Exception as e:  # noqa: BLE001 - a failed op is counted
                    log(f"{name}: {e}")
                    ok = False
            unit.ops.append((name, s_op.seconds, program_cpu_s(os.getpid()) - cpu0))
            build, action = ops.counts(gb), ops.counts(f"op{op}/action")
            for seen, counts, phase in (
                (self.builds, build, "build"),
                (self.actions, action, "action"),
            ):
                first = seen.setdefault(name, counts)
                if ok and first.jobs != counts.jobs:
                    log(f"{name}: {phase} counts changed between ops: {first} -> {counts}")
                    ok = False
            pinned = ops.pinned_mb(held)
            unit.failed += not ok
            for key, value in (
                ("queries.build_s", build_s),
                ("queries.action_s", action_s),
                ("queries.build_jobs", build.jobs),
                ("queries.build_stages", build.stages),
                ("queries.action_jobs", action.jobs),
                ("queries.action_stages", action.stages),
                ("queries.action_tasks", action.tasks),
                ("queries.failed_tasks", build.failed_tasks + action.failed_tasks),
                ("cache.pinned_mb", pinned),
                ("cache.leaking_ops", pinned > 0),
            ):
                unit.layers[key] += value
        return unit


# Overhead-bound relational queries (scan and filter, anti join), where
# schema inference, planning and scheduling take most of each op, and
# LLM-data queries: brute-force cosine top-k over embeddings, Arrow
# mapInPandas decoding in Python workers, and a corpus shuffle whose
# builder runs driver-side jobs around an eager localCheckpoint that
# stays pinned after the op (the cache and build-job layers).
REGISTRY = [
    "p1_filter_open_orders",
    "j9_customers_without_orders",
    "s1_cosine_topk",
    "mm1_decode_features",
    "pipe6_corpus_shuffle",
]


# -- board ETL workload ---------------------------------------------------


@dataclass
class Cycle:
    """The lazy frames of one ETL cycle."""

    entities: dict[str, DataFrame]
    desired: DataFrame
    creates: DataFrame
    updates: DataFrame
    field_changes: DataFrame
    sink_rows: DataFrame

    def unpersist(self) -> None:
        for df in (self.desired, self.creates, self.updates, self.field_changes):
            df.unpersist()


def plan_cycle(spark: SparkSession, board_path: str, state: DataFrame) -> Cycle:
    """extract -> customize -> desired state -> upsert plan, all lazy.

    Active cards and the incomplete items of active cards are desired
    ``open``; any entity in ``state`` that is no longer active is
    desired ``closed`` with its last title and fields."""
    entities = normalize_board(read_board(spark, board_path))
    cards = customize_cards(entities, boardgen.STATUS_MAP, boardgen.SECADM)
    items = customize_check_items(entities, cards.select("id"))
    active = cards.select(
        F.lit("card").alias("entity_kind"),
        F.col("id").alias("entity_id"),
        F.col("name").alias("title"),
        F.lit("open").alias("state"),
        F.create_map(
            F.lit("Status"), F.col("card_status"), F.lit("Owner"), F.col("owner")
        ).alias("field_values"),
    ).unionByName(
        items.select(
            F.lit("checkItem").alias("entity_kind"),
            F.col("id").alias("entity_id"),
            "title",
            F.lit("open").alias("state"),
            F.create_map(
                F.lit("Assignee"), F.col("assignee"),
                F.lit("Amount"), F.col("amount").cast("string"),
                F.lit("Type"), F.col("task_type"),
            ).alias("field_values"),
        )
    )
    closed = state.join(active.select("entity_id"), "entity_id", "left_anti").select(
        "entity_kind", "entity_id", "title", F.lit("closed").alias("state"), "field_values"
    )
    # extract and customize feed the plan, and the plan feeds both the
    # sink and the merge: compute each once
    desired = active.unionByName(closed).persist()
    plan = plan_upserts(desired, state)
    creates, updates, field_changes = (
        df.persist() for df in (plan.creates, plan.updates, plan.field_changes)
    )
    none = F.lit(None).cast("string")
    sink_rows = (
        creates.select(
            F.lit("create").alias("op"), "entity_id", "title", "state",
            none.alias("field_name"), none.alias("value"),
        )
        .unionByName(
            updates.select(
                F.lit("update").alias("op"), "entity_id", "title", "state",
                none.alias("field_name"), none.alias("value"),
            )
        )
        .unionByName(
            field_changes.select(
                F.lit("field").alias("op"), "entity_id", none.alias("title"),
                none.alias("state"), "field_name", F.col("new_value").alias("value"),
            )
        )
    )
    return Cycle(entities, desired, creates, updates, field_changes, sink_rows)


def applied_state(cycle: Cycle, state: DataFrame, first_number: int) -> DataFrame:
    """The sink-acknowledged rows as state records: creates get issue
    numbers from ``first_number`` in entity-id order, changed entities
    keep theirs and take the desired title, state and fields."""
    created = cycle.creates.select(
        "entity_kind",
        "entity_id",
        (F.row_number().over(Window.orderBy("entity_id")) + F.lit(first_number - 1))
        .cast("long")
        .alias("issue_number"),
        "title",
        F.lit("").alias("body"),
        "state",
        F.lit(M_CREATED).cast("long").alias("migration"),
        "field_values",
    )
    changed_ids = cycle.updates.select("entity_id").unionByName(
        cycle.field_changes.select("entity_id")
    )
    changed = cycle.desired.join(changed_ids.distinct(), "entity_id", "left_semi").join(
        state.select("entity_id", "issue_number", "body", "migration"), "entity_id"
    )
    return created.unionByName(changed.select(*STATE_SCHEMA.fieldNames()))


class BoardWorkload:
    """The resumable board ETL: extract, customize, plan, sink through a
    rate-limited fake transport, merge into the versioned state store.

    The check pass runs the cold cycle: every active entity is a create,
    planned against an empty state and committed as the store's first
    version. It runs first in a fresh JVM, where its time is mostly
    compilation, so it is checked but not timed. A unit then runs the
    drift cycle on a copy of that store. After each cycle, outside its
    timing, the sink counters are checked against the generator's
    expected counts and the cycle's job count against its earlier runs,
    and the state must hold exactly the active entities, each card with
    its board title and status: a fixpoint, where one more cycle would
    send nothing."""

    # a drift cycle takes longer than a run measures: an untimed one
    # would add a quarter to the run's length
    warmup_units = 0

    def __init__(self, n_cards: int):
        self.n_cards = n_cards
        self.seen: dict[int, JobCounts] = {}

    def prepare(self, spark: SparkSession, work_dir: str, seed: int) -> None:
        self.seed = seed
        self.work_dir = work_dir
        boards, self.expected = boardgen.generate(seed, self.n_cards)
        os.makedirs(work_dir, exist_ok=True)
        self.paths = []
        for k, board in enumerate(boards):
            path = os.path.join(work_dir, f"board_{k}.json")
            with open(path, "w") as f:
                json.dump(board, f)
            self.paths.append(path)
        self.cold = VersionedStateStore(os.path.join(work_dir, "state_cold"))
        self.units = 0

    def check(self, spark: SparkSession, ops: Ops) -> tuple[int, int]:
        """Run and check the cold cycle; returns (attempted, failed)."""
        failed = self._cycle(spark, ops, self.cold, 0, Unit(), trace=False)
        return 1, int(failed)

    def unit(self, spark: SparkSession, ops: Ops, trace: bool) -> Unit:
        unit = Unit()
        self.units += 1
        root = os.path.join(self.work_dir, f"state_{self.units}")
        shutil.copytree(self.cold.root, root)
        store = VersionedStateStore(root)
        for k in range(1, len(self.paths)):
            unit.failed += self._cycle(spark, ops, store, k, unit, trace)
        shutil.rmtree(root, ignore_errors=True)
        return unit

    def _cycle(
        self, spark: SparkSession, ops: Ops, store: VersionedStateStore, k: int,
        unit: Unit, trace: bool,
    ) -> bool:
        """Run, time and check cycle ``k``; returns whether it failed."""
        tracer = ops.tracer
        path, want = self.paths[k], self.expected[k]
        op = ops.start()
        if trace and k == 1:
            self._probe_lazy_layers(spark, ops, op, path, store.read(spark), unit)
        counters = sink.SinkCounters.create(spark.sparkContext)
        held = ops.storage()
        groups = [ops.group(op, "cycle")]
        cpu0 = program_cpu_s(os.getpid())
        with tracer.span("etl.cycle") as s_cycle:
            with tracer.span("state_store.read") as s_read:
                state = store.read(spark) if k else spark.createDataFrame([], STATE_SCHEMA)
            cycle = plan_cycle(spark, path, state)
            first_number = (state.agg(F.max("issue_number")).first()[0] or 0) + 1
            groups.append(ops.group(op, "sink"))
            with tracer.span("rest_sink.run_sink") as s_sink:
                run_sink(
                    cycle.sink_rows,
                    sink.make_transport(self.seed, counters),
                    sink.SINK_CONFIG,
                    sleep=sink.make_sleep(counters),
                )
            groups.append(ops.group(op, "merge"))
            with tracer.span("state_store.merge") as s_merge:
                applied = applied_state(cycle, state, first_number)
                if k:
                    store.merge(applied)
                else:
                    store.commit(applied, op="merge")
            cycle.unpersist()
        unit.ops.append((f"cycle{k}", s_cycle.seconds, program_cpu_s(os.getpid()) - cpu0))
        values = counters.values()
        problems = sink.check_counts(
            values,
            {"create": want.creates, "update": want.updates, "field": want.field_changes},
        )
        cycle_, sink_, merge_ = (ops.counts(g) for g in groups)
        total = cycle_ + sink_ + merge_
        first = self.seen.setdefault(k, total)
        if first.jobs != total.jobs:
            problems.append(f"job counts changed between runs of the cycle: {first} -> {total}")
        # the plan frames this benchmark persisted are released above:
        # what is left is what the program's calls pinned
        pinned = ops.pinned_mb(held)
        for key, value in (
            ("rest_sink.run_sink_s", s_sink.seconds),
            ("rest_sink.jobs", sink_.jobs),
            ("rest_sink.rows_sent", values["rows_sent"]),
            ("rest_sink.rate_limited", values["rate_limited"]),
            ("rest_sink.backoff_s_requested", values["backoff_s_requested"]),
            ("state_store.read_s", s_read.seconds),
            ("state_store.merge_s", s_merge.seconds),
            ("state_store.merge_jobs", merge_.jobs),
            ("etl.cycle_jobs", total.jobs),
            ("queries.failed_tasks", total.failed_tasks),
            ("cache.pinned_mb", pinned),
            ("cache.leaking_ops", pinned > 0),
        ):
            unit.layers[key] += value
        problems += self._check_state(spark, store, want.open)
        if problems:
            log(f"board_etl cycle {k}: " + "; ".join(problems))
        return bool(problems)

    def _probe_lazy_layers(
        self, spark, ops: Ops, op: int, path: str, state: DataFrame, unit: Unit
    ) -> None:
        """Traced runs only, once before the drift cycle: write each lazy
        stage's output with ``noop``. Extract is its own write. The
        desired state (extract plus customize) is persisted, so its
        write minus extract's is customize's self time, and the plan's
        write then reads it from the cache."""
        ops.group(op, "probe")
        cycle = plan_cycle(spark, path, state)
        stages = (
            ("board.extract_s", (cycle.entities["cards"], cycle.entities["check_items"])),
            ("board_pipeline.customize_s", (cycle.desired,)),
            ("upserts.plan_s", (cycle.creates, cycle.updates, cycle.field_changes)),
        )
        seconds = {}
        for key, frames in stages:
            with ops.tracer.span(key.removesuffix("_s") + ".noop") as s:
                noop_write(*frames)
            seconds[key] = s.seconds
        seconds["board_pipeline.customize_s"] -= seconds["board.extract_s"]
        for key, value in seconds.items():
            unit.layers[key] += value
        cycle.unpersist()

    @staticmethod
    def _check_state(spark, store, want: dict[str, tuple]) -> list[str]:
        rows = (
            store.read(spark)
            .filter(F.col("state") == "open")
            .select("entity_id", "title", F.col("field_values")["Status"].alias("status"))
            .collect()
        )
        got = {r.entity_id: (r.title, r.status) for r in rows}
        if len(rows) != len(got) or got.keys() != want.keys():
            return [
                f"state has {len(rows)} open rows ({len(got)} distinct), "
                f"expected the {len(want)} active entities"
            ]
        stale = [e for e, (title, _) in want.items() if title is not None and got[e] != want[e]]
        if stale:
            return [f"{len(stale)} open cards differ from the board, e.g. {stale[0]}"]
        return []


WORKLOADS = {
    "board_etl": lambda: BoardWorkload(n_cards=1000),
    "registry_sf01": lambda: RegistryWorkload(REGISTRY, scale=0.1),
}


# -- run loop ---------------------------------------------------------------


def jvm_peak_rss_mb(spark: SparkSession) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def jvm_gc_jit_s() -> tuple[float, float]:
    """CPU seconds the JVM's garbage collector and JIT compiler threads
    have used so far."""
    pid = os.getpid()
    return threads_cpu_s(pid, GC_THREADS), threads_cpu_s(pid, JIT_THREADS)


def run(name: str, seed: int, seconds: float, trace: bool, work_dir: str, out_dir: str) -> dict:
    workload = WORKLOADS[name]()
    # set-up as a user meets it: a new JVM and the query registry
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=SPARK_CONF)
    session_s = time.perf_counter() - t0
    registry.load_all()
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    workload.prepare(spark, work_dir, seed)
    inputs_s = time.perf_counter() - t0

    tracer = Tracer()
    ops = Ops(spark, tracer)
    t0 = time.perf_counter()
    check_attempted, check_failed = workload.check(spark, ops)
    for _ in range(workload.warmup_units):
        warm = workload.unit(spark, ops, trace=False)
        check_attempted += len(warm.ops)
        check_failed += warm.failed
    check_s = time.perf_counter() - t0
    tracer.spans.clear()

    units: list[Unit] = []
    gc0, jit0 = jvm_gc_jit_s()
    start = time.perf_counter()
    while not units or time.perf_counter() - start < seconds:
        # every unit starts from a collected heap, not from the garbage
        # of whatever ran before it
        spark.sparkContext._jvm.System.gc()
        gc.collect()
        t0 = time.perf_counter()
        units.append(workload.unit(spark, ops, trace))
        units[-1].elapsed_s = time.perf_counter() - t0
    gc1, jit1 = jvm_gc_jit_s()
    peak_rss = jvm_peak_rss_mb(spark)
    spark.stop()

    latencies = [s for u in units for _, s, _ in u.ops]
    by_op, cpu_by_op = defaultdict(list), defaultdict(list)
    for u in units:
        for op_name, s, c in u.ops:
            by_op[op_name].append(s)
            cpu_by_op[op_name].append(c)
    attempted = check_attempted + len(latencies)
    failed = check_failed + sum(u.failed for u in units)
    if trace:
        values = {
            key: median([u.layers.get(key, 0.0) for u in units]) for key in PER_LAYER
        }
        # a pass mixes queries whose costs differ several-fold: take each
        # op's median over the units, then the median over the ops
        values["run.op_p50_s"] = median([median(v) for v in by_op.values()])
        # a unit's wall time, as the sum over its ops of each op's median
        # over the run's units (cpu_s is taken the same way)
        values["run.wall_s"] = sum(median(v) for v in by_op.values())
        values["run.op_cpu_p50_s"] = median([median(v) for v in cpu_by_op.values()])
        values["session.get_spark_s"] = session_s
        values["jvm.peak_rss_mb"] = peak_rss
        # CPU of the JIT and the GC, which the CPU metrics leave out, per unit
        values["jvm.jit_s"] = (jit1 - jit0) / len(units)
        values["jvm.gc_s"] = (gc1 - gc0) / len(units)
        # cycle time outside its read, sink and merge spans: building the
        # lazy plan and numbering new issues
        values["etl.cycle_self_s"] = self_times(tracer.spans).get("etl.cycle", 0.0) / len(units)
        # a traced unit's time outside its ops: the lazy-layer probes,
        # the io.load_table timing and the counter reads
        values["trace.outside_ops_s"] = median([u.elapsed_s - u.wall_s for u in units])
        units_of = PER_LAYER
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace_{name}_seed{seed}.json"))
    else:
        values = {"setup_s": setup_s, "cpu_s": sum(median(v) for v in cpu_by_op.values())}
        units_of = END_TO_END
    if percentile_reportable(len(latencies), 0.9):
        log(f"{name}: op p90 {statistics.quantiles(latencies, n=10)[-1]:.4f} s")
    log(
        f"{name}: {len(units)} units, {attempted} ops, {failed} failed, "
        f"setup {setup_s:.2f} s, inputs {inputs_s:.2f} s, check {check_s:.2f} s, "
        f"units {[round(u.elapsed_s, 2) for u in units]} s, "
        f"GC CPU {gc1 - gc0:.2f} s, JIT CPU {jit1 - jit0:.2f} s, "
        f"op medians {({k: round(median(v), 3) for k, v in by_op.items()})} s, "
        f"op CPU medians {({k: round(median(v), 3) for k, v in cpu_by_op.items()})} s"
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units_of[k]} for k, v in values.items()},
    }
