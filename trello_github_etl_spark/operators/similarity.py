"""Similarity search over embedding columns (BASELINE.json north star):
brute-force cosine top-k (the correctness baseline) and a
sign-LSH-bucketed variant (the scale path).

Determinism contract: dot products fold left-to-right as doubles
(`F.aggregate` is a strict fold), matching DuckDB `list_reduce`
bit-for-bit — so cosine scores oracle exactly, no tolerance needed.

The LSH hyperplanes are pseudo-random ±1 weights derived from md5 of
(plane, dim) — a pure function of indices, reproducible anywhere with
no RNG state (computed once driver-side, shipped as literals).
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trello_github_etl_spark.operators.parallel import ensure_parallelism

NUM_PLANES = 8
DIM = 64


def dot(a: Column, b: Column) -> Column:
    """Strict left-fold Σ aᵢ·bᵢ in double; deterministic order."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine with the zero-vector case DEFINED as 0.0 (not NaN):
    Spark's NaN compares GREATER than every double, so an undefined
    cosine would pass every >= threshold filter and rank first in
    every descending top-k — one zero vector in the corpus would
    displace rank 1 of every query (r4 code review).  The SQL
    oracles share the same guard via _sql_cosine."""
    return cosine_prenormed(a, b, norm(a), norm(b))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine with both norms precomputed as columns.

    Bit-identical to ``cosine`` (same dot / (na * nb) association) but
    each row's norm is evaluated once per SIDE instead of once per
    scored PAIR — at q queries × n targets that turns 2·q·n norm
    folds into q + n. The engine-side win Catalyst can't find itself:
    lambda-heavy array folds are opaque to CSE across join inputs
    (cf. SCALE.md's lambda-body CSE lesson).
    """
    denom = na * nb
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def _rank_topk(scored, k, score_col="cos", ascending=False, out_cols=None):
    """Shared top-k epilogue: rank per q_id by the score with the
    vec_id tie-break, keep k — ONE home for the tie-break convention
    (it was copy-pasted eight times; r4 code review)."""
    from pyspark.sql.window import Window

    order = F.col(score_col).asc() if ascending else F.col(score_col).desc()
    w = Window.partitionBy("q_id").orderBy(order, F.col("vec_id").asc())
    out = out_cols or ["q_id", "vec_id", score_col, "rank"]
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*out)
    )


def brute_force_topk(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    query_vec: str = "q_vec",
    target_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast queries × stream targets.

    The query set broadcasts (it is the small side by construction);
    targets stream through one narrow stage — at 100 TB this is a
    single scan, no shuffle of the big side. Ties break on vec_id.
    """
    from pyspark.sql.window import Window

    qn = queries.withColumn("_qn", norm(F.col(query_vec)))
    tn = ensure_parallelism(targets).withColumn("_tn", norm(F.col(target_vec)))
    scored = tn.join(F.broadcast(qn)).withColumn(
        "cos",
        cosine_prenormed(
            F.col(query_vec), F.col(target_vec), F.col("_qn"), F.col("_tn")
        ),
    )
    return _rank_topk(scored, k)


def _plane_weights(num_planes: int = NUM_PLANES, dim: int = DIM) -> list[list[int]]:
    """±1 hyperplane weights from md5(plane|dim) parity — no RNG."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}|{d}".encode()).hexdigest()
            row.append(1 if int(h[-1], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, num_planes: int = NUM_PLANES, dim: int = DIM) -> Column:
    """Sign-LSH bucket key: one bit per hyperplane (Σ ±vᵢ ≥ 0)."""
    planes = _plane_weights(num_planes, dim)
    bits = []
    for p in range(num_planes):
        # one parsed array literal per plane (8 driver RPCs total) —
        # F.array of 64 F.lit was 512 py4j round-trips of pure plan
        # construction per call, the same cost _book_sql/ivf_assign
        # eliminated for PQ/IVF literals (r4 code review)
        w = F.expr(
            "array(" + ", ".join(f"{float(x)!r}D" for x in planes[p]) + ")"
        )
        proj = F.aggregate(
            F.zip_with(vec, w, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_topk(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    query_vec: str = "q_vec",
    target_vec: str = "embedding",
    num_planes: int = NUM_PLANES,
) -> DataFrame:
    """Approximate top-k: exact ranking *within* the query's LSH bucket.

    The bucket join is an equi-join on the ``num_planes``-bit key →
    candidates are ~1/2^planes of the corpus per query; recall is
    traded for that cut in scored pairs (RECALL.json has the measured
    grid). Multi-probe (flipping bits) raises recall — see
    multiprobe_lsh_topk.
    """
    from pyspark.sql.window import Window

    qb = queries.withColumn(
        "bucket", lsh_bucket(F.col(query_vec), num_planes)
    ).withColumn("_qn", norm(F.col(query_vec)))
    tb = ensure_parallelism(targets).withColumn(
        "bucket", lsh_bucket(F.col(target_vec), num_planes)
    ).withColumn("_tn", norm(F.col(target_vec)))
    scored = tb.join(F.broadcast(qb), "bucket").withColumn(
        "cos",
        cosine_prenormed(
            F.col(query_vec), F.col(target_vec), F.col("_qn"), F.col("_tn")
        ),
    )
    return _rank_topk(scored, k, out_cols=["q_id", "vec_id", "bucket", "cos", "rank"])


NUM_CENTROIDS = 16
NPROBE = 2

# Corpus-adaptive coarse-cell clamp (FAISS's nlist≈√N rule): the
# canonical definition — dedup.semantic_dedup_nlist delegates here so
# SemDeDup and the mutual-kNN graph cannot drift apart.
IVF_NLIST_MIN = 16
IVF_NLIST_MAX = 4096
# Above this cell count ivf_assign ships centroids as a one-row
# broadcast instead of inlined literals (see ivf_assign). 64 keeps
# every registered static-nlist query (k=16 dd14/s4, k=64 dd15) on
# the measured-faster literal path while the adaptive √N paths switch
# as soon as the corpus pushes k past it.
IVF_INLINE_MAX = 64


def auto_nlist(n: int) -> int:
    """ceil(√N) clamped to [IVF_NLIST_MIN, IVF_NLIST_MAX]. Within-cell
    pair work is O(N²/nlist): a STATIC nlist makes any cell-equi-join
    operator quadratic in corpus growth (SCALE.md lessons 25/26 —
    dd14's old 10.4× sf0.1→sf1 ratio under nlist=16), while √N keeps
    it ~O(N^1.5) with an O(N·√N·dim) assignment pass. IEEE sqrt is
    correctly rounded, so an oracle's CEIL(SQRT(COUNT(*))) lands on
    the same integer for every representable N."""
    return max(IVF_NLIST_MIN, min(IVF_NLIST_MAX, math.ceil(math.sqrt(max(n, 1)))))


# Constant-EXPECTED-CELL-SIZE cell-count policy (VERDICT r11 #1): the
# √N rule above still leaves within-cell pair work O(N²/√N) = O(N^1.5)
# — the measured 11–16× 50×-probe ratios on the ANN *mining* quartet
# (s15/s16/s17/dd32). nlist = ⌈N / target⌉ pins expected occupancy at
# ``target`` so pair work is O(N·target) — linear in the corpus. The
# price moves to the assignment pass: a FLAT argmax over ⌈N/target⌉
# centroids is O(N²·dim/target) — *worse* than the pair work it saved
# — which is why linear cell counts only make sense with the
# TWO-LEVEL assignment (ivf_assign_2level: O(N·√nlist·dim)). The max
# clamp bounds the coarse structure's broadcast footprint (2²⁰ cells
# ≈ 0.5 GB of fp64 seeds at dim 64); past it, raise ``target`` —
# exactly FAISS's guidance when nlist outgrows the index.
LINEAR_CELL_TARGET = 64
LINEAR_NLIST_MAX = 1 << 20


def linear_nlist(n: int, target: int = LINEAR_CELL_TARGET) -> int:
    """⌈N/target⌉ clamped to [IVF_NLIST_MIN, LINEAR_NLIST_MAX] —
    integer ceiling division on both engines ((COUNT(*) + target-1)
    // target in DuckDB), so no float rounding can diverge."""
    if target < 1:
        raise ValueError(f"target must be >= 1, got {target}")
    return max(
        IVF_NLIST_MIN,
        min(LINEAR_NLIST_MAX, (max(n, 1) + target - 1) // target),
    )


# Block factor the linear policy salts giant cells with (cell_join —
# bit-identical pair multiset over B² tasks).
LINEAR_PAIR_BLOCKS = 4


def auto_seed_centroids(
    embeddings: DataFrame,
    nlist: "int | Callable[[int], int] | None" = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, str, int]:
    """Self-seeding coarse centroids: the ``k`` lowest-``id_col``
    vectors (deterministic, engine-replayable — a SQL oracle selects
    the same rows with ROW_NUMBER() OVER (ORDER BY id)), re-numbered
    to DENSE cent_ids 0..k-1. The re-numbering matters twice: (a)
    ivf_assign inlines ``int(cent_id)`` literals, so raw corpus ids
    would restrict the auto path to integer id columns (r6 advice);
    (b) dense ids keep the downstream ``cell`` values bounded by k
    regardless of the id domain. The renumber is order-preserving in
    ``id_col``, so the lowest-cent_id tie-break is identical to
    ranking by raw seed id.

    ``k`` is ``auto_nlist(count)`` when ``nlist`` is None, else the
    validated explicit ``nlist``; either way one driver-side count
    job runs (see the in-body note).

    Returns ``(centroids, key_suffix, k)``. Callers memoizing through
    ``_collect_centroids`` MUST append ``key_suffix`` to their base
    cache key: it folds in both k and the corpus count N (on BOTH
    paths), so two corpora sharing a base key cannot silently reuse
    each other's seeds even when both land on the same k. The base
    key must still identify the corpus source (same contract as
    ``_collect_centroids``). ``k`` is returned directly so callers
    never re-derive it by parsing the display suffix.

    Scale note: the seed TakeOrdered is a driver-side top-k of ≤
    IVF_NLIST_MAX KB-scale rows; the row_number window runs on those
    ≤ 4096 rows post-limit, never on the corpus.
    """
    from pyspark.sql.window import Window

    if nlist is not None and not callable(nlist) and nlist < 1:
        raise ValueError(f"nlist must be >= 1, got {nlist}")
    # the count job runs EVERY call by design: memoizing it under
    # the caller's base cache key would silently defeat the
    # suffix's stale-seed defense below — a grown corpus under a
    # reused key must produce a fresh n, hence a fresh suffix,
    # hence a centroid-cache miss (r7 code review reverted exactly
    # such a memo). It runs on BOTH paths: an explicit-nlist suffix
    # without corpus identity would serve stale seeds from
    # _CENTROID_CACHE when the corpus changes under a reused base
    # key — the exact staleness the auto path defends against (r7
    # advice). At 100 TB a parquet COUNT(*) is footer metadata, not
    # a scan.
    n = embeddings.count()
    if nlist is None:
        k = auto_nlist(n)
    elif callable(nlist):
        # corpus-adaptive policies beyond √N (e.g. linear_nlist for
        # constant expected occupancy) plug in as n → k derivations;
        # the suffix below still folds the REALIZED (k, n) pair, so
        # two policies landing on the same k on the same corpus share
        # seeds safely (the seed rule depends only on k)
        k = nlist(n)
        if k < 1:
            raise ValueError(f"nlist callable returned {k}, must be >= 1")
    else:
        k = nlist
    suffix = f"|auto-k{k}-n{n}"
    seeds = embeddings.select(id_col, vec_col).orderBy(id_col).limit(k)
    # partitionBy on a constant = the same single-partition window over
    # the ≤ IVF_NLIST_MAX seed rows, without WindowExec's global-window
    # WARN firing on every plan build
    w = Window.partitionBy(F.lit(0)).orderBy(id_col)
    cents = seeds.select(
        (F.row_number().over(w) - F.lit(1)).alias("cent_id"),
        F.col(vec_col).alias("c_vec"),
    )
    return cents, suffix, k


# Single-flight centroid cache: collecting the (tiny) centroid table
# is a driver-side catalog read, memoized per key exactly like the
# reference's `_id_promise` project-id cache (lib/gh.js:305-332) —
# without it every ivf_* plan build re-runs the collect job.
_CENTROID_CACHE: dict[str, list] = {}

# Same single-flight contract for ivf_assign_2level's per-super
# grouped seed arrays (key carries "|grp"): a hit skips the corpus
# seed-scan + k-row assignment job entirely.
_GROUPED_SEED_CACHE: dict[str, tuple] = {}


def _collect_centroids(centroids: DataFrame, cache_key: str | None) -> list:
    """``cache_key`` IDENTIFIES THE CENTROID SET: a hit returns the
    previously collected rows without looking at ``centroids`` at
    all, so reusing a key for a different centroid frame silently
    serves stale centroids — key on the data's identity (source path
    + seed rule), never a constant."""
    if cache_key is not None and cache_key in _CENTROID_CACHE:
        return _CENTROID_CACHE[cache_key]
    rows = (
        centroids.withColumn("_cn", norm(F.col("c_vec")))
        .orderBy("cent_id")
        .collect()
    )
    if cache_key is not None:
        _CENTROID_CACHE[cache_key] = rows
    return rows


def _cell_scores_sql(packed: str, vec_col: str) -> str:
    """SQL expression scoring a vector column against a packed
    array<struct<cid:int,cn:double,cv:array>> of centroids — the ONE
    definition of the assignment fold, shared by ivf_assign (literal
    and broadcast-row packings) and ivf_assign_2level's second stage
    (a per-super array column), so the strict-fold dot and the
    dot/|c| ranking convention cannot drift between the flat and
    hierarchical paths.

    Rank is by dot(v,c)/|c| — the row's own norm is a positive
    per-row constant, so this order IS the cosine order, and leaving
    |v| out keeps every subexpression referenced exactly once. (Two
    CSE traps found by measuring: lambda bodies get no subexpression
    elimination, so a `_norm` column referenced inside k lambdas
    re-folds the norm k times, and argmax via
    array_position(scores, array_max(scores)) evaluates the whole
    score array twice. Single-reference expressions sidestep both.)
    """
    # SQL twin of dot(): strict left fold, cast-to-double per element.
    sql_dot = (
        "aggregate(zip_with(`{v}`, c.cv, (x, y) ->"
        " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    ).format(v=vec_col)
    return (
        "transform({packed}, c -> named_struct("
        "'s', {dot} / c.cn, 'cid', c.cid))"
    ).format(packed=packed, dot=sql_dot)


def _argmax_cid_sql(scores: str) -> str:
    """Nearest cent_id from a _cell_scores_sql array: one fold,
    strict > keeps the FIRST max ⇒ ties break to the lowest cent_id
    (score arrays are built in ascending-cid order)."""
    return (
        "(aggregate({scores},"
        " named_struct('s', CAST('-Infinity' AS DOUBLE), 'cid', -1),"
        " (acc, x) -> IF(x.s > acc.s, x, acc))).cid"
    ).format(scores=scores)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_key: str | None = None,
    extra_cols: tuple = (),
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest coarse cells.

    ``extra_cols`` ride through the narrow assignment map unchanged
    (appended after ``_norm``): a consumer that needs per-vector
    payload alongside the cell (hard_negative_mining's label) carries
    it here instead of re-joining the corpus onto itself by id
    afterwards — at 100 TB that re-join is a full corpus shuffle the
    projection avoids for free (r12: measured on the s20 50× probe).

    ``centroids`` is (cent_id, c_vec) — tiny by construction (that is
    what makes them *coarse*), so they are collected once driver-side
    (their norms computed in the JVM first, so every double is
    bit-identical to a join-based plan) and inlined as array
    literals. Assignment is then a pure NARROW map: per-row centroid
    scores via one array ``transform``, nearest cell via a single
    argmax fold (strict ``>`` keeps the first max ⇒ ties break toward
    the lowest cent_id), multi-probe via sorting the k-element score
    array and exploding the top ``nprobe``. Known ULP-class parity
    hazard (r4 code review): assignment ranks by dot/|c| while the
    SQL oracles rank full cosine dot/(|v||c|) — monotone per vector
    but not STRICTLY so in doubles, so two near-tied cells can
    collapse to equal oracle cosines and tie-break differently
    (~2^-52 per comparison; never observed across the sf0.001–sf1
    sweeps). No k× row fan-out through
    a join, no shuffle, no aggregate — the whole assignment lives
    inside whole-stage codegen, and at 100 TB it is exactly one pass
    over the corpus. (Measured at sf0.1: 0.35 s vs 0.60 s for the
    previous broadcast-join + max_by formulation, which put an
    exchange between scan and assignment.)

    The output carries a ``_norm`` column (each vector's L2 norm,
    computed once here) so downstream exact scoring reuses it; the
    nprobe>1 path also emits ``_crank`` (1 = nearest cell) for
    probe-walk consumers.
    """
    cent_rows = _collect_centroids(centroids, cache_key)
    vn = ensure_parallelism(vectors).withColumn("_norm", norm(F.col(vec_col)))
    if not cent_rows:
        # No centroids ⇒ no assignments. An empty literal array has
        # VOID element type (the packed-literal expression below would
        # fail analysis), so emit the correctly-typed empty frame.
        out = vn.select(
            id_col,
            F.lit(None).cast("int").alias("cell"),
            vec_col,
            "_norm",
            *extra_cols,
        )
        if nprobe > 1:
            out = out.withColumn("_crank", F.lit(None).cast("int"))
        return out.filter(F.lit(False))
    # The whole per-row assignment is generated as ONE SQL expression
    # string: building the equivalent tree through the Column API
    # costs one py4j socket round-trip per node — measured 2.3 s of
    # pure plan-build for the k×(dim+2) literals alone, and ~1 s more
    # for the lambda scaffolding — while one expr() parses in
    # milliseconds. repr() emits the shortest round-tripping decimal
    # and the D suffix parses as DOUBLE, so every inlined literal is
    # bit-identical to the collected JVM value.
    #
    # But literal inlining is itself O(k·dim) in PLAN size: at k=143
    # (dd24's sf1 auto cell count) the parse+analyze of ~9.4k literals
    # costs ~4.7 s per plan build, and at the k=4096 clamp it would be
    # minutes — the plan, not the data, becomes the scale-killer
    # (SCALE.md lesson 34). Above IVF_INLINE_MAX the packed centroid
    # array therefore ships as a ONE-ROW BROADCAST joined onto every
    # row instead: identical fold expression referencing a column
    # rather than a literal (bit-identical results — pickled doubles
    # round-trip exactly like repr'd ones), O(1) plan size, one
    # BroadcastNestedLoopJoin against a single k×(dim+2)-double row
    # (73 KB at k=143, 2 MB at the 4096 clamp).
    if len(cent_rows) > IVF_INLINE_MAX:
        packed = "`__cents__`"
        cents_row = vectors.sparkSession.createDataFrame(
            [
                (
                    [
                        (
                            int(r["cent_id"]),
                            float(r["_cn"]),
                            [float(x) for x in r["c_vec"]],
                        )
                        for r in cent_rows
                    ],
                )
            ],
            "__cents__ array<struct<cid:int,cn:double,cv:array<double>>>",
        )
        vn = vn.crossJoin(F.broadcast(cents_row))
    else:

        def _d(x: float) -> str:
            return repr(float(x)) + "D"

        packed = "array({})".format(
            ", ".join(
                "named_struct('cid', {cid}, 'cn', {cn}, 'cv', array({cv}))".format(
                    cid=int(r["cent_id"]),
                    cn=_d(r["_cn"]),
                    cv=", ".join(_d(x) for x in r["c_vec"]),
                )
                for r in cent_rows
            )
        )
    scores = _cell_scores_sql(packed, vec_col)
    if nprobe == 1:
        return vn.select(
            id_col,
            F.expr(_argmax_cid_sql(scores)).alias("cell"),
            vec_col,
            "_norm",
            *extra_cols,
        )
    # sort (score desc, cent_id asc) via (-s, cid) struct ordering
    ranked = (
        "slice(array_sort(transform({scores}, x ->"
        " named_struct('negs', -x.s, 'cid', x.cid))), 1, {np})"
    ).format(scores=scores, np=nprobe)
    from trello_github_etl_spark.operators.gen import pos_exploded

    return (
        pos_exploded(
            vn,
            [id_col, vec_col, "_norm", *extra_cols],
            F.expr(ranked),
            "pos",
            "col",
        )
        .select(
            id_col,
            F.col("col.cid").alias("cell"),
            vec_col,
            "_norm",
            *extra_cols,
            (F.col("pos") + 1).alias("_crank"),
        )
    )


def ivf_assign_2level(
    vectors: DataFrame,
    centroids: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_key: str | None = None,
    extra_cols: tuple = (),
) -> DataFrame:
    """Two-level (coarse → fine) cell assignment: argmax over the
    ⌈√k⌉ lowest-cent_id SUPER seeds first, then argmax over only the
    seeds whose own super matches. Output shape is identical to
    ``ivf_assign(..., nprobe=1)`` — (id, cell, vec, _norm) with cell
    a seed cent_id — so cell_pairs and every downstream consumer work
    unchanged.

    WHY: flat assignment is O(N·k·dim). With the constant-occupancy
    policy (linear_nlist: k = ⌈N/target⌉) that is O(N²·dim/target) —
    the assignment pass itself would re-create the quadratic blowup
    the linear cell count removed from the pair stage (VERDICT r11
    #1). Hierarchical search costs O(N·(√k + N/k·corr)·dim) ≈
    O(N·√k·dim): per point, ⌈√k⌉ super scores plus the ~k/√k seeds
    of one super. At k = 2²⁰ (LINEAR_NLIST_MAX) that is 2·1024
    centroid folds per point instead of 10⁶. The residual √k growth
    is the coarse-search term every IVF system keeps; production ANN
    cuts it to O(log k) with a centroid graph (HNSW) — out of scope
    here, and irrelevant below ~10¹⁰ vectors.

    APPROXIMATION: the two-level argmax can differ from the flat
    argmax (the globally-nearest seed may live under a super the
    point didn't pick) — the standard coarse-quantizer trade,
    recall-measured in tests/test_linear_variants.py, NOT a drift
    hazard: oracles replay the same two-level rule (see llm_q's
    _sql_2level chain).

    Determinism: every stage reuses ivf_assign's strict folds and
    its dot/|c| monotone ranking; the per-super seed arrays are
    sort_array'd ascending cid so the shared _argmax_cid_sql
    first-max fold keeps the lowest cent_id on ties — the same
    tie-break an oracle's (cos DESC, cent_id ASC) ROW_NUMBER lands
    on (same ULP-class caveat as ivf_assign, documented there).

    EMPTY-SUPER SAFETY (why the inner join below loses no rows): a
    super's own seed scores cos=1.0 against itself, so it can only
    assign elsewhere to an IDENTICAL lower-cid super — and any point
    tying between the two picks that same lower cid; a super with no
    seeds is therefore never any point's argmax.

    Scale shape: stage 1 is two ivf_assign narrow passes (points and
    the k-row seed table, both against √k supers — literal-inlined
    or one-row broadcast per IVF_INLINE_MAX); stage 2 is one
    broadcast hash join on the super id against the ≤√k-row grouped
    seed table (total payload: all k seed vectors, ~0.5 KB each —
    broadcast-bounded by the LINEAR_NLIST_MAX clamp) followed by one
    HOF fold per point. No corpus shuffle anywhere.

    COLD SEED PHASE IS ONE CORPUS PASS (r15, guide §1.2/§2.4): on a
    cold call (seed memos empty — which since bench.py's VERDICT r14
    #5 change is EVERY timed run) the supers collect inside the
    seed-side ivf_assign and ``grouped.collect()`` would each embed
    the corpus seed derivation (the auto-seed TakeOrdered), i.e. two
    full corpus passes per assignment. The cold path therefore pins
    the ≤k-row centroid table with one eager ``localCheckpoint``
    first, so both collects read the pinned blocks — one corpus pass,
    identical rows, no extra driver work (the rejected alternative —
    rebuild driver-local frames from one full collect — doubled the
    k-row py4j serialization ``grouped_b`` already pays and measured
    a local wash; OPTIMIZATION_r15.md). Warm calls (both memos hit)
    never touch the frame and skip the pin.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    k1 = math.ceil(math.sqrt(k))
    skey = (cache_key + "|sup") if cache_key is not None else None
    gkey = (cache_key + "|grp") if cache_key is not None else None
    if (
        skey is None
        or skey not in _CENTROID_CACHE
        or gkey is None
        or gkey not in _GROUPED_SEED_CACHE
    ):
        centroids = centroids.localCheckpoint(eager=True)
    supers = centroids.filter(F.col("cent_id") < k1)
    seed_sup = ivf_assign(
        centroids.select(
            F.col("cent_id").alias("__sid"), F.col("c_vec").alias("__svec")
        ),
        supers,
        1,
        vec_col="__svec",
        id_col="__sid",
        cache_key=skey,
    ).select(
        F.col("cell").alias("__sup"),
        F.struct(
            F.col("__sid").alias("cid"),
            F.col("_norm").alias("cn"),
            F.col("__svec").alias("cv"),
        ).alias("__seed"),
    )
    grouped = seed_sup.groupBy("__sup").agg(
        F.sort_array(F.collect_list("__seed")).alias("__seeds__")
    )
    # Materialize the ≤√k-row grouped seed table driver-side ONCE per
    # cache key (the _CENTROID_CACHE pattern): left as a lazy plan it
    # embeds a corpus TakeOrdered (the seed limit) that would re-run
    # on EVERY action over the result — collected floats round-trip
    # exactly (float32 → Python float → float32 is lossless), so the
    # rebuilt broadcast is bit-identical to the in-plan frame.
    # (gkey is derived next to skey above — the cold-path pin needs
    # both memo keys before the seed-side frames are built.)
    if gkey is not None and gkey in _GROUPED_SEED_CACHE:
        grows, gschema = _GROUPED_SEED_CACHE[gkey]
    else:
        grows, gschema = grouped.collect(), grouped.schema
        # r12 ADVICE: the supers filter above ASSUMES dense cent_ids
        # 0..k-1. Non-dense ids (or a k inconsistent with the frame)
        # would leave supers empty/undersized and the inner join on
        # __sup would then silently drop or truncate the assignment.
        # The grouped seed table is already collected, so the check
        # is free: every one of the k seeds must appear under exactly
        # one super.
        seed_ids = sorted(
            s["cid"] for r in grows for s in r["__seeds__"]
        )
        if seed_ids != list(range(k)):
            # r13 ADVICE: count alone passes {0,1,7,9} with k=4 — the
            # id-set check enforces the dense-0..k-1 invariant the
            # error message states, not just the row-loss condition.
            raise ValueError(
                f"ivf_assign_2level: centroids must carry dense "
                f"cent_ids 0..k-1 (k={k}), but the two-level seed "
                f"assignment covered ids "
                f"{seed_ids[:8]}{'...' if len(seed_ids) > 8 else ''} "
                f"({len(seed_ids)} seeds) — non-dense ids or a k "
                f"inconsistent with the centroid frame"
            )
        if gkey is not None:
            _GROUPED_SEED_CACHE[gkey] = (grows, gschema)
    grouped_b = vectors.sparkSession.createDataFrame(grows, gschema)
    pts = ivf_assign(vectors, supers, 1, vec_col, id_col, skey, extra_cols)
    cell = _argmax_cid_sql(_cell_scores_sql("`__seeds__`", vec_col))
    return (
        pts.withColumnRenamed("cell", "__sup")
        .join(F.broadcast(grouped_b), "__sup")
        .select(
            id_col, F.expr(cell).alias("cell"), vec_col, "_norm", *extra_cols
        )
    )


def _ivf_cells(
    corpus: DataFrame,
    centroids: "DataFrame | Callable[[int], int]",
    vec_col: str,
    id_col: str,
    cache_key: str | None,
) -> "tuple[Callable[..., DataFrame], int, int | None]":
    """Resolve the ONE cell argument of the IVF-cell operators
    (semantic_dedup, incremental_semantic_dedup, mutual_knn_graph,
    margin_alignment, hard_negative_mining) into everything they
    derive from it. ``centroids`` is one of:

    - a frozen (cent_id, c_vec) table: flat assignment against it,
      ``cache_key`` as given, no block salting;
    - ``auto_nlist``: self-seed ⌈√N⌉ cells from ``corpus``, flat
      assignment, no block salting, and the √N cell count returned
      for the cell-keyed repartition;
    - ``linear_nlist``: self-seed ⌈N/target⌉ cells from ``corpus``,
      TWO-LEVEL assignment (flat assignment against N/target cells
      is O(N²·dim/target) — see ivf_assign_2level), and
      LINEAR_PAIR_BLOCKS block salting for the residual hot cells.

    Self-seeded paths append auto_seed_centroids' (k, N) suffix to
    ``cache_key``. Returns ``(assign, blocks, sqrt_k)``:
    ``assign(frame, extra_cols=())`` is the cell assignment of any
    frame against the resolved cells, ``blocks`` the cell_join block
    count, ``sqrt_k`` the √N cell count (None off the auto_nlist
    policy).
    """
    k: int | None = None
    two_level = False
    sqrt_k: int | None = None
    if not isinstance(centroids, DataFrame):
        if centroids is not auto_nlist and centroids is not linear_nlist:
            raise ValueError(
                "centroids must be a (cent_id, c_vec) table, auto_nlist "
                f"or linear_nlist, got {centroids!r}"
            )
        two_level = centroids is linear_nlist
        centroids, suffix, k = auto_seed_centroids(
            corpus, centroids, vec_col, id_col
        )
        if not two_level:
            sqrt_k = k
        if cache_key is not None:
            cache_key = cache_key + suffix

    def assign(frame: DataFrame, extra_cols: tuple = ()) -> DataFrame:
        if two_level:
            return ivf_assign_2level(
                frame, centroids, k, vec_col, id_col, cache_key, extra_cols
            )
        return ivf_assign(
            frame, centroids, 1, vec_col, id_col, cache_key, extra_cols
        )

    return assign, (LINEAR_PAIR_BLOCKS if two_level else 1), sqrt_k


def ivf_topk(
    queries: DataFrame,
    targets: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = NPROBE,
    query_vec: str = "q_vec",
    target_vec: str = "embedding",
    cache_key: str | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into centroid cells,
    probe each query's ``nprobe`` nearest cells, rank exactly within.

    Scale shape: candidate set per query is the probed cells'
    occupancy (~nprobe/|C| of the corpus), the cell join is an
    equi-join on cell id, and the corpus-side assignment is one
    narrow codegen pass (see ivf_assign).
    """
    from pyspark.sql.window import Window

    cells = ivf_assign(
        targets, centroids, 1, target_vec, "vec_id", cache_key
    ).withColumnRenamed("_norm", "_tn")
    probes = ivf_assign(
        queries, centroids, nprobe, query_vec, "q_id", cache_key
    ).withColumnRenamed("_norm", "_qn")
    scored = cells.join(probes, "cell").withColumn(
        "cos",
        cosine_prenormed(
            F.col(query_vec), F.col(target_vec), F.col("_qn"), F.col("_tn")
        ),
    )
    return _rank_topk(scored, k)


def ivf_topk_budgeted(
    queries: DataFrame,
    targets: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe_max: int = 4,
    candidate_budget: int = 150,
    query_vec: str = "q_vec",
    target_vec: str = "embedding",
    cache_key: str | None = None,
) -> DataFrame:
    """IVF ANN with *adaptive* multi-probe: each query walks its cells
    in centroid-distance order and stops once the probed cells'
    combined occupancy reaches ``candidate_budget`` (always probing at
    least one cell, never more than ``nprobe_max``).

    This is the scale-path refinement over fixed ``nprobe``: dense
    regions stop after one or two cells, sparse regions keep probing —
    the per-query scored-candidate count is bounded by
    budget + max-cell-size instead of varying with cell skew. Cell
    occupancies come from an aggregate over a SECOND narrow
    assignment pass (the occupancy branch ends in its own exchange,
    so Spark cannot reuse the join-side subtree; r4 code review
    corrected an earlier "reused" claim here) — recomputing the
    codegen'd argmax map is deliberately preferred to materializing
    corpus-wide assignment state, and on a memory-rich cluster
    ``persist()`` on the cells frame collapses it to one pass. The
    probe walk is a running sum over ≤ nprobe_max rows per query.
    """
    from pyspark.sql.window import Window

    cells = ivf_assign(
        targets, centroids, 1, target_vec, "vec_id", cache_key
    ).withColumnRenamed("_norm", "_tn")
    occupancy = cells.groupBy("cell").agg(F.count("*").alias("_occ"))

    probes = (
        ivf_assign(queries, centroids, nprobe_max, query_vec, "q_id", cache_key)
        .withColumnRenamed("_norm", "_qn")
        .join(F.broadcast(occupancy), "cell", "left")
        .withColumn("_occ", F.coalesce("_occ", F.lit(0)))
    )
    wcum = (
        Window.partitionBy("q_id")
        .orderBy("_crank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # keep a probe iff the cells *before* it haven't filled the budget
    # (first probe always survives: prior sum is 0)
    probes = probes.withColumn(
        "_cum_before", F.sum("_occ").over(wcum) - F.col("_occ")
    ).filter(F.col("_cum_before") < candidate_budget)

    scored = cells.join(
        probes.select("q_id", query_vec, "_qn", "cell"), "cell"
    ).withColumn(
        "cos",
        cosine_prenormed(
            F.col(query_vec), F.col(target_vec), F.col("_qn"), F.col("_tn")
        ),
    )
    return _rank_topk(scored, k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-blocked (same bucket only)."""
    b = ensure_parallelism(embeddings).withColumn(
        "bucket", lsh_bucket(F.col(vec_col))
    ).withColumn("_n", norm(F.col(vec_col)))
    x = b.alias("x")
    y = b.alias("y")
    return (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .withColumn(
            "cos",
            cosine_prenormed(
                F.col(f"x.{vec_col}"),
                F.col(f"y.{vec_col}"),
                F.col("x._n"),
                F.col("y._n"),
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            "cos",
        )
    )


def multiprobe_lsh_topk(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    query_vec: str = "q_vec",
    target_vec: str = "embedding",
    num_planes: int = NUM_PLANES,
) -> DataFrame:
    """Multi-probe sign-LSH: each query probes its own bucket plus the
    ``num_planes`` single-bit-flip neighbors (the most likely buckets
    for near neighbors that landed just across one hyperplane).

    Recall rises toward brute force at ~(1+planes)/2^planes of its
    cost; the corpus side is untouched — still one bucket per vector,
    still an equi-join. Probing is query-side row expansion only,
    which is the cheap side by construction.
    """
    from pyspark.sql.window import Window

    qb = queries.withColumn("_qbucket", lsh_bucket(F.col(query_vec), num_planes))
    # bucket strings are fixed-width bit strings; flipping bit p is a
    # substring splice — generates the probe set as an array literal
    flips = [F.col("_qbucket")] + [
        F.concat(
            F.substring(F.col("_qbucket"), 1, p),
            F.when(
                F.substring(F.col("_qbucket"), p + 1, 1) == "1", F.lit("0")
            ).otherwise(F.lit("1")),
            F.substring(F.col("_qbucket"), p + 2, num_planes - p - 1),
        )
        for p in range(num_planes)
    ]
    probes = qb.withColumn("_qn", norm(F.col(query_vec))).select(
        "q_id", query_vec, "_qn", F.explode(F.array(*flips)).alias("bucket")
    )
    tb = ensure_parallelism(targets).withColumn(
        "bucket", lsh_bucket(F.col(target_vec), num_planes)
    ).withColumn("_tn", norm(F.col(target_vec)))
    scored = tb.join(F.broadcast(probes), "bucket").withColumn(
        "cos",
        cosine_prenormed(
            F.col(query_vec), F.col(target_vec), F.col("_qn"), F.col("_tn")
        ),
    )
    return _rank_topk(scored, k)


def quantize_int8(
    vectors: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the 4x
    compression step a 100 TB embedding store runs before ANN
    serving (the coarse IVF cells stay float; the residual corpus is
    int8 + one float scale per vector).

    q[i] = round(x[i] * 127 / max|x|), stored with ``scale`` so
    approximate dot products are q_a·q_b / (scale_a*scale_b).
    All-zero vectors get scale=0 and an all-zero code. Pure per-row
    array math: fuses into the scan, no shuffle, no UDF.

    ``scale`` is materialized in its own projection before the
    quantizing ``transform`` references it d times: lambda bodies get
    no CSE (SCALE.md), and CollapseProject declines to inline a
    non-cheap multi-referenced alias, so the O(d) max-abs fold runs
    once per row instead of once per element.
    """
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    max_abs = F.array_max(F.transform(x, F.abs))
    scaled = ensure_parallelism(vectors).select(
        id_col,
        x.alias("_x"),
        F.when(max_abs > 0.0, F.lit(127.0) / max_abs)
        .otherwise(F.lit(0.0))
        .alias("scale"),
    )
    return scaled.select(
        id_col,
        "scale",
        F.transform(
            F.col("_x"), lambda v: F.round(v * F.col("scale")).cast("int")
        ).alias("qvec"),
    )


def quantized_topk(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    query_vec: str = "q_vec",
    target_vec: str = "embedding",
) -> DataFrame:
    """Top-k by cosine of the int8 codes — the serving path over a
    quantized embedding store (quantize_int8). Per-vector scales
    cancel inside cosine, so ranking needs only the codes: integer
    dot products (exact, engine-independent) with one double divide
    at the end. At 100 TB the win is 4x less memory bandwidth on the
    corpus scan; the plan is the same broadcast-queries × stream-
    corpus single stage as brute_force_topk.
    """
    from pyspark.sql.window import Window

    def int_norm(code: Column) -> Column:
        return F.sqrt(
            F.aggregate(
                code,
                F.lit(0).cast("bigint"),
                lambda a, x: a + x.cast("bigint") * x.cast("bigint"),
            ).cast("double")
        )

    qq = quantize_int8(queries, query_vec, "q_id").select(
        "q_id", F.col("qvec").alias("_qc")
    )
    qq = qq.select("q_id", "_qc", int_norm(F.col("_qc")).alias("_qn"))
    tq = quantize_int8(targets, target_vec, "vec_id").select(
        "vec_id", F.col("qvec").alias("_tc")
    )
    tq = tq.select("vec_id", "_tc", int_norm(F.col("_tc")).alias("_tn"))
    idot = F.aggregate(
        F.zip_with(
            F.col("_qc"), F.col("_tc"), lambda x, y: x.cast("bigint") * y
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    scored = tq.join(F.broadcast(qq)).withColumn(
        "qcos",
        F.when(
            F.col("_qn") * F.col("_tn") > 0,
            idot.cast("double") / (F.col("_qn") * F.col("_tn")),
        ).otherwise(F.lit(0.0)),
    )
    return _rank_topk(scored, k, score_col="qcos")


KMEANS_FIX = 1e9  # fixed-point quantum for reproducible accumulation


def kmeans_refine(
    vectors: DataFrame,
    centroids: DataFrame,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    inplan_pack: bool = True,
) -> DataFrame:
    """Lloyd iterations refining the IVF coarse quantizer, with
    bit-reproducible distributed means: each element is floored onto
    a 1e-9 fixed-point grid before summing, so per-dimension sums are
    exact BIGINTs and the resulting centroid is the same double on
    ANY partitioning or cluster size — the standard fix for
    non-associative float accumulation in distributed k-means.
    Capacity bound (r4 code review): a per-(cell,dim) sum of ~1e9-
    scale grid values wraps silently past ~9.2e9 members per cell
    (BIGINT, non-ANSI); cells that large mean the coarse quantizer
    is misconfigured (nlist far below √N) — raise nlist before the
    bound matters, or swap the sum to decimal(38,0) at ~2x agg cost.

    Per iteration: assignment is the narrow ivf_assign pass (one scan,
    argmax over inlined centroid literals), then one shuffle of
    (cell, dim) keyed rows — n·d rows, uniformly spread over k·d keys
    — rebuilds the k mean vectors. Cells that lose all members drop
    out (k shrinks) rather than teleporting. Returns
    (cent_id, n_members, c_vec) after ``n_iter`` rounds.

    r15 (VERDICT r14 #6): only ITERATION 1 collects its centroid
    table (the caller's seed frame — a cheap limit/filter job).
    Every later iteration's centroids are a COMPUTED plan, and
    collecting them forced one extra driver action per iteration
    (s10 profile: 3 materialization actions per build). With
    ``inplan_pack=True`` (the default) the refined centroids instead
    ride a Spark 4 SCALAR SUBQUERY —
    packed into the same one-row array<struct<cid,cn,cv>> the
    >IVF_INLINE_MAX path ships, executed once per action and
    embedded as a runtime literal — so the whole n_iter-round build
    materializes inside the consumer's single action. Bit-identical
    by construction: the fold expression (_cell_scores_sql, the ONE
    shared definition) is unchanged, cn is the same norm()
    expression _collect_centroids evaluates JVM-side before
    collecting, sort_array orders by cid exactly as the collect
    path's orderBy(cent_id), and the values never leave the JVM.

    WHICH MODE TO PASS (interleaved 6-run A/B at sf0.1, both modes
    hash-exact): callers that consume the refined centroids as a
    FRAME (s9's exploded output) win — 2.44 -> 2.13 s median, every
    iteration — because a whole corpus-pass action folds away;
    callers that immediately COLLECT the result (s10's ivf_topk
    serve build) should pass ``inplan_pack=False``: the fold only
    moves work between two driver-side actions and re-plans the
    full chain, measured +0.40 s median.
    """
    cents = centroids
    for i in range(n_iter):
        if i == 0 or not inplan_pack:
            assigned = ivf_assign(vectors, cents, 1, vec_col, id_col)
        else:
            packed = cents.select(
                F.struct(
                    F.col("cent_id").cast("int").alias("cid"),
                    norm(F.col("c_vec")).alias("cn"),
                    F.col("c_vec").alias("cv"),
                ).alias("_c")
            ).agg(F.sort_array(F.collect_list("_c")).alias("__cents__"))
            scores = _cell_scores_sql("`__cents__`", vec_col)
            # Spark 4 scalar-subquery: the 1-row packed array executes
            # once and lands in the plan as a runtime LITERAL —
            # literal-speed folds with zero driver collect round-trips.
            # A one-row broadcast crossJoin was measured and rejected:
            # the BNLJ appends the 8 KB packed row to EVERY corpus row
            # (+0.65 s on s10).
            assigned = (
                ensure_parallelism(vectors)
                .withColumn("__cents__", packed.scalar())
                .select(
                    F.expr(_argmax_cid_sql(scores)).alias("cell"),
                    F.col(vec_col),
                )
            )
        pe = assigned.select(
            "cell", F.posexplode(F.col(vec_col)).alias("pos", "_x")
        ).select(
            "cell",
            "pos",
            F.floor(F.col("_x").cast("double") * F.lit(KMEANS_FIX)).alias(
                "_fx"
            ),
        )
        sums = pe.groupBy("cell", "pos").agg(
            F.sum("_fx").alias("_s"), F.count("*").alias("_n")
        )
        dims = sums.select(
            "cell",
            "_n",
            F.struct(
                "pos",
                (
                    (F.col("_s").cast("double") / F.lit(KMEANS_FIX))
                    / F.col("_n")
                ).alias("m"),
            ).alias("_dm"),
        )
        cents = (
            dims.groupBy("cell")
            .agg(
                F.max("_n").alias("n_members"),
                F.transform(
                    F.array_sort(F.collect_list("_dm")), lambda s: s["m"]
                ).alias("c_vec"),
            )
            .select(
                F.col("cell").alias("cent_id"), "n_members", "c_vec"
            )
        )
    return cents


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection
# ---------------------------------------------------------------------------
RP_DIM_OUT = 8
RP_FIX = 1e9  # same fixed-point trick as KMEANS_FIX


def rp_signs(d_in: int, d_out: int = RP_DIM_OUT) -> list[list[int]]:
    """Deterministic ±1 projection matrix: sign(i, j) from the first
    hex digit of md5('rp|i|j') — no RNG, reproducible in SQL, and
    balanced (8 of 16 hex digits map to +1). The matrix is a few KB,
    so (like the IVF centroid catalog) it inlines into the plan as
    literals instead of being joined."""
    return [
        [
            1
            if hashlib.md5(f"rp|{i}|{j}".encode()).hexdigest()[0] < "8"
            else -1
            for i in range(d_in)
        ]
        for j in range(d_out)
    ]


def random_projection(
    vectors: DataFrame,
    d_in: int,
    d_out: int = RP_DIM_OUT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Sparse-free JL sketch: y_j = Σ_i sign(i,j)·x_i, the standard
    dimensionality squeeze before ANN indexing or near-dup hashing
    (distance-preserving to within 1±ε by Johnson-Lindenstrauss).

    Determinism contract: elements are floored onto the 1e-9 grid so
    each signed sum is an exact integer — the projection is the same
    double on any partitioning AND reproducible by the DuckDB oracle
    (the kmeans_refine argument). Pure per-row column math: the d_out
    folds fuse into the scan projection, no shuffle, no UDF; the
    fixed-point array is materialized once per row in its own
    projection (lambda bodies get no CSE — SCALE.md)."""
    signs = rp_signs(d_in, d_out)
    xf = vectors.select(
        id_col,
        F.transform(
            F.col(vec_col),
            lambda v: F.floor(v.cast("double") * F.lit(RP_FIX)).cast("long"),
        ).alias("_xf"),
    )
    cols = []
    for j in range(d_out):
        sign_arr = F.array(*[F.lit(s) for s in signs[j]])
        folded = F.aggregate(
            F.zip_with(F.col("_xf"), sign_arr, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        cols.append(
            (folded.cast("double") / F.lit(RP_FIX)).alias(f"y{j}")
        )
    return ensure_parallelism(xf).select(id_col, *cols)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's fine-grained half; FAISS's PQ/ADC)
# ---------------------------------------------------------------------------
PQ_SUBSPACES = 8
PQ_CODEBOOK = 16
# Embedding dim the SQL oracles assume (the testdata's fixed width).
# The Spark side derives dsub from the actual vectors at runtime;
# oracles must slice with THIS shared constant so a dim change breaks
# loudly in one place instead of silently diverging (ADVICE r3).
PQ_DIM = 64
PQ_DSUB = PQ_DIM // PQ_SUBSPACES


def _pq_codebooks(
    seeds: DataFrame,
    m: int,
    k: int,
    vec_col: str,
    id_col: str,
    cache_key: str | None,
) -> list[list[list[float]]]:
    """codebooks[m][c] = the 8-float subvector of seed vector c in
    subspace m. Seeds are the lowest-id vectors (the deterministic
    seeding s4/dd14 use); KBs of data, collected once and memoized
    like the IVF centroid catalog."""
    # the key carries every parameter that shapes the books — a bare
    # user key with different m/k/vec_col must MISS, not alias
    # (r4 code review)
    ck = None if cache_key is None else f"pq|{m}|{k}|{vec_col}|{cache_key}"
    if ck is not None and ck in _CENTROID_CACHE:
        return _CENTROID_CACHE[ck]
    rows = seeds.orderBy(id_col).limit(k).collect()
    if len(rows) < k:
        # Fail loudly on a misconfigured seed filter: silently
        # training a smaller codebook would shift every code
        # assignment downstream (ADVICE r3).
        raise ValueError(
            f"PQ codebook needs {k} seed vectors, got {len(rows)} — "
            "check the seeds filter"
        )
    dsub = len(rows[0][vec_col]) // m
    books = [
        [
            [float(v) for v in r[vec_col][mm * dsub : (mm + 1) * dsub]]
            for r in rows
        ]
        for mm in range(m)
    ]
    if ck is not None:
        _CENTROID_CACHE[ck] = books
    return books


# PQ expressions are built as SQL TEXT and parsed with one F.expr per
# output column, for two measured reasons (sf0.1, 16x8 codebooks):
# (a) materializing 16 separate literal-fold d2 expressions per
#     subspace put ~10k nodes in the tree — Catalyst analysis alone
#     cost more than the data pass (7.75 s median); a transform over
#     ONE nested-array codebook literal shares a single d2 lambda.
# (b) building that literal from F.lit/F.array costs a py4j driver
#     RPC per element (~1,100 round-trips, 2.4 s of pure DataFrame
#     construction); one parsed string is a single RPC. repr() doubles
#     round-trip exactly through Spark's decimal parser. This is the
#     same trick ivf_assign uses for its inlined centroids.
def _book_sql(book: list[list[float]]) -> str:
    """One subspace's codebook as a nested-array SQL literal."""
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{float(v)!r}D" for v in cvals) + ")"
            for cvals in book
        )
        + ")"
    )


def _scores_sql(vec_col: str, mm: int, dsub: int, book: list[list[float]]) -> str:
    """transform(codebook, c -> squared-L2(subvector, c)) — the d2 is
    the strict left fold both engines replay exactly."""
    sub = f"slice({vec_col}, {mm * dsub + 1}, {dsub})"
    d2 = (
        f"aggregate(zip_with({sub}, c, (x, y) ->"
        " (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " 0.0D, (acc, v) -> acc + v)"
    )
    return f"transform({_book_sql(book)}, c -> {d2})"


def pq_encode(
    vectors: DataFrame,
    seeds: DataFrame,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CODEBOOK,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_key: str | None = None,
) -> DataFrame:
    """Product-quantize each vector to ``m`` 4-bit codes: split into
    ``m`` subspaces, store the index of the nearest codebook entry
    per subspace (argmin of squared L2, strict ``<`` fold ⇒ ties keep
    the lowest code — the IVF argmax convention mirrored). 64 floats
    become 8 nibbles: 64x compression against the float corpus, vs
    int8's 4x (quantize_int8) — the memory-bandwidth regime where
    100 TB embedding stores actually serve.

    Codebook literals are inlined, so encoding is one NARROW pass
    over the corpus — no join, no shuffle, same plan family as
    ivf_assign."""
    books = _pq_codebooks(seeds, m, k, vec_col, id_col, cache_key)
    code_sqls = []
    for mm in range(m):
        dsub = len(books[mm][0])
        scores = _scores_sql(vec_col, mm, dsub, books[mm])
        # strict < keeps the FIRST min ⇒ lowest code on ties
        code_sqls.append(
            f"(aggregate(zip_with({scores}, sequence(0, {k - 1}),"
            " (s, i) -> named_struct('s', s, 'i', i)),"
            " named_struct('s', CAST('Infinity' AS DOUBLE), 'i', -1),"
            " (acc, x) -> IF(x.s < acc.s, x, acc))).i"
        )
    return ensure_parallelism(vectors).select(
        id_col, F.expr("array(" + ", ".join(code_sqls) + ")").alias("pq_code")
    )


def pq_topk(
    queries: DataFrame,
    targets: DataFrame,
    seeds: DataFrame,
    topk: int = 5,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CODEBOOK,
    query_vec: str = "q_vec",
    target_vec: str = "embedding",
    cache_key: str | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) serving over the PQ codes: each
    query precomputes its m×k lookup table of subspace distances
    (flattened, KBs), broadcasts with it, and every corpus code
    scores with m table probes + one fixed-order fold — the float
    corpus is never touched. Plan = broadcast queries × one narrow
    pass over the (tiny) code table; ranking ascends approximate
    distance with the vec_id tie-break."""
    from pyspark.sql.window import Window

    books = _pq_codebooks(seeds, m, k, target_vec, "vec_id", cache_key)
    lut_parts = [
        _scores_sql(query_vec, mm, len(books[mm][0]), books[mm])
        for mm in range(m)
    ]
    q = queries.select(
        "q_id",
        F.expr("flatten(array(" + ", ".join(lut_parts) + "))").alias("_lut"),
    )
    codes = pq_encode(
        targets, seeds, m, k, target_vec, "vec_id", cache_key
    )
    approx = F.expr(
        f"aggregate(sequence(0, {m - 1}), 0.0D, (acc, mm) -> acc"
        f" + element_at(_lut, mm * {k} + element_at(pq_code, mm + 1) + 1))"
    )
    scored = codes.join(F.broadcast(q)).withColumn("approx_d2", approx)
    return _rank_topk(scored, topk, score_col="approx_d2", ascending=True)


def pq_rerank_topk(
    queries: DataFrame,
    targets: DataFrame,
    seeds: DataFrame,
    topk: int = 5,
    shortlist: int = 25,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CODEBOOK,
    query_vec: str = "q_vec",
    target_vec: str = "embedding",
    cache_key: str | None = None,
) -> DataFrame:
    """Two-stage ANN serving: PQ/ADC shortlist, then EXACT re-rank —
    the standard production retrieval shape (FAISS's
    ``IndexRefineFlat``; every IVF-PQ deployment re-ranks its
    shortlist against the float vectors).

    Stage 1 (:func:`pq_topk`) scores the whole corpus from 8-nibble
    codes — cheap but lossy — and keeps ``shortlist`` candidates per
    query (deterministic: approx distance, vec_id tie-break).  Stage
    2 fetches ONLY those candidates' float vectors (a broadcast
    semi-style equi-join: Q×shortlist ids, KBs, against the corpus —
    the single selective touch of the float store) and re-ranks by
    exact strict-fold cosine.  At 100 TB the float corpus is read
    once filtered-by-broadcast rather than streamed in full
    (brute_force_topk) — the bandwidth win PQ exists for, with exact
    final ordering on the shortlist.

    Accuracy contract: top-``topk`` equals brute force whenever the
    true top-k survive the PQ shortlist — the standard refine trade;
    widen ``shortlist`` to raise recall.
    """
    cand = pq_topk(
        queries, targets, seeds, shortlist, m, k, query_vec, target_vec, cache_key
    ).select("q_id", "vec_id")
    return _exact_rerank(cand, queries, targets, topk, query_vec, target_vec)


def _exact_rerank(
    cand: DataFrame,
    queries: DataFrame,
    targets: DataFrame,
    topk: int,
    query_vec: str,
    target_vec: str,
) -> DataFrame:
    """Shared refine stage: fetch ONLY the shortlist's float vectors
    (broadcast Q×shortlist ids against the corpus — the single
    selective touch of the float store) and re-rank by exact
    strict-fold cosine."""
    from pyspark.sql.window import Window

    fetched = ensure_parallelism(targets).join(F.broadcast(cand), "vec_id")
    scored = fetched.join(
        F.broadcast(queries), "q_id"
    ).withColumn("cos", cosine(F.col(query_vec), F.col(target_vec)))
    return _rank_topk(scored, topk)


def matryoshka_rerank_topk(
    queries: DataFrame,
    targets: DataFrame,
    topk: int = 5,
    shortlist: int = 25,
    prefix_dim: int = 16,
    query_vec: str = "q_vec",
    target_vec: str = "embedding",
) -> DataFrame:
    """Two-stage serving on Matryoshka-style embeddings (Kusupati et
    al. 2022): stage 1 scores cosine on the first ``prefix_dim``
    coordinates only — with MRL-trained vectors the prefix is itself
    a valid low-dim embedding, and a columnar store can lay the
    prefix out separately so the shortlist pass reads prefix_dim/dim
    of the bytes (4× here) — then stage 2 re-ranks the shortlist
    with exact full-dimension cosine via the shared refine stage.
    Same accuracy contract as pq_rerank_topk: exact whenever the
    true top-k survive the prefix shortlist."""
    qp = queries.select(
        "q_id", F.slice(F.col(query_vec), 1, prefix_dim).alias(query_vec)
    )
    tp = targets.select(
        "vec_id", F.slice(F.col(target_vec), 1, prefix_dim).alias(target_vec)
    )
    cand = brute_force_topk(qp, tp, shortlist, query_vec, target_vec).select(
        "q_id", "vec_id"
    )
    return _exact_rerank(cand, queries, targets, topk, query_vec, target_vec)


def cell_join(
    x_frame: DataFrame,
    y_frame: DataFrame,
    x_id: str,
    y_id: str,
    blocks: int = 1,
    on: Column | None = None,
) -> DataFrame:
    """The cell equi-join of two cell-assigned frames, aliased ``x``
    and ``y`` — the one join every IVF-cell operator builds its
    candidates with (cell_pairs' self-join, margin_alignment's
    cross-side join, hard_negative_mining's label join,
    incremental_semantic_dedup's state probe). ``on`` is ANDed onto
    the cell condition (id inequality, label inequality, …) so those
    predicates still reject pairs inside the join.

    ``blocks`` = 1 is the plain ``x.cell = y.cell`` join. ``blocks``
    = B > 1 is the GIANT-CELL skew lever: with the plain join one
    task owns one cell, so a cell holding c vectors does c²/2 cosine
    folds alone while every other core idles — and dup-heavy corpora
    produce exactly such cells, because near-identical vectors share
    an argmax by construction. Each row gets ``_blk`` = hash(id) % B
    and is replicated against every partner block ``_pb`` ∈ [0, B);
    the join condition (cell, x._blk = y._pb, x._pb = y._blk) matches
    every (x, y) pair on EXACTLY ONE replica combination (x's replica
    with _pb = y's block meets y's replica with _pb = x's block), so
    the pair multiset is identical to the plain join — purely a
    physical re-plan spreading one cell's quadratic work over B²
    independent tasks of ≤ (c/B)² folds at a B× replication cost
    through the shuffle. Total cosine work is unchanged; the cell
    count remains the asymptotic-total-work fix (blocks only spreads
    the work).

    Blocked sides are explicitly repartitioned on their key columns
    with a pinned partition count because AQE coalesces shuffles on
    input BYTES and cannot see the cosine folds Catalyst pushes into
    the join condition (SCALE.md lesson 36); an explicit
    numPartitions repartition is exempt. The shuffle_hash hint pins
    the join onto those exchanges — otherwise Catalyst broadcasts
    whichever side fits under autoBroadcastJoinThreshold, which at
    100 TB is a broadcast of the corpus (lesson 36 (a)), and
    sort-merge would add a per-partition sort the bounded
    (≤ c/B)-row hash build doesn't need.
    """
    if blocks < 1:
        raise ValueError(f"blocks must be >= 1, got {blocks}")
    if blocks == 1:
        x, y = x_frame.alias("x"), y_frame.alias("y")
        cond = F.col("x.cell") == F.col("y.cell")
    else:

        def _salted(frame: DataFrame, id_col: str) -> DataFrame:
            return frame.withColumn(
                "_blk",
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks)).cast("int"),
            ).withColumn(
                "_pb", F.explode(F.array(*[F.lit(j) for j in range(blocks)]))
            )

        # the conf value is non-integer on some platforms (e.g. "auto"
        # under Databricks auto-optimized shuffle) — fall back to the
        # cluster's default parallelism (r7 advice)
        try:
            nparts = int(
                x_frame.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            nparts = x_frame.sparkSession.sparkContext.defaultParallelism
        x = (
            _salted(x_frame, x_id)
            .repartition(nparts, F.col("cell"), F.col("_blk"), F.col("_pb"))
            .alias("x")
        )
        y = (
            _salted(y_frame, y_id)
            .repartition(nparts, F.col("cell"), F.col("_pb"), F.col("_blk"))
            .hint("shuffle_hash")
            .alias("y")
        )
        cond = (
            (F.col("x.cell") == F.col("y.cell"))
            & (F.col("x._blk") == F.col("y._pb"))
            & (F.col("x._pb") == F.col("y._blk"))
        )
    if on is not None:
        cond = cond & on
    return x.join(y, cond)


def cell_pairs(
    cells: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    blocks: int = 1,
) -> DataFrame:
    """Scored within-cell candidate pairs from an ``ivf_assign``
    frame — THE pinned cell-equi-join shape (never all-pairs) shared
    by SemDeDup (dd14/dd15 via dedup.semantic_dedup) and the
    mutual-kNN graph (s15). One definition so the id tie-break and
    prenormed-cosine handling cannot fork between the two call sites
    (r5 code review — the _rank_topk consolidation's lesson).
    Returns (va, vb, cos) with va < vb. ``blocks`` is cell_join's
    giant-cell skew lever (identical pair multiset); use B > 1 when
    cell occupancy is skewed or #cells < cores.
    """
    return cell_join(
        cells,
        cells,
        id_col,
        id_col,
        blocks,
        F.col(f"x.{id_col}") < F.col(f"y.{id_col}"),
    ).select(
        F.col(f"x.{id_col}").alias("va"),
        F.col(f"y.{id_col}").alias("vb"),
        cosine_prenormed(
            F.col(f"x.{vec_col}"),
            F.col(f"y.{vec_col}"),
            F.col("x._norm"),
            F.col("y._norm"),
        ).alias("cos"),
    )


def mutual_knn_graph(
    embeddings: DataFrame,
    centroids: "DataFrame | Callable[[int], int]" = linear_nlist,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_key: str | None = None,
) -> DataFrame:
    """Mutual k-NN graph over the corpus — the candidate structure
    semantic-dedup and diversity-sampling pipelines build first
    (SemDeDup's within-cluster graph, k-NN-based coreset selection):
    an undirected edge (a, b) survives iff b is among a's k nearest
    IN-CELL neighbors AND a is among b's. Mutuality prunes hub
    vectors (a centroid-ish vector near everything ranks in many
    top-k lists, but its own top-k keeps only k of them).

    Returns (vec_a, vec_b, cos) with vec_a < vec_b.

    Scale shape: candidates come from the IVF cell equi-join
    (cell_pairs — dd14's pinned shape, never all-pairs; ~|cell|
    fan-in per vector), each undirected candidate is scored ONCE and
    then EXPLODED into its two directed rows — a union of two
    references to the pairs frame would physically re-run the join
    and the cosine folds (Spark dedups exchanges under a union, not
    join subtrees; r5 code review). The final mutuality check is one
    groupBy on the undirected key counting surviving directions
    (=2). Norms ride from ivf_assign, so the whole operator is: one
    narrow assignment pass, one cell-keyed shuffle, one src-keyed
    window shuffle, one pair-keyed groupBy. Ties in the top-k window
    break (cos DESC, neighbor id ASC) — deterministic on both
    engines given the strict-fold cosines.

    ``centroids`` is the cell argument (see _ivf_cells): a frozen
    (cent_id, c_vec) table (s9's trained k-means), ``auto_nlist``
    (√N cells) or ``linear_nlist`` (the default: constant expected
    occupancy, two-level assignment and block-salted pairs — the
    configuration whose 50× corpus probe stayed corpus-linear, where
    √N grew 11–16×). A static cell count was the repo's worst
    sf0.1→sf1 scaler (s15 at 8.9× under nlist=16): per-cell
    population grows linearly with the corpus and pair work
    quadratically.
    """
    from pyspark.sql.window import Window

    from trello_github_etl_spark.operators.gen import exploded

    assign, blocks, sqrt_k = _ivf_cells(
        embeddings, centroids, vec_col, id_col, cache_key
    )
    cells = assign(embeddings)
    if sqrt_k is not None:
        # √N path: explicit k-way repartition BY CELL before the
        # self-join — an explicit numPartitions exchange is exempt
        # from AQE's byte-based coalescing, which otherwise collapses
        # the pair stage's parallelism while its real cost (the
        # cosine folds in the join condition) is invisible to byte
        # stats (semantic_dedup's auto path, SCALE.md lesson 36).
        # Both self-join sides reuse this one exchange, per-task work
        # is bounded by per-cell occupancy, and the corpus side is
        # never broadcast (the locally-fast BHJ-of-the-corpus plan
        # dies at scale). Only the √N count guarantees enough cells
        # for the repartition to buy parallelism.
        cells = cells.repartition(sqrt_k, F.col("cell"))
    pairs = cell_pairs(cells, vec_col, id_col, blocks)
    both_dirs = F.array(
        F.struct(
            F.col("va").alias("src"),
            F.col("vb").alias("dst"),
            F.col("cos").alias("cos"),
        ),
        F.struct(
            F.col("vb").alias("src"),
            F.col("va").alias("dst"),
            F.col("cos").alias("cos"),
        ),
    )
    directed = exploded(pairs, [], both_dirs, "e").select(
        "e.src", "e.dst", "e.cos"
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cos").desc(), F.col("dst").asc()
    )
    ranked = directed.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )
    return (
        ranked.groupBy(
            F.least("src", "dst").alias("vec_a"),
            F.greatest("src", "dst").alias("vec_b"),
        )
        .agg(F.count("*").alias("_dirs"), F.max("cos").alias("cos"))
        .filter(F.col("_dirs") == 2)
        .select("vec_a", "vec_b", "cos")
    )


def margin_alignment(
    xs: DataFrame,
    ys: DataFrame,
    centroids: "DataFrame | Callable[[int], int]" = linear_nlist,
    k: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_key: str | None = None,
) -> DataFrame:
    """Margin-based bitext/cross-corpus alignment scoring (Artetxe &
    Schwenk 2019's ratio margin, the xSIM/LASER mining criterion;
    VERDICT r10 #5): for each x in ``xs``, the best-aligned y in
    ``ys`` by margin(x, y) = cos(x, y) / ((avgNN_k(x) + avgNN_k(y)) /
    2), where avgNN_k(s) is the mean of s's k best cross-side
    candidate cosines. Raw cosine mis-ranks hub vectors (directions
    cosine-close to everything dominate every alignment list); the
    margin divides that hubness out, which is why mining pipelines
    align on margin, not cosine.

    Returns (x_id, y_id, cos, margin) — one row per x that has at
    least one same-cell candidate; ties break (margin DESC, y_id
    ASC). Margin with a non-positive denominator (possible: cosines
    may be negative, zero vectors score 0.0) is DEFINED as 0.0,
    mirroring the cosine guard's convention.

    Blocked-candidate approximation (the s15 discipline): both sides
    assign to SHARED coarse cells (self-seeded over the union when
    ``centroids`` is a policy — see _ivf_cells; default
    ``linear_nlist``) and candidates/neighborhoods are within-cell
    only — O(Σ|xcell|·|ycell|) cross work, never the |X|·|Y|
    product. avgNN therefore averages the k best IN-CELL neighbors;
    a cross-cell true pair is missed exactly as in every IVF
    retrieval path (recall-tested vs brute force, not hidden).

    Numeric parity contract: the top-k mean takes the k LARGEST
    cosine values as a multiset (ties at the boundary contribute
    equal values, so WHICH neighbor wins the last slot cannot change
    the sum), sorts them descending, and sums with a strict left
    fold — deterministic on both engines; then ONE exact division by
    the element count, one by 2, one for the margin ratio.

    Scale shape: two narrow assignment passes, one cell-keyed
    equi-join producing candidates ONCE (persisted — three consumers:
    the two per-side neighborhood aggregates and the final margin
    join), two map-side-combined groupBys on the side ids, two
    broadcast-or-shuffle joins of KB-per-row stats back onto the
    pairs, one per-x window on the x-keyed shuffle. The per-side
    stats frames are side-sized (one row per surviving x/y), far
    under the pair count."""
    from pyspark.sql.window import Window

    assign, blocks, _sqrt_k = _ivf_cells(
        xs.select(id_col, vec_col).unionByName(ys.select(id_col, vec_col)),
        centroids,
        vec_col,
        id_col,
        cache_key,
    )
    xc = assign(xs)
    yren = assign(ys).select(
        "cell",
        F.col(id_col).alias("_y_id"),
        F.col(vec_col).alias("_y_vec"),
        F.col("_norm").alias("_y_norm"),
    )
    pairs = (
        cell_join(xc, yren, id_col, "_y_id", blocks)
        .select(
            F.col(id_col).alias("x_id"),
            F.col("_y_id").alias("y_id"),
            cosine_prenormed(
                F.col(vec_col),
                F.col("_y_vec"),
                F.col("_norm"),
                F.col("_y_norm"),
            ).alias("cos"),
        )
        # three consumers (avg_x, avg_y, margin join) — without the
        # pin the cell join + cosine folds run three times. Lifetime
        # contract as ranking.with_global_rank: sweeping callers
        # clearCache between queries.
        .persist()
    )

    def _topk_avg(frame: DataFrame, key: str, out: str) -> DataFrame:
        arr = F.slice(
            F.sort_array(F.collect_list("cos"), asc=False), 1, k
        )
        return frame.groupBy(key).agg(
            (
                F.aggregate(arr, F.lit(0.0), lambda acc, c: acc + c)
                / F.size(arr)
            ).alias(out)
        )

    ax = _topk_avg(pairs, "x_id", "_avg_x")
    ay = _topk_avg(pairs, "y_id", "_avg_y")
    denom = (F.col("_avg_x") + F.col("_avg_y")) / F.lit(2.0)
    scored = (
        pairs.join(ax, "x_id")
        .join(ay, "y_id")
        .withColumn(
            "margin",
            F.when(denom > 0, F.col("cos") / denom).otherwise(F.lit(0.0)),
        )
    )
    w = Window.partitionBy("x_id").orderBy(
        F.col("margin").desc(), F.col("y_id").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("x_id", "y_id", "cos", "margin")
    )


def hard_negative_mining(
    embeddings: DataFrame,
    centroids: "DataFrame | Callable[[int], int]" = linear_nlist,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    cache_key: str | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    every anchor vector, the k nearest IN-CELL vectors carrying a
    DIFFERENT label — the negatives closest to the decision boundary,
    which is what contrastive batches are built from (in-batch random
    negatives are mostly easy; ANN-mined hard negatives are the
    standard fix, e.g. ANCE / DPR-style retrieval training).

    Returns (anchor_id, neg_id, anchor_label, neg_label, cos, rk)
    with rk in 1..k per anchor; ties break (cos DESC, neg_id ASC).

    Scale shape — the s15 discipline with one extra lever: the label
    inequality is part of the PAIR-JOIN CONDITION, so same-label
    pairs (the majority inside a cell when labels correlate with
    geometry, which is the whole premise of embedding training) are
    rejected by the join before any cosine fold is spent on them —
    filtering after scoring would do the full quadratic in-cell work
    only to drop most of it. Candidates come from the cells of the
    ``centroids`` argument (see _ivf_cells; default
    ``linear_nlist``), never all-pairs; each unordered cross-label
    pair is scored once and exploded into its two directed rows
    (Spark dedups exchanges under a union, not join subtrees — r5
    code review, same as mutual_knn_graph); one anchor-keyed window
    takes top-k. The label rides through the assignment's narrow
    projection (ivf_assign's extra_cols) — no corpus-on-corpus id
    join anywhere in the plan (r12: that join was a full corpus
    shuffle on the s20 50× probe)."""
    from pyspark.sql.window import Window

    from trello_github_etl_spark.operators.gen import exploded

    assign, blocks, sqrt_k = _ivf_cells(
        embeddings, centroids, vec_col, id_col, cache_key
    )
    cl = assign(embeddings, (label_col,))
    if sqrt_k is not None:
        # explicit cell-keyed repartition before the self-join, exempt
        # from AQE byte-based coalescing (SCALE.md lesson 36)
        cl = cl.repartition(sqrt_k, F.col("cell"))
    pairs = cell_join(
        cl,
        cl,
        id_col,
        id_col,
        blocks,
        (F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        & (F.col(f"x.{label_col}") != F.col(f"y.{label_col}")),
    ).select(
        F.col(f"x.{id_col}").alias("va"),
        F.col(f"y.{id_col}").alias("vb"),
        F.col(f"x.{label_col}").alias("la"),
        F.col(f"y.{label_col}").alias("lb"),
        cosine_prenormed(
            F.col(f"x.{vec_col}"),
            F.col(f"y.{vec_col}"),
            F.col("x._norm"),
            F.col("y._norm"),
        ).alias("cos"),
    )
    both_dirs = F.array(
        F.struct(
            F.col("va").alias("anchor_id"),
            F.col("vb").alias("neg_id"),
            F.col("la").alias("anchor_label"),
            F.col("lb").alias("neg_label"),
            F.col("cos").alias("cos"),
        ),
        F.struct(
            F.col("vb").alias("anchor_id"),
            F.col("va").alias("neg_id"),
            F.col("lb").alias("anchor_label"),
            F.col("la").alias("neg_label"),
            F.col("cos").alias("cos"),
        ),
    )
    directed = exploded(pairs, [], both_dirs, "e").select(
        "e.anchor_id", "e.neg_id", "e.anchor_label", "e.neg_label", "e.cos"
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), F.col("neg_id").asc()
    )
    return directed.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )
