"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard (BASELINE.json north star).

Determinism contract: every hash is md5-derived, so DuckDB oracles
reproduce results bit-for-bit — no engine-specific hash functions.

Scale design:
- exact: one hash-aggregate on the fingerprint (shuffle on md5 key,
  uniformly distributed → no skew);
- minhash-LSH: signatures are per-row array math (no shuffle), bucket
  join shuffles on (band, key) — candidate pairs only, never all
  pairs;
- simhash: per-row 32-bit signature via per-bit majority, one
  aggregate per doc;
- jaccard: exact verification joined through a shared-shingle
  blocking join — the common/|A∪B| counts come from one shuffle on
  shingle hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trello_github_etl_spark.operators.gen import exploded, pos_exploded
from trello_github_etl_spark.operators.parallel import ensure_parallelism
from trello_github_etl_spark.operators.similarity import (
    _ivf_cells,
    auto_nlist,
    cell_join,
    cell_pairs,
    cosine_prenormed,
    linear_nlist,
)
from trello_github_etl_spark.operators.textstats import (
    fingerprint,
    ngrams,
    shingles,
    tokens,
)

NUM_MINHASHES = 8
LSH_BANDS = 4  # 2 rows per band
SIMHASH_BITS = 32
# Hamming-ball pairing defaults shared by the dd17/mm5 queries AND
# their oracle SQL builders (single source — ADVICE r3's PQ_DSUB
# lesson): signature width, band count, candidate df-cap.
HAMMING_SIG_BITS = 60
HAMMING_BANDS = 4
HAMMING_BAND_DF = 20
HAMMING_MAX_DIST = 3


def _pair_structs(ds, make):
    """In-group ordered pair expansion over a sorted array column:
    every (x, y) with x before y in ``ds`` becomes ``make(x, y)`` —
    the O(d²) JVM-side blowup shared by jaccard_pairs, winnow pairs
    and hamming_pairs (one definition; the slice off-by-one and the
    a<b-by-construction property live here — r4 code review)."""
    return F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: make(x, y),
            ),
        )
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (canonicalized) docs; keeper = min id."""
    fp = docs.select(
        F.col("doc_id"), fingerprint(F.col(text_col)).alias("fp")
    ).filter(F.col("fp").isNotNull())
    # ^ NULL text has no comparable content: grouping NULL fps would
    # report every textless doc as a "duplicate" of the first one —
    # the same NULL-fp contract incremental_dedup states explicitly
    # (absent data stays visible, never admitted; r4 code review)
    return (
        fp.groupBy("fp")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keeper_id"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def split_leakage(
    docs: DataFrame,
    split_col: str = "split",
    text_col: str = "text",
    id_col: str = "doc_id",
    train_label: str = "train",
) -> DataFrame:
    """Cross-split contamination audit: content-identical documents
    that span more than one train/val/test split — the duplication
    mode that silently inflates eval scores (a test doc whose exact
    copy sits in train is memorization, not generalization; cf.
    Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better", §5 train-test overlap).

    One hash-aggregation keyed by the content fingerprint — the same
    single-shuffle shape as exact_duplicates, NO pair expansion, so
    it runs at any corpus size for the cost of a groupBy. Emits one
    row per leaking fingerprint group: member/split counts, the
    sorted split list, the keeper (min id), and the train/eval
    breakdown (``n_eval`` docs outside ``train_label`` are the ones
    whose eval contribution is contaminated). NULL-text docs carry
    no comparable content and are excluded, matching
    exact_duplicates' NULL-fp contract; a NULL SPLIT is a caller
    bug, not data — collect_set would silently skip it (a train+NULL
    group would never flag, and n_train+n_eval would undercount
    n_docs), so it fails loudly instead (r5 code review).
    """
    fp = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(split_col).alias("split"),
        fingerprint(F.col(text_col)).alias("fp"),
    ).filter(F.col("fp").isNotNull())
    fp = fp.withColumn(
        "split",
        F.when(
            F.col("split").isNull(),
            F.raise_error(
                F.lit(
                    "split_leakage: NULL split value — every doc must "
                    "carry a split assignment (hash-derive it like "
                    "dd18 does) before auditing"
                )
            ),
        ).otherwise(F.col("split")),
    )
    # n_splits comes from the collect_set we aggregate anyway — a
    # count(DISTINCT split) would force Spark's two-phase distinct
    # aggregation and a SECOND fp-keyed shuffle (caught by the dd18
    # plan pin); deriving it keeps the audit at exactly one exchange.
    return (
        fp.groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_set("split")).alias("_splits"),
            F.min("doc_id").alias("keeper_id"),
            F.count(
                F.when(F.col("split") == train_label, F.lit(1))
            ).alias("n_train"),
            F.count(
                F.when(F.col("split") != train_label, F.lit(1))
            ).alias("n_eval"),
        )
        .withColumn("n_splits", F.size("_splits").cast("bigint"))
        .withColumn("splits", F.array_join("_splits", ","))
        .drop("_splits")
        .filter(F.col("n_splits") > 1)
        .select(
            "fp", "n_docs", "n_splits", "splits",
            "keeper_id", "n_train", "n_eval",
        )
    )


def split_decontaminate(
    docs: DataFrame,
    split_col: str = "split",
    text_col: str = "text",
    id_col: str = "doc_id",
    train_label: str = "train",
) -> DataFrame:
    """The audit's (split_leakage's) enforcement half: emit the TRAIN
    documents whose content fingerprint also appears in any eval
    split — the rows a leakage-safe pipeline must drop before
    training (eval stays pristine; train is what gives up its
    contaminated members, since dropping eval rows would silently
    shrink the benchmark).

    Plan: one fp-keyed aggregation over the eval side (distinct fps
    with their sorted split list), then one equi-join from the train
    side — the eval side is the small fraction of the corpus by
    construction (val+test of an 80/10/10 split), so AQE broadcasts
    it when it fits and hash-joins on fp otherwise; either way the
    train side streams through once. Output is only the purge list
    (doc_id, fp, eval_splits), KB-scale relative to the corpus.
    NULL text is excluded (no comparable content); NULL split fails
    loudly — same contracts as split_leakage.
    """
    fp = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(split_col).alias("split"),
        fingerprint(F.col(text_col)).alias("fp"),
    ).filter(F.col("fp").isNotNull())
    fp = fp.withColumn(
        "split",
        F.when(
            F.col("split").isNull(),
            F.raise_error(
                F.lit(
                    "split_decontaminate: NULL split value — assign "
                    "every doc a split before purging"
                )
            ),
        ).otherwise(F.col("split")),
    )
    eval_fps = (
        fp.filter(F.col("split") != train_label)
        .groupBy("fp")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("split")), ","
            ).alias("eval_splits")
        )
    )
    return (
        fp.filter(F.col("split") == train_label)
        .join(eval_fps, "fp")
        .select("doc_id", "fp", "eval_splits")
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", num_hashes: int = NUM_MINHASHES
) -> DataFrame:
    """Per-doc minhash signature: sig[i] = min(h60(i || '|' || shingle)),
    where h60 is the first 60 bits of md5 as a bigint — a minhash over
    a 60-bit md5-derived family seeded by i.

    Shape: explode shingles → one groupBy with ``num_hashes`` min
    aggregates. Each md5 is computed exactly once per (shingle, seed),
    and partial (map-side) aggregation means the shuffle carries one
    partial signature per doc per map partition — never raw shingle
    rows. Two deliberate physical-plan properties: (a) the
    all-in-one-projection alternative
    (``array_min(transform(shingles, md5))`` × seeds) duplicates the
    whole tokenize→shingle subtree into every seed expression and was
    ~100× slower end-to-end; (b) min over BIGINT keeps the agg buffer
    fixed-width so Spark plans a HashAggregate — min over md5 hex
    *strings* falls back to SortAggregate (sort both sides of the
    shuffle), which loses map-side combine efficiency at scale.
    """
    sh = exploded(
        ensure_parallelism(docs), ["doc_id"], shingles(F.col(text_col)), "shingle"
    )
    mins = [
        F.min(
            _token_hash60(F.concat(F.lit(f"{i}|"), F.col("shingle")))
        ).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    return (
        sh.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("sig"),
        )
    )


def lsh_band_keys(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = NUM_MINHASHES,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """(doc_id, band_key) rows — one per LSH band per doc with ≥1
    shingle. The band index is prefixed into the bucket key so every
    downstream collision probe is a single-column equi-join; bigint
    sig entries render as plain decimal digits, so the "|"-separated
    key is collision-free (separator ∉ digits). Shared by the batch
    pair generator (minhash_lsh_pairs) and the incremental/streaming
    near-dup classifier (incremental_near_dedup) — ONE definition of
    the banding scheme, so state written by one is probeable by the
    other."""
    if num_hashes % bands != 0:
        # a remainder would leave trailing signature entries in no
        # band: paid for, then silently ignored — the S-curve the
        # caller configured is not the one that runs (r4 code review,
        # same class as hamming_pairs's guard)
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by bands={bands}"
        )
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, text_col, num_hashes)
    band_keys = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)],
            )
            for b in range(bands)
        ]
    )
    return exploded(sigs, ["doc_id"], band_keys, "band_key")


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = NUM_MINHASHES,
    bands: int = LSH_BANDS,
    max_band_df: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: equal signature rows in ≥1 LSH band.

    Both sides share the banding subtree (lsh_band_keys), so AQE
    plans a ReusedExchange for the second side instead of recomputing
    signatures.

    ``max_band_df`` is the candidate-inflation lever (dd17's
    HAMMING_BAND_DF / dd7's max_shingle_df analog, added by the r7
    skew stress): a band key shared by d docs emits O(d²) pairs — a
    10k-member duplicate cluster is 4 bands × C(10k,2) ≈ 200M joined
    rows before distinct (measured: buckles at sf1, SCALE.md lesson
    35). The cap drops band groups with document frequency above it
    BEFORE expansion. NOTE the semantics: unlike boilerplate
    shingles, a hot BAND usually marks a genuine giant dup cluster,
    so capping here trades recall on exactly those docs — consumers
    that only need CONNECTIVITY should use lsh_candidate_edges
    (O(d) star edges, no recall trade) instead; the cap is for
    pair-LIST consumers that must bound output size.
    """
    banded = lsh_band_keys(docs, text_col, num_hashes, bands)
    if max_band_df is not None:
        # r14 optimization: the capped path is ONE aggregation —
        # collect each band group's sorted member list and filter on
        # its SIZE (≡ the band's document frequency), then expand
        # pairs in-group with the same array HOFs jaccard_pairs uses.
        # The previous shape (persist banded → count-agg → join-back
        # → self-join) needed the banded subtree pinned because its
        # three consumers could not share an exchange; this shape has
        # exactly one consumer of the signature pipeline, no persist,
        # no joins. Measured at sf0.1 (8-run interleaved A/B,
        # identical pair sets): cap=20 3.40 s → 1.66 s, cap=3
        # 3.98 s → 1.67 s. Buffer bound: collect_list holds one id
        # per group member — a giant (capped-out) family buffers its
        # d ids (~8·d bytes) before the size filter drops it, the
        # same O(d) the star-edge emitter already carries, vs the
        # O(d²) expansion the cap exists to prevent (the expansion
        # runs only on ≤cap-sized lists).
        # array_distinct (r14 ADVICE): doc_id is unique per caller
        # contract, making this a no-op on valid input — but if a
        # caller ever violates it, sort_array(collect_list) keeps the
        # duplicates adjacent and the pair expansion would emit
        # (d, d) self-pairs, where the old self-join's strict
        # doc_a < doc_b predicate could not. Distinct-ing restores
        # collect_set semantics so both paths degrade identically.
        ds = F.col("ds")
        grouped = (
            banded.groupBy("band_key")
            .agg(
                F.array_distinct(
                    F.sort_array(F.collect_list("doc_id"))
                ).alias("ds")
            )
            .filter((F.size(ds) > 1) & (F.size(ds) <= max_band_df))
        )
        pair_structs = _pair_structs(
            ds, lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
        )
        return (
            exploded(grouped, [], pair_structs, "p")
            .select("p.doc_a", "p.doc_b")
            .distinct()
        )
    # UNCAPPED path: kept as a self-join (unlike jaccard_pairs'
    # grouped-pair expansion): banded rows are only `bands` per doc
    # and the signature subtree dominates cost, so the reused
    # exchange on the identical child beats a collect_list agg —
    # measured both at sf0.1, self-join wins by ~10% here while
    # grouping wins ~30% where the exploded side is wide (shingles).
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def lsh_candidate_edges(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = NUM_MINHASHES,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """STAR edges over the LSH band groups: per band key, one edge
    from the group's min doc_id (the hub) to every other member —
    O(d) edges per d-doc group instead of minhash_lsh_pairs' O(d²)
    pairs, with IDENTICAL connected components (any two docs sharing
    a band are joined through the hub, and components are closed
    under exactly these band-sharing relations).

    This is the giant-dup-cluster scale fix (r7 skew stress, SCALE.md
    lesson 35): a 10k-member exact-dup cluster emits 4 bands ×
    9,999 star edges (~40k) where the pair emitter explodes into
    ~200M joined rows. Clustering consumers (dup_clusters /
    dup_cluster_keepers) use this; pair-list consumers that score or
    verify each candidate pair (dd3's oracle contract, jaccard
    verification) keep the pair emitters.

    Shape: the hub is min(doc_id) over a window partitioned by
    band_key, so the banding subtree runs once and every (band_key,
    doc_id) row crosses one exchange. An agg + equi-join-back form
    needs the banded subtree on both sides of the band_key join, and
    those sides can never share an exchange (partial min below one,
    raw rows below the other), so the tokenize→shingle→md5 signature
    pipeline ran twice (r14, sf0.1, 10-run interleaved A/B: 2.77 s →
    1.97 s median; plans/r14/edge_gen_star_plan_{before,after}.txt).
    The window's per-group row buffer (ExternalAppendOnlyUnsafeRowArray)
    SPILLS, so a multi-million-member band does not concentrate
    ~8 B/member in one unspillable buffer the way a groupBy
    collect_list of members would. Against that collect_list form the
    interleaved A/B at sf0.1 was a wash (1.542 s vs 1.586 s median,
    identical edge sets, pass count and shuffle bytes); the window
    wins on the memory ceiling of this giant-dup-cluster path.
    """
    from pyspark.sql.window import Window

    banded = lsh_band_keys(docs, text_col, num_hashes, bands)
    w = Window.partitionBy("band_key")
    return (
        banded.withColumn("_hub", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("_hub"))
        .select(F.col("_hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )


def _token_hash60(tok) -> F.Column:
    """First 15 md5 hex chars as a 60-bit bigint (conv base16→10)."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint")


def simhash(docs: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash over distinct tokens (weight 1 per token).

    bit b set iff Σ_tokens (h>>b & 1 ? +1 : -1) > 0. One explode +
    one aggregate with `bits` sum expressions; signature reassembled
    as Σ 2^b.
    """
    if not 1 <= bits <= 60:
        # _token_hash60 yields 60 hash bits: bits 61-63 would vote on
        # permanently-zero input (dead signature bits weakening every
        # downstream band), and 2^63 overflows the LongType literal
        # (r4 code review)
        raise ValueError(f"bits={bits} must be in [1, 60]")
    tok = exploded(
        ensure_parallelism(docs),
        ["doc_id"],
        F.array_distinct(tokens(F.col(text_col))),
        "tok",
    ).withColumn("h", _token_hash60(F.col("tok")))
    # bit b's ±1 vote sum v_b equals 2·(set-bit count) − n, so the
    # sign test v_b > 0 is 2·cnt_b > n — plain bit-extract sums plus
    # one COUNT instead of `bits` CASE expressions in the aggregate.
    counts = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(1)).alias(f"c{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(F.count("*").alias("_n"), *counts)
    sig = None
    for b in range(bits):
        term = F.when(
            F.lit(2) * F.col(f"c{b}") > F.col("_n"), F.lit(2 ** b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        sig = term if sig is None else sig + term
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_hamming_pairs(
    docs: DataFrame,
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 3,
    bands: int = 4,
    max_band_df: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming ball (Manku/Jain/
    Sarma, WWW'07 — Google's web near-dup detector): candidates are
    docs sharing at least ONE of ``bands`` signature bands (by
    pigeonhole, Hamming distance ≤ bands−1 guarantees an identical
    band, so with 4 bands the ≤3 ball has recall 1.0 by
    construction), verified by exact popcount of the XOR.

    Scale shape = the LSH band pattern on integer keys: one narrow
    signature pass (dd4), a band equi-join (never all-pairs), DISTINCT
    over (pair, its ≤4 band hits), and a popcount filter — all
    integer codegen ops, no HOF folds.

    ``max_band_df`` is the candidate-inflation lever (dd13's df-cap on
    band keys): a (band, key) bucket with d members contributes
    O(d²) candidates, and on a self-similar corpus signature buckets
    concentrate — MEASURED on the vocab-uniform testdata at sf1,
    the uncapped ≤3-ball holds 41.2M pairs (3% of ALL pairs), which
    no pair-emitting contract survives.  Capping drops only the
    candidate generation of hot buckets; a pair straddling a capped
    bucket can still surface through any of its other bands (planted
    near-verbatim copies share all 4), the standard recall trade,
    and it bounds candidates to O(cap·|buckets|)."""
    sig = simhash(docs, text_col, bits)
    return hamming_pairs(
        sig, "simhash", bits, "doc_id", max_hamming, bands, max_band_df
    )


def hamming_pairs(
    sigs: DataFrame,
    sig_col: str,
    bits: int,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_band_df: int | None = None,
) -> DataFrame:
    """Generic Hamming-ball pairing over any integer signature column
    (text SimHash dd17, image aHash mm5): banded candidates, exact
    popcount verify, optional band-key df-cap (SCALE.md lesson 27 —
    a pair operator ships with its inflation lever).

    Candidate generation is the GROUPED-ARRAY shape (lesson 23), not
    a self-join: a band self-join evaluates the whole signature
    subtree on BOTH sort-merge sides (measured at sf0.1: the 60-vote
    signature pass alone is 2.7 s and the self-join paid it twice),
    while grouping computes signatures once, shuffles once on the
    band key, and expands pairs with JVM array transforms.  The
    df-cap collapses to a filter on the group-array length — no
    second aggregation, and the O(d²) blowup is visible as array
    size before it happens."""
    if bits % bands != 0:
        # a remainder would leave the top bits in NO band key: two
        # sigs differing only there would never become candidates —
        # silent recall loss, not a tunable (r4 code review)
        raise ValueError(f"bits={bits} must be divisible by bands={bands}")
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} > bands-1={bands - 1}: the "
            "pigeonhole guarantee only covers distances < bands; use "
            "more bands (or accept <1 recall explicitly by raising "
            "bands and keeping the ball)"
        )
    w = bits // bands
    mask = (1 << w) - 1
    sig = sigs.select(F.col(id_col).alias("doc_id"), F.col(sig_col).alias("_sig"))
    banded = sig.select(
        "doc_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("_sig"), b * w)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "_sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    ds = F.col("ds")
    grouped = (
        banded.groupBy("band", "key")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "_sig"))
            ).alias("ds")
        )
        .filter(F.size(ds) > 1)
    )
    if max_band_df is not None:
        grouped = grouped.filter(F.size(ds) <= max_band_df)
    pair_structs = _pair_structs(
        ds,
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            x["_sig"].alias("sig_a"),
            y["_sig"].alias("sig_b"),
        ),
    )
    cand = (
        exploded(grouped, [], pair_structs, "p")
        .select("p.doc_a", "p.doc_b", "p.sig_a", "p.sig_b")
        .distinct()
    )
    ham = F.bit_count(
        F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    )
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def _shingle_pair_counts(
    docs: DataFrame,
    text_col: str,
    block_col: str,
    max_shingle_df: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared candidate machinery for the set-overlap pair family
    (jaccard_pairs, containment_pairs): returns ``(common, sizes)``
    where common = (doc_a < doc_b, n_common shared shingles) over
    shared-shingle candidates and sizes = per-doc shingle-set size,
    both computed AFTER the optional df cap so every consumer's
    numerator and denominator count the same filtered sets."""
    sh = exploded(
        ensure_parallelism(docs),
        ["doc_id", F.col(block_col).alias("_blk")],
        shingles(F.col(text_col)),
        "shingle",
    )
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.countDistinct("doc_id").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))

    # Candidate pairs by grouping instead of self-joining: one shuffle
    # of shingle rows (vs two for a self-join's sort-merge sides), then
    # in-group pair expansion with array higher-order functions — all
    # JVM-side, measured ~30% faster at sf0.1. Shingles are distinct
    # per doc, so each doc appears once per group and sort_array makes
    # every emitted pair satisfy doc_a < doc_b with no filter. The
    # per-group array holds one id per containing doc (its length = the
    # shingle's document frequency), so memory tracks the same d that
    # already bounds the O(d²) pair output — and ``max_shingle_df``
    # caps both when corpora carry boilerplate shingles.
    ds = F.col("ds")
    grouped = (
        sh.groupBy("shingle", "_blk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size(ds) > 1)
    )
    pair_structs = _pair_structs(
        ds, lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
    )
    common = (
        exploded(grouped, [], pair_structs, "p")
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return common, sizes


def _with_sizes(common: DataFrame, sizes: DataFrame) -> DataFrame:
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.2,
    block_col: str = "lang",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over shared-shingle candidates.

    Only pairs sharing ≥1 shingle (and a blocking key) are scored:
    jaccard = common / (|A| + |B| - common). The shuffle key is the
    shingle hash — uniformly distributed, skew-safe.

    ``max_shingle_df`` is the scale lever for candidate inflation: a
    shingle appearing in d docs contributes O(d²) candidate pairs, so
    ultra-common shingles dominate join cost while carrying no dedup
    signal. Capping document frequency drops ONLY the candidate
    generation of those shingles; the jaccard numerator/denominator
    then count capped shingles too (semantics = jaccard over the
    df-filtered shingle sets, which the oracle replicates exactly).
    """
    common, sizes = _shingle_pair_counts(
        docs, text_col, block_col, max_shingle_df
    )
    return (
        _with_sizes(common, sizes)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.9,
    block_col: str = "lang",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Directional set CONTAINMENT over the same shared-shingle
    candidates as jaccard_pairs: c_ab = common/|A| (how much of A
    sits inside B), c_ba = common/|B|; a pair survives when either
    direction >= threshold. Catches quote-inclusion — a short doc
    fully embedded in a long one has containment 1.0 in one
    direction while its symmetric Jaccard is arbitrarily low, so
    doc-level near-dedup (dd3/dd5) never sees it (Broder 1997
    distinguishes resemblance from containment for exactly this).
    Same candidate generation, same df-cap semantics, one extra
    column of integer division — the plan differs from
    jaccard_pairs only in the final projection/filter."""
    common, sizes = _shingle_pair_counts(
        docs, text_col, block_col, max_shingle_df
    )
    c_ab = F.col("n_common").cast("double") / F.col("n_a")
    c_ba = F.col("n_common").cast("double") / F.col("n_b")
    return (
        _with_sizes(common, sizes)
        .withColumn("c_ab", c_ab)
        .withColumn("c_ba", c_ba)
        .filter(F.greatest(F.col("c_ab"), F.col("c_ba")) >= threshold)
        .select("doc_a", "doc_b", "n_common", "c_ab", "c_ba")
    )


def _truncate_lineage(
    df: DataFrame, checkpoint_dir: str | None, eager: bool = True
) -> DataFrame:
    """Per-round lineage truncation for iterative operators.

    With ``checkpoint_dir`` set, uses a RELIABLE checkpoint (parquet
    to the shared dir): on a real cluster the iteration state
    survives executor loss and cached-partition eviction, which
    localCheckpoint does not (its blocks live in executor storage —
    lose one mid-algorithm and the round recomputes from scratch,
    exactly what truncation was meant to prevent). Default stays
    local: the sandbox has no shared FS, and local mode has no
    executor loss to survive.

    ``eager=False`` (r15, guide §1.4) cuts the logical plan at a
    LogicalRDD immediately but defers materialization into the NEXT
    action over the frame — the iterative loops below all run a
    convergence count / signature collect / consumer action right
    after truncating, so fusing the two halves the per-round job
    count at identical dataflow. Only safe when that next action is
    the frame's SOLE consumer until it completes: two not-yet-
    materialized consumers in ONE job schedule as independent stages
    and compute the subtree twice (the persisted blocks land only
    after the first stage finishes). The reliable-checkpoint path
    IGNORES eager=False: RDD.checkpoint() on an unmaterialized RDD
    re-runs the whole computation to write the checkpoint files
    (Spark's documented recompute-unless-persisted behavior), which
    would double every round's work on a real cluster.

    ``setCheckpointDir`` is SparkContext-global; setting it here is
    idempotent and last-writer-wins, which is safe because the dir
    only namespaces where checkpoint files land.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def connected_components_auto(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    small_edges: int = 100_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, cluster_id=min reachable node) with an AQE-style
    small-graph shortcut: materialize the edge list once, and if it
    is tiny, union-find on the driver instead of paying the
    distributed fixpoint's per-round job floor.

    Why: semantic dedup at a 0.92 threshold yields a few hundred
    edges from a 20k-vector corpus (measured at sf1: 400 edges), yet
    a distributed components loop still costs ~5 s of pure
    scheduling + per-round localCheckpoints on it.  A ≤100k-edge
    list is ≤ a few MB — the same KB-to-MB class as the broadcast
    centroid/prefix-sum catalogs — and driver union-find with
    min-root gives the IDENTICAL (node, min-reachable-id) labels;
    it is also the exact in-process reference the tests compare
    the distributed operator against.  Above the cutoff the graph
    goes to connected_components_twostar, so the 100 TB path never
    collects and a long similarity chain still converges in
    O(log² n) rounds; this is runtime size-based plan choice,
    exactly AQE's move."""
    # persist, not localCheckpoint: the size-probe count right below
    # materializes the edge list and the collect / two-star fallback
    # read the cached blocks, but only a persist can be released —
    # DataFrame.unpersist() leaves a localCheckpoint's RDD registered
    # for the rest of the session. The two-star path keeps the pin:
    # its lazily checkpointed all_nodes frame reads the edges again
    # after it returns.
    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).persist()
    if e.count() <= small_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        try:
            rows = e.collect()
        finally:
            # the driver-built result below never reads the edges again
            e.unpersist()
        for r in rows:
            ru, rv = find(r.u), find(r.v)
            if ru != rv:
                # union by MIN root: the label contract is
                # cluster_id = min reachable node
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo
        nodes = {x for r in rows for x in (r.u, r.v)}
        out = [(n, find(n)) for n in sorted(nodes)]
        # schema follows the EDGE id type (string ids etc. must not
        # flip behavior across the size cutoff — r4 code review)
        from pyspark.sql import types as _T

        id_type = e.schema["u"].dataType
        schema = _T.StructType(
            [
                _T.StructField("doc_id", id_type),
                _T.StructField("cluster_id", id_type),
            ]
        )
        return pairs.sparkSession.createDataFrame(out, schema)
    return connected_components_twostar(
        e, "u", "v", checkpoint_dir=checkpoint_dir
    )


# Lineage-truncation cadence for the pagerank loop: every K rounds,
# not every round (see the loop comment in ``pagerank``).
_PR_TRUNCATE_INTERVAL = 2


def pagerank(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    rounds: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-round PageRank (damping 0.85) over an undirected edge
    list — centrality on the near-dup candidate graph, the signal for
    choosing a cluster's EXEMPLAR by how connected it is to the rest
    of its family (vs the arbitrary min-id rule) and for ranking
    template hubs (cf. dd11's triangle density).

    Bit-reproducible by construction: ranks live on an integer
    nano-grid (1.0 → 10⁹), every contribution is BIGINT floor
    division rank DIV degree, and the damping step is
    150000000 + (85·Σ) DIV 100 — no floats anywhere, so any engine
    replays the identical trajectory (the s9/s11 fixed-point
    contract applied to an iterative graph algorithm; a DuckDB
    recursive CTE is the oracle).  Every node has degree ≥ 1 (it
    came from an edge), so there is no dangling-mass term.

    Scale shape: per round one join edges⋈ranks + one sum shuffle on
    the destination; lineage truncated per round
    (localCheckpoint / reliable with ``checkpoint_dir``).

    Giant-family caveat (r7 skew stress): PageRank's VALUES depend on
    the true pair multiset, so the star-edge relation
    (lsh_candidate_edges) is NOT a drop-in here — a 10k-member dup
    family means feeding it minhash_lsh_pairs is O(d²)
    (SKEW_sf1.json: 50M pairs). Cap the emitter
    (``max_band_df``) before ranking; a capped-out giant family is
    better handled by dd22's keeper election over star-edge
    components, which never materializes the pair list."""
    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    edges = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).cache()
    # deg joins into EVERY round: truncate it like the labels, or
    # each round re-runs the degree aggregation + its exchange over
    # the cached edges (r4 code review)
    # deg stays EAGER (r15 note): its job is also what materializes
    # the cached `edges` union. Lazy, the edges_deg.count() job below
    # would carry TWO consumers of the not-yet-cached edges (the deg
    # subtree and the join's probe side) as independent stages — the
    # upstream pair pipeline would compute twice (see
    # _truncate_lineage's sole-consumer rule). Once per query, not
    # per round, so there is no job-count win to chase here.
    deg = _truncate_lineage(
        edges.groupBy("v").agg(F.count("*").alias("deg")), checkpoint_dir
    )
    # r14 optimization: deg(v) is STATIC across rounds, so attach it
    # to the edge list ONCE before the loop instead of re-joining it
    # inside every round — each of the `rounds` iterations drops from
    # two joins to one, and because persist() keeps ACCURATE size
    # stats on the combined frame, every round still plans the edge
    # side as a broadcast at toy scale while at cluster scale the
    # persisted frame retains the join's hash partitioning on v, so
    # each round shuffles only the rank table (guide §2.4: establish
    # a partitioning once, reuse it). persist, NOT localCheckpoint:
    # an ExistingRDD loses size statistics (defaultSizeInBytes =
    # "huge"), which demoted every round's join to a full
    # two-sided shuffle — measured at sf0.1 the checkpoint variant
    # ran rounds at 0.53 s vs 0.23 s for persist/old (r14 A/B);
    # lineage is static (one join above
    # materialized inputs), so checkpoint's lineage-truncation role
    # is moot here. Contributions are unchanged bigint
    # `rank DIV deg`, so the trajectory is bit-identical.
    edges_deg = edges.join(deg, "v").select("u", "v", "deg").persist()
    edges_deg.count()
    # the cached raw edges fed deg and edges_deg, both now
    # materialized — release the cache before the loop runs
    edges.unpersist()
    ranks = _truncate_lineage(
        deg.select(
            F.col("v").alias("node"),
            F.lit(1_000_000_000).cast("bigint").alias("rank"),
        ),
        checkpoint_dir,
        # eager=False: a one-column rename over the persisted deg
        # blocks, consumed once by round 1's join
        eager=False,
    )
    # r14 optimization (guide §2.4 / §1.4): truncate lineage every
    # _PR_TRUNCATE_INTERVAL rounds instead of every round. Truncation
    # is a cost knob, not a correctness one — the trajectory is
    # bit-identical at any interval (probe: exceptAll 0/0 at K=2/5/10
    # on dd16's real sf0.1 pair set) — but each eager checkpoint is a
    # full job + a block materialization, so per-round truncation made
    # 10 rounds cost 10 jobs. Interval 2 halves that (interleaved 6-run
    # A/B at sf0.1: 7.39 s → 6.58 s median; K=5/K=10 measured no
    # better and carry deeper recompute-on-block-loss lineage).
    for i in range(rounds):
        contribs = edges_deg.join(ranks, edges_deg["v"] == ranks["node"]).select(
            "u", F.expr("rank DIV deg").alias("_c")
        )
        ranks = (
            contribs.groupBy("u")
            .agg(F.sum("_c").alias("_s"))
            .select(
                F.col("u").alias("node"),
                (
                    F.lit(150_000_000).cast("bigint")
                    + F.expr("(85 * _s) DIV 100")
                ).alias("rank"),
            )
        )
        if (i + 1) % _PR_TRUNCATE_INTERVAL == 0 or i == rounds - 1:
            # eager=False for MID-loop truncations (r15): each still
            # cuts the logical plan (bounded planning per round) but
            # materializes inside the next materializing job
            # (strictly sequential consumers: round i's ranks feed
            # only round i+1). The FINAL round stays eager — it
            # drains the whole lazy chain in one job, and it must
            # complete BEFORE edges_deg.unpersist() below drops the
            # blocks every round's join reads (a lazy final frame
            # would materialize after return, recomputing edges_deg
            # from scratch per consumer). 10 rounds: 5 interval jobs
            # → 1.
            ranks = _truncate_lineage(
                ranks, checkpoint_dir, eager=(i == rounds - 1)
            )
    edges_deg.unpersist()
    return ranks.select(
        F.col("node").alias("doc_id"), F.col("rank").alias("pr_nano")
    )


def connected_components_twostar(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, cluster_id=min reachable node) via alternating
    large-star/small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) — the one
    distributed components operator; connected_components_auto
    routes graphs above its driver union-find cutoff here.

    Why this algorithm: it converges in O(log² n) rounds regardless
    of diameter, so a pathological component (boilerplate pages,
    templated spam, a long similarity chain) cannot stall the job
    the way an O(diameter) min-label loop does, AND it monotonically
    shrinks/flattens the edge set toward stars, so the per-round
    shuffle gets cheaper as it goes. Against a min-label loop on
    150k-edge graphs it ran ~7x faster on 20–60-node chains and on
    par on 2–12-node near-cliques, the semantic-dedup shape.

    Round structure (all DataFrame ops, nothing collects):
    - large-star: symmetrize, per-node min m over Γ(u)∪{u}, emit
      (v, m) for strictly larger neighbors v — after this every edge
      points big→small;
    - small-star: on the big→small edges, per-node min m of N(u)∪{u},
      re-hang u and its non-min neighbors on m.
    Convergence = fixed edge set, checked with a (count,
    sum(xxhash64)) signature — one scalar aggregate per round, and
    only that scalar reaches the driver; ``localCheckpoint``
    truncates per-round lineage.

    r14 round-body surgery (guide §2.4, measured 2.76 s → 2.14 s
    median on the real sf0.1 dd6 edge set, 6 → 3 Exchanges/round,
    labels bit-identical; r14 A/B):
    - large-star attaches the per-node min via a window over
      ``partitionBy(u)`` instead of groupBy+join-back: one exchange
      instead of two, no join. The window buffers one node's
      neighbor rows per group (sort-based, spills via
      ExternalAppendOnlyUnsafeRowArray) — the Spark analogue of the
      secondary-sort streaming reduce the MR formulation uses; a
      10k-member hub group is ~160 KB, graceful far beyond that.
    - small-star attaches its per-node min with the same window,
      and one explode per row emits the re-hung neighbor and the
      self edge; the round's ``distinct`` drops the repeats. A
      window, not ``groupBy(u).agg(min, collect_set)``: that
      object-hash aggregate falls back to sort-based past 128 keys
      anyway and its set buffer does not spill, and on 150k-edge
      graphs the window form ran 3.40 s vs 4.36 s median
      (near-cliques) and 13.0 s vs 15.8 s (chains), same labels.
    """
    raw = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # node coverage from the UNFILTERED pairs: a node appearing only
    # in self-pairs must still come back as its own singleton cluster,
    # exactly as the driver union-find labels it (r4 code review)
    # eager=False (r15): all_nodes' sole consumer is the FINAL label
    # join, so its materialization job folds into the consumer's
    # action; the initial edge frame folds into round 1's signature
    # collect the same way (see _truncate_lineage).
    all_nodes = _truncate_lineage(
        raw.select(F.col("u").alias("node"))
        .unionByName(raw.select(F.col("v").alias("node")))
        .distinct(),
        checkpoint_dir,
        eager=False,
    )
    e = raw.filter(F.col("u") != F.col("v"))
    # start from big→small orientation so round 1's large-star sees
    # the same canonical form every later round produces
    edges = _truncate_lineage(
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct(),
        checkpoint_dir,
        eager=False,
    )

    def signature(df: DataFrame):
        # decimal sum: ANSI mode overflows a plain long sum of
        # 64-bit hashes
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    from pyspark.sql.window import Window

    sig = signature(edges)
    converged = False
    win = Window.partitionBy("u")
    for _ in range(max_iter):
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # large-star: m = min(Γ(u) ∪ {u}) attached in-place by the
        # window — the group min rides the same exchange the rows
        # themselves need, so no second shuffle and no join-back
        large = (
            sym.withColumn("_mn", F.min("v").over(win))
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("_mn"), F.col("u")).alias("v"),
            )
        )
        # small-star input is big→small by construction of large, so
        # m = min(N(u)); each row (u, v) re-hangs v on m (dropped when
        # v IS m) and emits the self edge (u, m)
        hang = (
            large.withColumn("_m", F.min("v").over(win))
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("u"), F.col("_m").alias("v")),
                        F.struct(F.col("u").alias("u"), F.col("_m").alias("v")),
                    )
                ).alias("e")
            )
            .select("e.u", "e.v")
            .filter(F.col("u") != F.col("v"))
        )
        # eager=False: the signature collect right below materializes
        # the round's edge set — one job per round instead of two
        edges = _truncate_lineage(hang.distinct(), checkpoint_dir, eager=False)
        new_sig = signature(edges)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig

    if not converged:
        # a non-star residual edge set would fan out the label join
        # below into duplicated, inconsistent rows per node — fail
        # loudly instead
        raise RuntimeError(
            f"two-star components did not converge in {max_iter} rounds"
            " — raise max_iter (rounds needed are O(log^2 n))"
        )

    return all_nodes.join(
        edges, all_nodes["node"] == edges["u"], "left"
    ).select(
        F.col("node").alias("doc_id"),
        F.coalesce(F.col("v"), F.col("node")).alias("cluster_id"),
    )


def dup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """MinHash-LSH candidates → connected duplicate clusters.

    Edges come from lsh_candidate_edges (star edges, O(d) per band
    group) rather than the O(d²) pair emitter — components are
    IDENTICAL (both close over the band-sharing relation; pinned by
    test_lsh_star_edges_same_components) and a 10k-member dup
    cluster stays linear (r7 skew stress, SCALE.md lesson 35).

    Components run on connected_components_twostar (VERDICT r14 #2,
    decided r15): the interleaved A/B on the real sf1 edge set, with
    every loop on the fused per-round action, measured two-star 3.60 s
    vs Shiloach–Vishkin pointer jumping 5.11 s median (r14's
    pre-fusion numbers 5.16 vs 7.99 agreed in direction). Two-star
    also carries the stronger scale contract — O(log² n) rounds
    regardless of diameter AND a monotonically shrinking edge set per
    round, where min-label propagation joins the FULL edge list for
    O(diameter) rounds (the r12 38-round failure class). Labels are
    node-for-node identical to the driver union-find's (the
    min-reachable fixpoint is unique;
    test_twostar_components_match_union_find)."""
    return connected_components_twostar(
        lsh_candidate_edges(docs, text_col), checkpoint_dir=checkpoint_dir
    )


def incremental_dedup(
    new_batch: DataFrame,
    corpus_fps: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Continuous-crawl dedup: classify each NEW doc against the
    already-ingested corpus and against its own batch, without ever
    touching corpus text.

    ``corpus_fps`` carries one column ``fp`` (the fingerprint state a
    growing corpus maintains — 16 bytes/doc, the only thing the
    history contributes). Returns (doc_id, fp, verdict) with verdict
    ∈ {'kept', 'dup_existing', 'dup_batch', 'no_text'}: NULL
    fingerprints (no text) are flagged first, then corpus hit wins,
    then min-doc_id keeper within the batch. 'no_text' docs are never
    admissible — see the inline comment for why 'kept' would re-admit
    one per batch forever.

    Scale shape: one join + one window, BOTH keyed on the same
    md5-uniform ``_wkey`` — the shuffle the join produces is reused by
    the window (no second Exchange when the join shuffles; when the
    corpus side broadcasts, the single Exchange serves the window).
    Day-N cost is O(batch + |corpus fingerprints|) and the batch text
    is read once.

    NULL-fp routing: a batch heavy in textless docs must not funnel
    them into one window partition (NULL is a single partitioning
    value), so the shared key is ``coalesce(fp, '~'||doc_id)`` — per
    NULL doc a unique sentinel that can never equal a 32-hex-char md5
    fingerprint (``~`` is not hex), keeping join semantics identical
    (an fp equi-join never matches NULL anyway) while spreading
    no-text rows uniformly.
    """
    from pyspark.sql.window import Window

    fps = new_batch.select(
        F.col("doc_id"), fingerprint(F.col(text_col)).alias("fp")
    ).withColumn(
        "_wkey",
        F.coalesce(
            F.col("fp"), F.concat(F.lit("~"), F.col("doc_id").cast("string"))
        ),
    )
    corpus = (
        corpus_fps.select(F.col("fp").alias("_wkey"))
        .where(F.col("_wkey").isNotNull())
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    w = Window.partitionBy("_wkey")
    return (
        fps.join(corpus, "_wkey", "left")
        .withColumn("_min_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "fp",
            # NULL fp (no text) gets its own verdict: an fp equi-join
            # can never match NULL across batches, so classifying such
            # docs 'kept' would admit one per batch forever while
            # in-batch NULLs deduped against each other — contradictory
            # semantics. Absent data stays visible, never admitted.
            F.when(F.col("fp").isNull(), F.lit("no_text"))
            .when(F.col("_hit") == 1, F.lit("dup_existing"))
            .when(F.col("doc_id") != F.col("_min_id"), F.lit("dup_batch"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs whose shingle sets
    overlap an eval set too much (the GPT-3/C4-style n-gram
    decontamination step of a pretraining pipeline).

    Returns (doc_id, n_sh, n_hit, overlap) for docs with
    overlap = |shingles(doc) ∩ shingles(benchmark)| / |shingles(doc)|
    ≥ ``threshold``; an anti-join of the corpus against this frame is
    the cleaned corpus.

    Scale shape: the benchmark side is collapsed to DISTINCT shingles
    once (eval suites are tiny next to a 100 TB corpus, but the
    contract does not require broadcastability — the membership probe
    is a plain LEFT equi-join on the shingle, shuffle-keyed by
    uniformly-distributed text n-grams, so Catalyst broadcasts when
    small and sort-merges/AQE-plans when not). Both per-doc counts
    (total shingles and benchmark hits) come out of ONE aggregation
    over the marked stream — a count and a conditional count share
    the grouping — so the whole operator is explode → probe join →
    one shuffle on doc_id. (The obvious sizes⋈hits formulation costs
    two extra exchanges; measured 1.8 s → 1.1 s at sf0.1.)
    """
    corpus_sh = exploded(
        ensure_parallelism(corpus), ["doc_id"], shingles(F.col(text_col)), "shingle"
    )
    bench_sh = (
        exploded(benchmark, [], shingles(F.col(text_col)), "shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        corpus_sh.join(bench_sh, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.count("_hit").alias("n_hit"),
        )
        .withColumn(
            "overlap", F.col("n_hit") / F.col("n_sh").cast("double")
        )
        .filter(F.col("overlap") >= threshold)
        .select("doc_id", "n_sh", "n_hit", "overlap")
    )


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-document triangle membership in the near-dup candidate
    graph — the density signal that separates template/boilerplate
    families (clique-like, high triangle count) from chains of
    borderline pairs (triangle-free), a standard graph feature for
    dedup-cluster triage.

    Edges arrive canonical (doc_a < doc_b). Each triangle a<b<c is
    enumerated exactly once via the two-wedge join
    (a,b)⋈(b,c)⋈(a,c) — the ordering kills the 6x permutation blowup
    — then explodes into its three corners for one count per doc.
    The edge list is localCheckpointed: three join probes must not
    re-run the whole LSH pipeline (on a cluster, persist the pair
    frame instead). Scale lever: hot nodes make wedges quadratic in
    max-degree; cap degree upstream (dd7's max_shingle_df analog)
    before counting at 100 TB.
    """
    e = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e1 = e
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tris = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
    )
    corners = tris.select(
        F.explode(F.array("a", "b", "c")).alias("doc_id")
    )
    return corners.groupBy("doc_id").agg(
        F.count("*").alias("n_triangles")
    )


WINNOW_SHINGLE = 5
WINNOW_WINDOW = 8


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    k: int = WINNOW_SHINGLE,
    w: int = WINNOW_WINDOW,
) -> DataFrame:
    """MOSS-style winnowing (Schleimer et al., SIGMOD 2003): hash the
    POSITIONAL k-gram stream, keep the minimum of every w-hash
    sliding window, dedup. Guarantees any shared run of ≥ w+k-1
    tokens yields at least one shared fingerprint — positional
    recall that single-min fingerprinting (t4's winnow_fp) and
    whole-doc MinHash can't give for partial overlap/containment.

    Returns (doc_id, wfp) exploded rows, O(n/w) fingerprints per doc.
    Pure per-row array math fused into the scan; the explode fans out
    only the selected minima, never the raw k-gram stream.
    """
    toks_arr = tokens(F.col(text_col))
    base = ensure_parallelism(docs).select(
        "doc_id", toks_arr.alias("_tk")
    )
    from trello_github_etl_spark.operators.textstats import ngrams

    hashed = base.select(
        "doc_id",
        F.transform(ngrams(F.col("_tk"), k), _token_hash60).alias("_h"),
    )
    wins = hashed.select(
        "doc_id", winnow_window_mins(F.col("_h"), w).alias("_w")
    )
    return exploded(wins, ["doc_id"], F.col("_w"), "wfp")


def winnow_window_mins(h: F.Column, w: int = WINNOW_WINDOW) -> F.Column:
    """Winnowing's selection step as a pure column expression: the
    DISTINCT sliding-window minima of a positional hash array.

    ``h`` is referenced several times, so callers must materialize it
    in its own projection first (lambda bodies get no CSE — SCALE.md);
    both winnow_fingerprints and pipe8 do."""
    n_windows = F.size(h) - F.lit(w - 1)
    # sequence(1, 0) DESCENDS in Spark (yielding an invalid slice
    # start of 0) — short docs must produce an empty window list
    idx = F.when(
        n_windows >= 1, F.sequence(F.lit(1), n_windows)
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_min(F.slice(h, i, w)))
    )


def winnow_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = WINNOW_SHINGLE,
    w: int = WINNOW_WINDOW,
    max_fp_df: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs sharing ≥1 winnowing fingerprint,
    with the shared-fingerprint count as the overlap signal. Same
    bucket-join scale shape as MinHash-LSH (equi-join on an
    md5-uniform key, candidate pairs only) but sensitive to PARTIAL
    overlap: a copied paragraph inside an otherwise-different doc
    still collides.

    ``max_fp_df`` is the skew lever (dd7's analog): a fingerprint in
    d docs — site boilerplate, license headers — contributes O(d²)
    candidate pairs while carrying no near-dup signal. The cap drops
    fingerprints with document frequency above it BEFORE pair
    expansion, so ``n_shared`` counts only sub-cap fingerprints (the
    oracle replicates the same HAVING filter).

    Pair expansion uses dd5's grouped-HOF shape, not a self-join: one
    shuffle of fingerprint rows keyed by the md5-uniform wfp, then
    in-group array expansion (sort_array guarantees doc_a < doc_b).
    The sf1 sweep measured the self-join formulation at 687 s on 50k
    synthesized docs (hot template fingerprints → a 3-task sort-merge
    tail); the grouped shape halves the shuffled volume and keeps the
    O(d²) blowup visible as group-array length, where ``max_fp_df``
    caps it."""
    fps = winnow_fingerprints(docs, text_col, k, w)
    grouped = (
        fps.groupBy("wfp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if max_fp_df is not None:
        grouped = grouped.filter(F.size("ds") <= max_fp_df)
    ds = F.col("ds")
    pair_structs = _pair_structs(
        ds, lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
    )
    return (
        exploded(grouped, [], pair_structs, "p")
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )


def semantic_dedup_nlist(n: int) -> int:
    """Corpus-adaptive coarse-cell count — delegates to the canonical
    similarity.auto_nlist (ceil(√N) clamped to [16, 4096]; FAISS's
    nlist≈√N rule, measured as THE SemDeDup scale lever in SCALE.md
    lessons 25/26). One definition shared with the mutual-kNN graph
    so the two cell-equi-join operators cannot drift apart."""
    return auto_nlist(n)


def semantic_dedup(
    embeddings: DataFrame,
    centroids: "DataFrame | Callable[[int], int]" = auto_nlist,
    threshold: float = 0.92,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_key: str | None = None,
    checkpoint_dir: str | None = None,
    pair_blocks: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, arXiv:2303.09540): coarse-cluster the corpus,
    find within-cluster pairs above a cosine threshold, consolidate
    them into semantic groups, keep one exemplar (min id) per group.

    Returns (id, cell, group_id, verdict) for EVERY input vector:
    verdict 'kept' for exemplars and singletons, 'dup_semantic' for
    members whose group exemplar is another vector. group_id is the
    min reachable id within the group (singletons: the id itself), so
    ``filter(verdict='kept')`` is the deduplicated corpus and
    group_id the lineage key.

    Scale shape — the whole point of clustering first:
    - cell assignment is ivf_assign's narrow codegen pass (centroid
      literals inlined, no join, no shuffle; one scan of the corpus);
    - the pair join is an EQUI-join on cell (+ id inequality), so
      candidates are within-cluster only — O(Σ|cell|²), never the
      O(n²) corpus cross product, and cells are capacity-bounded by
      the k-means balance (skew lever: raise k);
    - grouping is connected_components_auto (driver union-find up
      to 100k edges, two-star above; either way the candidate graph
      only — pairs, not vectors);
    - cosine uses the strict-fold double contract (similarity.dot),
      so a DuckDB oracle reproduces every score bit-for-bit.

    Recall caveat (tested, not hidden): a near-dup pair straddling a
    cell boundary is missed — the standard SemDeDup trade. Identical
    vectors always co-locate (same argmax), so exact-duplicate recall
    is 1.0 by construction; raise recall on borderline pairs with
    more Lloyd rounds on the centroids (s9) or a secondary probe.

    ``centroids`` is the cell argument (see similarity._ivf_cells):
    a frozen (cent_id, c_vec) table (s9's trained k-means, the
    dd14/dd15 receipts), ``auto_nlist`` (the default: one corpus
    count picks ⌈√N⌉ clamped cells and the lowest-``id_col`` vectors
    become the seeds, re-numbered to dense cent_ids 0..k-1 so
    non-integer ``id_col`` corpora work too) or ``linear_nlist``.
    The returned ``cell`` values on a self-seeded path are dense seed
    RANKS, not raw seed ids. A static cell count is the first plan to
    die at 100×: per-cell population grows linearly with the corpus
    and pair work quadratically per cell, which is exactly dd14's old
    10.4× sf0.1→sf1 ratio under nlist=16.

    ``pair_blocks`` (default: the policy's block count — 1 unless
    ``linear_nlist``) is similarity.cell_join's giant-cell skew
    lever: B>1 spreads one cell's O(c²) cosine work over B² tasks
    with an IDENTICAL pair multiset (so the oracle and the returned
    frame are bit-unchanged — it is purely a physical re-plan). Use
    it when the corpus is dup-heavy (near-identical vectors share an
    argmax, so real dup clusters concentrate in few cells) or when
    #cells < cores pins the pair stage below machine parallelism
    (dd14's static-16 receipt). On the √N path B>1 replaces the
    per-cell repartition (the blocked join carries its own pinned
    (cell, blk, partner) exchange).
    """
    assign, blocks, sqrt_k = _ivf_cells(
        embeddings, centroids, vec_col, id_col, cache_key
    )
    if pair_blocks is not None:
        blocks = pair_blocks
    cells = assign(embeddings)
    if sqrt_k is None:
        # Static-centroid path: one pin computes the O(N·k·dim)
        # assignment once for the pair join's two sides and the final
        # verdict join (r15, VERDICT r14 #4). persist, not
        # localCheckpoint: an ExistingRDD loses size statistics
        # (defaultSizeInBytes = "huge", the hazard pagerank's edges_deg
        # comment documents), so joins over a checkpointed frame
        # replan as full two-sided shuffles. The sf0.1 A/B alone had
        # picked the checkpoint (dd15: no pin 4.47 / persist 3.36 /
        # checkpoint 3.05 s) and the trade inverted at sf1.
        # Interleaved sf1 A/B, median: dd14 checkpoint 47.3 / none
        # 14.4 / persist 20.1 s (persist won 2 of 3 pairings); dd15
        # checkpoint ~14 / none 8.78 / persist 4.26 s. sf0.1 three-shape
        # re-run: dd14 persist 2.19 s best; dd15 persist 2.55 vs
        # checkpoint 2.28 s (a wash). Verdict frames bit-identical
        # under all three shapes.
        cells = cells.persist()
        pair_src = cells
    else:
        # √N path only (k=√N ⇒ enough cells for join parallelism):
        # (a) localCheckpoint pins the O(N·k·dim) assignment ONCE —
        # the pair self-join and the final verdict join key on
        # different columns, so without the pin the assignment pass
        # runs twice per query (measured at sf1/k=143: ~5 s of ~10 s);
        # (b) the pair source is then explicitly repartitioned k-ways
        # BY CELL: over a checkpointed source the self-join replans as
        # SMJ behind Exchange hashpartitioning + AQEShuffleRead, and
        # AQE coalesces that shuffle by INPUT bytes (6 MB at sf1 → 7
        # partitions) while the join's real cost is the O(Σ|cell|²)
        # cosine folds in the join condition, which AQE cannot see —
        # a 4.5× parallelism collapse, SCALE.md lesson 36. An
        # explicit numPartitions repartition is exempt from AQE
        # coalescing and satisfies the join's distribution, so both
        # sides reuse this one exchange and per-task work is bounded
        # by per-cell occupancy. Static-centroid callers (dd14/dd15
        # receipts, s9-trained) keep their original plan: with few
        # cells an equi-join's parallelism is ≤ #cells regardless,
        # which is one more reason a static cell count dies at scale.
        # The blocked join (blocks > 1) repartitions on (cell, blk,
        # partner) itself, so it skips the per-cell exchange.
        cells = cells.localCheckpoint(eager=True)
        pair_src = (
            cells.repartition(sqrt_k, F.col("cell")) if blocks == 1 else cells
        )
    # the shared pinned cell-equi-join shape (similarity.cell_pairs —
    # one definition with s15's mutual-kNN graph; r5 code review)
    pairs = (
        cell_pairs(pair_src, vec_col, id_col, blocks)
        .filter(F.col("cos") >= threshold)
        .select(
            F.col("va").alias("doc_a"),
            F.col("vb").alias("doc_b"),
        )
    )
    groups = connected_components_auto(
        pairs, checkpoint_dir=checkpoint_dir
    ).select(
        F.col("doc_id").alias(id_col), F.col("cluster_id").alias("group_id")
    )
    return (
        cells.select(id_col, "cell")
        .join(groups, id_col, "left")
        .select(
            id_col,
            "cell",
            F.coalesce("group_id", F.col(id_col)).alias("group_id"),
            F.when(
                F.col("group_id").isNotNull()
                & (F.col("group_id") != F.col(id_col)),
                F.lit("dup_semantic"),
            )
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
    )


def incremental_semantic_dedup(
    batch: DataFrame,
    state: DataFrame,
    centroids: "DataFrame | Callable[[int], int]" = linear_nlist,
    threshold: float = 0.92,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_key: str | None = None,
) -> DataFrame:
    """Day-N SemDeDup: classify a NEW batch of vectors against the
    committed corpus state without re-clustering anything — the
    semantic twin of incremental_near_dedup (dd10/dd23's MinHash
    path). At 100 TB, re-running semantic_dedup over corpus+batch
    per crawl re-pays the whole within-cell pair pass on data that
    was already adjudicated; the incremental path touches only
    (batch x same-cell-state) and (batch x same-cell-batch).

    Inputs: ``state`` = the committed exemplar set (the 'kept'
    vectors of prior rounds), ``centroids`` = the committed coarse
    structure — a FROZEN (cent_id, c_vec) table: batch vectors
    assign to the existing cells (similarity.ivf_assign's narrow
    codegen pass), which is what makes the run incremental. A policy
    (see similarity._ivf_cells; default ``linear_nlist``) self-seeds
    the cells from ``state`` instead. Periodic re-seeding/compaction
    is a separate dd24 re-run, exactly like a streaming LSM's major
    compaction.

    Verdict per batch vector, in precedence order:
    - 'dup_of_state'  — some same-cell state exemplar scores
      cosine >= threshold; match_id = the lowest such exemplar id.
    - 'dup_in_batch'  — no state hit, but a SMALLER-id same-cell
      batch vector scores >= threshold; match_id = the lowest such
      peer. This is the DIRECT-NEIGHBOR election (dd23's bucket
      peer_min rule), not semantic_dedup's transitive closure —
      the standard streaming approximation: day-N batches are small
      relative to state, and chains longer than one hop get folded
      at the next compaction. Documented deviation, not drift.
    - 'kept'          — novel; match_id = its own id.

    Scale shape: both cell assignments are narrow scan passes; the
    state probe is an EQUI-join on cell (the planner broadcasts a
    small batch side and AQE flips to shuffle beyond — both right);
    in-batch candidates reuse cell_pairs' pinned equi-join; two
    small aggregates keyed on the batch id. Under block salting the
    state probe is blocked too: a dup-heavy batch concentrates in the
    cells its dups' exemplars live in, so one (cell) task would own
    |batch_cell|·|state_cell| cosine folds alone. The state side is
    O(corpus) HERE only because the oracle-checkable form recomputes
    state cell assignments from the raw table — a deployment
    persists (id, cell, norm) alongside the exemplars, making the
    per-batch cost O(batch x occupancy) (dd23's lesson-40 note,
    same asymptotic caveat)."""
    assign, blocks, _sqrt_k = _ivf_cells(
        state, centroids, vec_col, id_col, cache_key
    )
    b = assign(batch)
    sren = assign(state).select(
        "cell",
        F.col(id_col).alias("_sid"),
        F.col(vec_col).alias("_svec"),
        F.col("_norm").alias("_snorm"),
    )
    hits = (
        cell_join(b, sren, id_col, "_sid", blocks)
        .filter(
            cosine_prenormed(
                F.col(vec_col),
                F.col("_svec"),
                F.col("_norm"),
                F.col("_snorm"),
            )
            >= threshold
        )
        .groupBy(id_col)
        .agg(F.min("_sid").alias("_state_match"))
    )
    peers = (
        cell_pairs(b, vec_col, id_col, blocks)
        .filter(F.col("cos") >= threshold)
        .groupBy(F.col("vb").alias(id_col))
        .agg(F.min("va").alias("_peer_min"))
    )
    return (
        b.select(id_col, "cell")
        .join(hits, id_col, "left")
        .join(peers, id_col, "left")
        .select(
            id_col,
            "cell",
            F.when(F.col("_state_match").isNotNull(), F.lit("dup_of_state"))
            .when(F.col("_peer_min").isNotNull(), F.lit("dup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
            F.coalesce(
                "_state_match", "_peer_min", F.col(id_col)
            ).alias("match_id"),
        )
    )


REPEAT_NGRAM_N = 8
REPEAT_NGRAM_MIN_COUNT = 2


def repeated_ngram_coverage(
    docs: DataFrame,
    text_col: str = "text",
    n: int = REPEAT_NGRAM_N,
    min_count: int = REPEAT_NGRAM_MIN_COUNT,
    strategy: str = "grouped",
) -> DataFrame:
    """Exact-substring dedup audit (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): flag every token
    position whose word ``n``-gram occurs ``min_count``-or-more times
    ANYWHERE in the corpus (the suffix-array criterion, restricted to
    fixed-width windows so it distributes), then per doc measure the
    fraction of token positions covered by the union of flagged
    ``[start, start+n)`` spans.

    Returns ``(doc_id, n_tokens, n_flagged, covered, coverage)`` for
    docs with at least one flagged span; ``coverage`` near 1.0 means
    the doc is almost entirely memorization-risk text (verbatim
    boilerplate / copies), the band in between localizes copied
    passages inside otherwise-novel docs — the case whole-doc
    fingerprints (dd1) and MinHash (dd3) both miss.

    Scale shape (no pair expansion anywhere — corpus-linear). The
    position key is the 60-bit md5 of the gram (8-byte shuffle rows,
    not ~50-byte strings; oracles hash identically, so parity is
    exact even in the astronomically-unlikely collision case — both
    engines would merge the same two grams). Two strategies, both
    ending in the same interval-union tail:

    - ``grouped`` (default): ONE tokenize+hash pass — positions
      shuffle once on h, groups with ``>= min_count`` members explode
      their position arrays back out (dd17's grouped-array shape, but
      LINEAR in group size, not quadratic — a gram occurring d times
      buffers d structs). Measured 3.0 s → 1.6 s vs ``rescan`` at
      sf0.1 (the rescan's doubled regex+md5 work dominates).
    - ``rescan``: count pass prunes to the text column only, then the
      surviving hot-h set joins back against a second full
      tokenize+hash pass (broadcast when it fits, AQE skew-join when
      not). No per-group buffering at all — the fallback for corpora
      with GIANT boilerplate grams (a gram occurring ~1e9 times would
      buffer GBs in one ``grouped`` hash-agg group; here it costs
      nothing beyond its position rows).

    Interval-union tail, shared: flagged starts are sorted by the
    doc window, and because every interval has the same width n the
    interval ends are sorted too — so the union length is one pass of
    ``least(n, pos - lag(pos))`` (first row contributes n), never an
    exploded covered-position set. The window partitions by doc_id
    and the final groupBy reuses that exchange, so the doc-side cost
    is one shuffle of FLAGGED positions only (dup-free corpora
    shuffle almost nothing).
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        "doc_id", tokens(F.col(text_col)).alias("tk")
    ).withColumn("n_tokens", F.size("tk"))
    positions = pos_exploded(
        toks, ["doc_id", "n_tokens"], ngrams(F.col("tk"), n), "pos", "g"
    ).select("doc_id", "n_tokens", "pos", _token_hash60(F.col("g")).alias("h"))
    if strategy == "grouped":
        grouped = (
            positions.groupBy("h")
            .agg(
                F.collect_list(
                    F.struct("doc_id", "n_tokens", "pos")
                ).alias("ps")
            )
            .filter(F.size("ps") >= min_count)
        )
        flagged = exploded(grouped, [], F.col("ps"), "p").select(
            "p.doc_id", "p.n_tokens", "p.pos"
        )
    elif strategy == "rescan":
        hot = (
            positions.groupBy("h")
            .agg(F.count("*").alias("_c"))
            .filter(F.col("_c") >= min_count)
            .select("h")
        )
        flagged = positions.join(hot, "h").select(
            "doc_id", "n_tokens", "pos"
        )
    else:
        raise ValueError(
            f"strategy must be 'grouped' or 'rescan', got {strategy!r}"
        )
    w = Window.partitionBy("doc_id").orderBy("pos")
    contrib = flagged.withColumn(
        "_add",
        F.least(F.lit(n).cast("bigint"), F.col("pos") - F.lag("pos").over(w)),
    )
    return (
        contrib.groupBy("doc_id", "n_tokens")
        .agg(
            F.count("*").alias("n_flagged"),
            F.sum(F.coalesce(F.col("_add"), F.lit(n).cast("bigint"))).alias(
                "covered"
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_flagged",
            "covered",
            (F.col("covered").cast("double") / F.col("n_tokens")).alias(
                "coverage"
            ),
        )
    )


def dup_cluster_keepers(
    docs: DataFrame,
    text_col: str = "text",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The dedup pipeline's DECISION stage: for every near-dup
    cluster (MinHash-LSH pairs → connected components), elect the
    member to keep — highest quality_score, doc_id as the
    deterministic tie-break (exact copies score identically, so the
    tie-break does the work there; near-copies differ and quality
    wins). Returns one row per cluster:
    (cluster_id, n_members, keeper_id, keeper_quality, n_dropped) —
    the corpus-shrink plan a pipeline applies as an anti-join of
    non-keepers.

    Scale shape: clustering is dup_clusters' TWO-STAR path (banded
    LSH star edges → large-star/small-star components; switched from
    min-label propagation after the r12 50× sweep caught the
    diameter cap silently mislabeling — the decision stage must be
    diameter-proof because it runs on exactly the corpora whose
    cluster shapes degrade); components are identical by contract
    (both close over the band-sharing relation, oracle-pinned). The
    cluster frame holds ONLY pair-involved docs (dup-free corpora
    contribute nothing), and joins doc-keyed against the quality
    projection. The elect step is one window + one groupBy on
    cluster_id — same key, so Catalyst plans a single exchange for
    both.
    """
    from pyspark.sql.window import Window

    from trello_github_etl_spark.operators.textstats import (
        quality_score_of,
        tokens,
    )

    clusters = dup_clusters(docs, text_col, checkpoint_dir=checkpoint_dir)
    # shared token projection: quality_score tokenizes twice
    # internally (SCALE.md lesson 38)
    qual = docs.select(
        "doc_id", tokens(F.col(text_col)).alias("_tk"), text_col
    ).select(
        "doc_id", quality_score_of(F.col("_tk"), F.col(text_col)).alias("q")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("q").desc(), F.col("doc_id").asc()
    )
    ranked = clusters.join(qual, "doc_id").withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
                "keeper_id"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("q"))).alias(
                "keeper_quality"
            ),
        )
        .withColumn("n_dropped", F.col("n_members") - 1)
    )


def incremental_near_dedup(
    new_batch: DataFrame,
    corpus_bands: DataFrame,
    text_col: str = "text",
    num_hashes: int = NUM_MINHASHES,
    bands: int = LSH_BANDS,
    batch_bands: DataFrame | None = None,
) -> DataFrame:
    """Continuous-crawl NEAR-dup dedup (incremental_dedup's MinHash
    sibling): classify each NEW doc against the corpus's LSH
    band-bucket state and against its own batch, without ever
    re-reading corpus text.

    ``corpus_bands`` carries one column ``band_key`` — the banding
    state a growing corpus maintains (``bands`` short strings per
    kept doc, written by this operator's own keeper set via
    lsh_band_keys, so batch and stream probe one scheme). Returns
    (doc_id, verdict) for every batch doc, verdict ∈ {'kept',
    'dup_existing_near', 'dup_batch_near', 'no_signature'}:
    corpus-state hit wins, then min-doc_id keeper within each batch
    band bucket, then kept; docs with no shingles (too short / NULL
    text) have no signature and are flagged, never admitted (the
    NULL-fp contract of incremental_dedup — 'kept' would re-admit
    one per batch forever).

    Recall note: within a batch, the min-id keeper of a bucket may
    itself be dropped as dup_existing_near; its batch-mates still
    drop as dup_batch_near — conservative in the direction dedup
    wants (a doc near-colliding with a near-dup of the corpus is
    itself suspect). A pipeline wanting second chances re-feeds
    dropped docs as a later batch against the grown state.

    Scale shape: signatures are computed for the BATCH only; the
    state probe is a band_key equi-join (md5-uniform key — AQE
    broadcasts small states, shuffle-joins big ones) and the
    within-batch keeper is a window over the same band_key, so the
    batch's banded rows shuffle once and the exchange serves both.
    Day-N cost is O(batch + |corpus band keys|).

    ``batch_bands`` (optional): precomputed ``lsh_band_keys`` output
    for ``new_batch``. Callers that need the keys AGAIN after
    classifying — the streaming loop commits the kept docs' keys to
    state — pass a pinned (localCheckpoint) frame here so the
    signature pipeline (the dominant per-batch cost) runs once, not
    once per consumer (r5 code review).
    """
    from pyspark.sql.window import Window

    if batch_bands is None:
        batch_bands = lsh_band_keys(new_batch, text_col, num_hashes, bands)
    state = corpus_bands.select("band_key").distinct().withColumn(
        "_hit", F.lit(1)
    )
    w = Window.partitionBy("band_key")
    probed = (
        batch_bands.join(state, "band_key", "left")
        .withColumn("_bmin", F.min("doc_id").over(w))
    )
    per_doc = probed.groupBy("doc_id").agg(
        F.max("_hit").alias("_hit"), F.min("_bmin").alias("_peer_min")
    )
    verdict = (
        F.when(F.col("_hit") == 1, F.lit("dup_existing_near"))
        .when(F.col("_peer_min") < F.col("doc_id"), F.lit("dup_batch_near"))
        .otherwise(F.lit("kept"))
    )
    classified = per_doc.select("doc_id", verdict.alias("verdict"))
    return (
        new_batch.select("doc_id")
        .join(classified, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.col("verdict"), F.lit("no_signature")
            ).alias("verdict"),
        )
    )
