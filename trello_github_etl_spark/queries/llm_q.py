"""Driver-checkable LLM-data-pipeline queries: text analysis, dedup,
similarity search (BASELINE.json north star).

Every hash is md5-derived so the DuckDB oracles are exact replicas —
including MinHash signatures, LSH buckets, SimHash bits, and cosine
scores (strict left-fold double arithmetic on both engines).

Dedup corpora are augmented deterministically on BOTH sides: exact
copies (doc_id+DOC_SHIFT) and near-copies with one appended token
(doc_id+2*DOC_SHIFT), so duplicate pairs exist to find.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trello_github_etl_spark.functions import urls
from trello_github_etl_spark.io import load_table
from trello_github_etl_spark.operators import (
    classifier,
    dedup,
    similarity,
    textstats,
)
from trello_github_etl_spark.operators.gen import exploded
from trello_github_etl_spark.operators.parallel import ensure_parallelism
from trello_github_etl_spark.registry import query

# ---------------------------------------------------------------------------
# shared SQL fragments (keep in sync with operators/textstats.py)
# ---------------------------------------------------------------------------
SQL_TOKENS = "regexp_extract_all(lower({t}), '[A-Za-z0-9'']+')"
SQL_STOPLIST = "[" + ", ".join(f"'{s}'" for s in textstats.STOPWORDS) + "]"
SQL_SHINGLES3 = (
    "list_distinct(list_transform("
    "range(1, greatest(len({toks})-2, 0)+1),"
    " i -> array_to_string(list_slice({toks}, i, i+2), ' ')))"
)
# first 60 bits of md5 as BIGINT (operators/dedup._token_hash60 twin)
SQL_H60 = "CAST(TRY_CAST('0x' || substr(md5({x}), 1, 15) AS UBIGINT) AS BIGINT)"

# Planted-fixture id namespace for DOCUMENT corpora. 10M clears any
# synthetic corpus this repo generates (sf5's doc_ids reach 250k; the
# old +100000 collided there — 3,000 duplicate doc_ids whose shingle
# sets silently MERGED in every group-by-doc_id path while per-row
# paths kept them apart, found by the r12 sf5 oracle sweep, the exact
# cross-scale interference class VERDICT r11 #2 predicted). Shifts
# are multiples of DOC_SHIFT so planted namespaces stay disjoint; all
# shifts are EVEN, preserving the doc_id-parity arguments (dd12).
# Embedding plantings stay at +100000/+200000/…: vec_ids top out at
# 99,999 at sf5 — the boundary is documented in tools/make_sfN.py.
DOC_SHIFT = 10_000_000

SQL_AUGMENTED_DOCS = f"""
    SELECT doc_id, text, lang FROM documents
    UNION ALL
    SELECT doc_id + {DOC_SHIFT}, text, lang FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + {2 * DOC_SHIFT}, text || ' extraword', lang FROM documents WHERE doc_id % 7 = 0
"""


def _augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    exact = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + DOC_SHIFT).alias("doc_id"), "text", "lang"
    )
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2 * DOC_SHIFT).alias("doc_id"),
        F.concat("text", F.lit(" extraword")).alias("text"),
        "lang",
    )
    return docs.unionByName(exact).unionByName(near)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@query(
    "t1_token_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk, text FROM documents
    )
    SELECT
      doc_id,
      len(tk) AS n_tokens,
      CASE WHEN len(tk) = 0 THEN 0.0
           ELSE CAST(list_reduce(list_transform(tk, x -> length(x)), (a,b) -> a+b) AS DOUBLE) / len(tk)
      END AS mean_token_len,
      CASE WHEN len(tk) = 0 THEN 0.0
           ELSE CAST(len(list_filter(tk, x -> list_contains({SQL_STOPLIST}, x))) AS DOUBLE) / len(tk)
      END AS stop_ratio,
      CASE WHEN length(text) = 0 THEN 0.0
           ELSE CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / length(text)
      END AS punct_ratio
    FROM toks
    """,
)
def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize ONCE into a materialized projection: composing the four
    # stats side-by-side re-runs the regexp token scan per stat (the
    # HOF-bearing projection gets no codegen subexpression
    # elimination) — measured at sf1: 1.88 s -> 1.13 s (SCALE.md
    # lesson 38). Values are bit-identical; only the plan changes.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    shared = docs.select(
        "doc_id", textstats.tokens(F.col("text")).alias("_tk"), "text"
    )
    tk = F.col("_tk")
    return shared.select(
        "doc_id",
        textstats.token_count_of(tk).alias("n_tokens"),
        textstats.mean_token_length_of(tk).alias("mean_token_len"),
        textstats.stopword_ratio_of(tk).alias("stop_ratio"),
        textstats.punct_ratio(F.col("text")).alias("punct_ratio"),
    )


# textstats.detect_language's EXACT predicate over a ``tk`` token
# array — ONE home for the lang-id SQL, spliced by t2's oracle and
# pipe12's composition (the _SQL_QUALITY_CTES discipline).
_SQL_LANG_CASE = (
    "CASE WHEN len(tk) > 0 AND CAST(len(list_filter(tk, x -> "
    f"list_contains({SQL_STOPLIST}, x))) AS DOUBLE) / len(tk) > "
    f"{textstats.EN_STOPWORD_RATIO_THRESHOLD} THEN 'en' "
    "ELSE 'other' END"
)


@query(
    "t2_language_id",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {SQL_TOKENS.format(t='text')} AS tk FROM documents
    ),
    pred AS (
      SELECT doc_id, lang, {_SQL_LANG_CASE} AS pred_lang
      FROM toks
    )
    SELECT doc_id, pred_lang, (pred_lang = 'en') = (lang = 'en') AS agrees
    FROM pred
    """,
)
def t2_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    pred = textstats.detect_language(F.col("text"))
    return docs.select(
        "doc_id",
        pred.alias("pred_lang"),
        ((pred == "en") == (F.col("lang") == "en")).alias("agrees"),
    )


def _sql_quality_ctes(src: str) -> str:
    """CTE chain computing textstats.quality_score's EXACT formula
    over ``src`` (any relation exposing doc_id, text), ending in
    ``qual (doc_id, q)``. ONE source of the quality SQL — t3's oracle
    and dd22's keeper oracle both splice this, so a formula tweak
    cannot silently fork them (r5 code review)."""
    return f"""
    qtoks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS qtk, text FROM {src}
    ),
    qparts AS (
      SELECT doc_id,
        CASE WHEN len(qtk) = 0 THEN 0.0
             ELSE CAST(len(list_filter(qtk, x -> list_contains({SQL_STOPLIST}, x))) AS DOUBLE) / len(qtk)
        END AS stop_ratio,
        CASE WHEN len(qtk) = 0 THEN 0.0
             ELSE CAST(list_reduce(list_transform(qtk, x -> length(x)), (a,b) -> a+b) AS DOUBLE) / len(qtk)
        END / 10.0 AS len_term,
        CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / length(text)
        END AS punct_ratio
      FROM qtoks
    ),
    qual AS (
      SELECT doc_id,
        0.4 * stop_ratio
        + 0.4 * (CASE WHEN len_term > 1.0 THEN 1.0 ELSE len_term END)
        + 0.2 * (1.0 - punct_ratio) AS q
      FROM qparts
    )"""


@query(
    "t3_quality_scores",
    oracle=f"""
    WITH {_sql_quality_ctes('documents')}
    SELECT doc_id, q AS quality FROM qual
    """,
)
def t3_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared token projection: quality_score tokenizes twice
    # internally (mean + stopword) — see t1 / SCALE.md lesson 38
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", textstats.tokens(F.col("text")).alias("_tk"), "text"
    ).select(
        "doc_id",
        textstats.quality_score_of(F.col("_tk"), F.col("text")).alias(
            "quality"
        ),
    )


@query(
    "t4_fingerprints",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS canon,
             regexp_extract_all(lower(text), '[A-Za-z0-9'']+') AS tk
      FROM documents
    )
    SELECT doc_id,
      md5(canon) AS fp,
      list_min(list_transform(
        list_distinct(list_transform(
          range(1, greatest(len(tk)-4, 0)+1),
          i -> array_to_string(list_slice(tk, i, i+4), ' '))),
        s -> md5(s))) AS winnow_fp
    FROM norm
    """,
)
def t4_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        textstats.fingerprint(F.col("text")).alias("fp"),
        textstats.winnow_fingerprint(F.col("text")).alias("winnow_fp"),
    )


@query(
    "t8_repetition_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk FROM documents
    ),
    grams AS (
      SELECT doc_id, tk,
        list_transform(range(1, greatest(len(tk)-1, 0)+1),
                       i -> array_to_string(list_slice(tk, i, i+1), ' ')) AS g2,
        list_transform(range(1, greatest(len(tk)-2, 0)+1),
                       i -> array_to_string(list_slice(tk, i, i+2), ' ')) AS g3
      FROM toks
    )
    SELECT doc_id,
      len(tk) AS n_tokens,
      CASE WHEN len(tk) = 0 THEN 0.0
           ELSE CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
      END AS unique_word_ratio,
      CASE WHEN len(g2) = 0 THEN 0.0
           ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
      END AS dup_2gram_ratio,
      CASE WHEN len(g3) = 0 THEN 0.0
           ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
      END AS dup_3gram_ratio,
      CASE WHEN len(tk) = 0 THEN 0.0
           ELSE CAST(list_max(list_transform(list_distinct(tk),
                w -> len(list_filter(tk, x -> x = w)))) AS DOUBLE) / len(tk)
      END AS top_word_ratio
    FROM grams
    """,
)
def t8_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021
    §A1.1 quality heuristics): type-token ratio, duplicate 2/3-gram
    fractions, top-word concentration. All-native HOFs over ONE
    materialized token array — no UDF, no shuffle; scales as pure
    per-row CPU in the scan task."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tk = F.col("tk")
    with_g = (
        docs.withColumn("tk", textstats.tokens(F.col("text")))
        .withColumn("g2", textstats.ngrams(tk, 2))
        .withColumn("g3", textstats.ngrams(tk, 3))
    )
    return with_g.select(
        "doc_id",
        F.size(tk).alias("n_tokens"),
        textstats.unique_fraction(tk).alias("unique_word_ratio"),
        textstats.duplicate_fraction(F.col("g2")).alias("dup_2gram_ratio"),
        textstats.duplicate_fraction(F.col("g3")).alias("dup_3gram_ratio"),
        textstats.top_element_ratio(tk).alias("top_word_ratio"),
    )


@query(
    "t8a_top_word_adaptive",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk FROM documents
    )
    SELECT doc_id,
      CASE WHEN len(tk) = 0 THEN 0.0
           ELSE CAST(list_max(list_transform(list_distinct(tk),
                w -> len(list_filter(tk, x -> x = w)))) AS DOUBLE) / len(tk)
      END AS top_element_ratio
    FROM toks
    """,
)
def t8a_top_word_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-adaptive top-word concentration (SCALE.md lesson 16
    promoted to the default entry point): per-row HOF below the
    token threshold, explode+regroup above it, one corpus scan
    total. Threshold 64 sits mid-distribution for this testdata
    (~70-token docs) so the gate exercises BOTH paths; production
    default is textstats.TOP_RATIO_ADAPTIVE_THRESHOLD, under the
    measured 10x crossover. Values are path-invariant, so one oracle
    expression checks both."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return textstats.top_element_ratio_adaptive(
        docs.select("doc_id", textstats.tokens(F.col("text")).alias("tk")),
        "doc_id",
        "tk",
        threshold=64,
    )


@query(
    "t9_collapse_repeats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk FROM documents
    ),
    coll AS (
      SELECT doc_id, tk,
             list_filter(tk, (x, i) -> i = 1 OR x != tk[i-1]) AS kept
      FROM toks
    )
    SELECT doc_id, len(tk) AS n_tokens, len(kept) AS n_after,
           array_to_string(kept, ' ') AS collapsed
    FROM coll
    """,
)
def t9_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition removal as a transform: collapse runs of identical
    adjacent tokens and re-render the doc. Index-lambda filter (0-based
    in Spark, 1-based in the DuckDB oracle — both pinned here)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tk, kept = F.col("tk"), F.col("kept")
    return (
        docs.withColumn("tk", textstats.tokens(F.col("text")))
        .withColumn("kept", textstats.collapse_adjacent_repeats(tk))
        .select(
            "doc_id",
            F.size(tk).alias("n_tokens"),
            F.size(kept).alias("n_after"),
            F.concat_ws(" ", kept).alias("collapsed"),
        )
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------
@query(
    "dd1_exact_dups",
    oracle=f"""
    WITH docs AS ({SQL_AUGMENTED_DOCS}),
    fps AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM docs
    )
    SELECT fp, COUNT(*) AS n_dups, MIN(doc_id) AS keeper_id,
           array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
    FROM fps WHERE fp IS NOT NULL GROUP BY fp HAVING COUNT(*) > 1
    """,
)
def dd1_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # doc_ids serialized to a csv string: the driver's canonicalizer
    # hashes scalar columns only (pandas sort_values chokes on lists).
    return dedup.exact_duplicates(_augmented_docs(spark, sf_dir)).withColumn(
        "doc_ids",
        F.array_join(
            F.transform("doc_ids", lambda x: x.cast("string")), ","
        ),
    )


@query(
    "dd2_minhash_signatures",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk FROM documents
    ),
    sh AS (
      SELECT doc_id, {SQL_SHINGLES3.format(toks='tk')} AS s FROM toks
    )
    SELECT doc_id,
      array_to_string([{', '.join("list_min(list_transform(s, x -> " + SQL_H60.format(x=f"'{i}|' || x") + "))" for i in range(dedup.NUM_MINHASHES))}], ',') AS sig
    FROM sh
    WHERE len(s) > 0
    """,
)
def dd2_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sig serialized to csv (bigints render identically on both
    # engines) so the driver canonicalizer can sort/hash the column.
    return dedup.minhash_signatures(
        load_table(spark, sf_dir, "documents")
    ).withColumn(
        "sig",
        F.array_join(F.transform("sig", lambda x: x.cast("string")), ","),
    )


@query(
    "dd3_minhash_lsh_pairs",
    oracle=None,  # assigned below from the shared chain
)
def dd3_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_augmented_docs(spark, sf_dir))


# The LSH candidate-pair chain, shared by dd3/dd11/dd19 (pair
# consumers), dd25 (star edges) and dd16 (PageRank). ``max_band_df``
# replays minhash_lsh_pairs' band-df cap: band groups above the cap
# are dropped BEFORE pair expansion (the r7 giant-family lever).
def _lsh_pairs_chain(max_band_df: int | None = None) -> str:
    pair_src = "banded"
    capped = ""
    if max_band_df is not None:
        pair_src = "banded_capped"
        capped = f""",
    banded_capped AS (
      SELECT doc_id, band, k1, k2 FROM (
        SELECT b.*, COUNT(*) OVER (PARTITION BY band, k1, k2) AS bdf
        FROM banded b
      ) WHERE bdf <= {max_band_df}
    )"""
    return f"""docs AS ({SQL_AUGMENTED_DOCS}),
    toks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk FROM docs
    ),
    sh AS (
      SELECT doc_id, {SQL_SHINGLES3.format(toks='tk')} AS s FROM toks
    ),
    sig AS (
      SELECT doc_id,
        [{', '.join("list_min(list_transform(s, x -> " + SQL_H60.format(x=f"'{i}|' || x") + "))" for i in range(dedup.NUM_MINHASHES))}] AS g
      FROM sh WHERE len(s) > 0
    ),
    banded AS (
      SELECT doc_id, b.band,
             g[b.band*2 + 1] AS k1, g[b.band*2 + 2] AS k2
      FROM sig, (VALUES (0), (1), (2), (3)) b(band)
    ){capped},
    cand_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM {pair_src} a JOIN {pair_src} b
        ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       AND a.doc_id < b.doc_id
    )"""


_LSH_PAIRS_CHAIN = _lsh_pairs_chain()

from trello_github_etl_spark import registry as _registry  # noqa: E402

_registry.ORACLES["dd3_minhash_lsh_pairs"] = (
    "WITH " + _LSH_PAIRS_CHAIN + "\n    SELECT doc_a, doc_b FROM cand_pairs"
)


@query("dd25_lsh_star_edges", oracle=None)  # assigned below, shared chain
def dd25_lsh_star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd3's candidate relation as STAR edges (r7 skew stress,
    SCALE.md lesson 35): per LSH band group, one edge from the
    group's min-doc_id hub to each other member — O(d) per d-member
    group where dd3's pair list is O(d²), with identical connected
    components (dup_clusters/dd6/dd22 route through this;
    measured against a 10k-member dup family: 10,031 edges vs
    49,995,240 pairs, SKEW_sf1.json)."""
    return dedup.lsh_candidate_edges(_augmented_docs(spark, sf_dir))


_registry.ORACLES["dd25_lsh_star_edges"] = (
    "WITH " + _LSH_PAIRS_CHAIN + """,
    hubs AS (
      SELECT band, k1, k2, MIN(doc_id) AS doc_a
      FROM banded GROUP BY band, k1, k2
    )
    SELECT DISTINCT h.doc_a, b.doc_id AS doc_b
    FROM banded b JOIN hubs h USING (band, k1, k2)
    WHERE b.doc_id <> h.doc_a
    """
)


# Low enough to BITE on the driver corpora (augmented-docs band
# groups reach df 5-6 at every scale; dd16's 20 never triggers
# there), so the gate exercises the drop-before-expansion path with
# a result that genuinely differs from dd3's.
PAIR_LIST_BAND_DF = 3


@query(
    "dd27_lsh_pairs_capped",
    oracle="WITH " + _lsh_pairs_chain(PAIR_LIST_BAND_DF)
    + "\n    SELECT doc_a, doc_b FROM cand_pairs",
)
def dd27_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd3's pair list under the band-df cap (r7 VERDICT #2): band
    groups with document frequency above the cap are dropped BEFORE
    pair expansion, bounding a d-member dup family's contribution at
    O(cap²) instead of O(d²) — the pair-LIST lever for giant
    families, complementing dd25's star edges (connectivity
    consumers) and dd26's block salting (the cell path). This
    registers the `max_band_df` code path end-to-end so the driver
    gates it every round; the capped subtree is pinned once via
    persist (three consumers share the signature pipeline, see
    minhash_lsh_pairs)."""
    return dedup.minhash_lsh_pairs(
        _augmented_docs(spark, sf_dir), max_band_df=PAIR_LIST_BAND_DF
    )


_SQL_SPLIT_OF = (
    "CASE WHEN " + SQL_H60.format(x="'split|' || CAST({d} AS VARCHAR)")
    + " % 100 < 80 THEN 'train' WHEN "
    + SQL_H60.format(x="'split|' || CAST({d} AS VARCHAR)")
    + " % 100 < 90 THEN 'val' ELSE 'test' END"
)

_registry.ORACLES["dd19_near_dup_split_leakage"] = (
    "WITH " + _LSH_PAIRS_CHAIN + f"""
    SELECT doc_a, doc_b,
           {_SQL_SPLIT_OF.format(d='doc_a')} AS split_a,
           {_SQL_SPLIT_OF.format(d='doc_b')} AS split_b
    FROM cand_pairs
    WHERE {_SQL_SPLIT_OF.format(d='doc_a')} <> {_SQL_SPLIT_OF.format(d='doc_b')}
    """
)


def _split_of(doc_col: F.Column) -> F.Column:
    """samp1's 80/10/10 split as a PURE function of the doc id — the
    property hash-splits exist for: any operator can recover a row's
    split from its key alone, no join against an assignment table.
    The hash is dedup._token_hash60 (the engine's one 60-bit md5
    convention) salted 'split|', matching _SQL_SPLIT_OF exactly."""
    b = (
        dedup._token_hash60(
            F.concat(F.lit("split|"), doc_col.cast("string"))
        )
        % 100
    )
    return (
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )


@query(
    "dd20_train_decontaminate",
    oracle=f"""
    WITH docs AS ({SQL_AUGMENTED_DOCS}),
    fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             {_SQL_SPLIT_OF.format(d='doc_id')} AS split
      FROM docs WHERE text IS NOT NULL
    ),
    eval_fps AS (
      SELECT fp,
             array_to_string(list_sort(list(DISTINCT split)), ',')
               AS eval_splits
      FROM fp WHERE split <> 'train' GROUP BY fp
    )
    SELECT t.doc_id, t.fp, e.eval_splits
    FROM fp t JOIN eval_fps e USING (fp)
    WHERE t.split = 'train'
    """,
)
def dd20_train_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd18's enforcement half: the train docs a leakage-safe
    pipeline must DROP because their exact content sits in val/test
    (eval stays pristine, train gives up its contaminated members).
    One eval-side fp aggregation + one equi-join; the eval side is
    ~20% of the corpus by split construction, so AQE broadcasts when
    it fits (see operators/dedup.split_decontaminate)."""
    docs = _augmented_docs(spark, sf_dir)
    return dedup.split_decontaminate(
        docs.withColumn("split", _split_of(F.col("doc_id")))
    )


@query("dd19_near_dup_split_leakage", oracle=None)  # assigned above
def dd19_near_dup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd18's NEAR-dup sibling: MinHash/LSH candidate pairs whose
    endpoints hash into different train/val/test splits — paraphrase-
    level contamination that exact fingerprints (dd18) cannot see
    (Lee et al. 2022 §5 measures eval inflation from exactly these).
    Because the split is a pure function of doc_id (_split_of), the
    audit decorates dd3's banded pair stream with two narrow column
    expressions and one filter — NO join against an assignment table,
    so its cost is dd3's cost at any corpus size."""
    pairs = dedup.minhash_lsh_pairs(_augmented_docs(spark, sf_dir))
    out = pairs.select(
        "doc_a",
        "doc_b",
        _split_of(F.col("doc_a")).alias("split_a"),
        _split_of(F.col("doc_b")).alias("split_b"),
    )
    return out.filter(F.col("split_a") != F.col("split_b"))


PAGERANK_BAND_DF = 20


@query(
    "dd16_pagerank_dup_graph",
    oracle="WITH RECURSIVE " + _lsh_pairs_chain(PAGERANK_BAND_DF) + """,
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM cand_pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM cand_pairs
    ),
    deg AS (SELECT v, COUNT(*) AS deg FROM edges GROUP BY v),
    pr AS (
      SELECT v AS node, CAST(1000000000 AS BIGINT) AS rank, 0 AS it
      FROM deg
      UNION ALL
      SELECT e.u, 150000000 + (85 * SUM(p.rank // d.deg)) // 100, p.it + 1
      FROM pr p
      JOIN edges e ON e.v = p.node
      JOIN deg d ON d.v = p.node
      WHERE p.it < 10
      GROUP BY e.u, p.it
    )
    SELECT node AS doc_id, rank AS pr_nano FROM pr WHERE it = 10
    """,
)
def dd16_pagerank_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash-LSH candidate graph
    (10 damped rounds on an integer nano-grid — no floats, so the
    DuckDB recursive CTE replays the exact trajectory): ranks the
    hub documents of near-dup families, the centrality alternative
    to min-id exemplar choice and the template-hub signal dd11's
    triangles approximate locally.

    Band-df capped (r7 skew stress / code review): PageRank's values
    need the true pair MULTISET, so the star-edge relation is not a
    drop-in — but feeding it uncapped pairs makes it the one O(d²)
    consumer on skewed corpora (a 10k-member family is 50M pairs,
    SKEW_sf1.json). The cap drops giant band groups pre-expansion on
    BOTH engines; on the driver corpora no group reaches 20 docs, so
    the capped results are identical to the historical uncapped ones
    (three-scale re-verified)."""
    pairs = dedup.minhash_lsh_pairs(
        _augmented_docs(spark, sf_dir), max_band_df=PAGERANK_BAND_DF
    )
    return dedup.pagerank(pairs)


def _simhash_chain(src: str, bits: int = dedup.SIMHASH_BITS) -> str:
    """CTE chain ending in sigt(doc_id, simhash), over source ``src``
    (dd4 signs the plain corpus at 32 bits; dd17 the augmented one at
    the full 60-bit hash width — 32 bits collides massively on this
    vocab-uniform corpus, 1890 Hamming-0 pairs at sf0.01)."""
    votes = ",\n      ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    return f"""toks AS (
      SELECT doc_id, unnest(list_distinct({SQL_TOKENS.format(t='text')})) AS tok
      FROM {src}
    ),
    hashed AS (
      SELECT doc_id, TRY_CAST('0x' || substr(md5(tok), 1, 15) AS UBIGINT) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id,
      {votes}
      FROM hashed GROUP BY doc_id
    ),
    sigt AS (SELECT doc_id, {sig} AS simhash FROM votes)"""


@query(
    "dd4_simhash",
    oracle="WITH "
    + _simhash_chain("documents")
    + "\n    SELECT doc_id, simhash FROM sigt",
)
def dd4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load_table(spark, sf_dir, "documents"))


def _sql_hamming_tail(src: str, id_col: str, sig_col: str) -> str:
    """Banding + df-cap + popcount tail shared by every Hamming-ball
    oracle (dd17 SimHash, mm5 aHash) — parameters come from the SAME
    dedup-module constants the engine defaults use, so tuning the
    operator cannot silently desync an oracle."""
    w = dedup.HAMMING_SIG_BITS // dedup.HAMMING_BANDS
    mask = (1 << w) - 1
    vals = ", ".join(f"({b})" for b in range(dedup.HAMMING_BANDS))
    return f""",
    banded0 AS (
      SELECT {id_col}, {sig_col} AS _sig, b.band,
             ({sig_col} >> (b.band * {w})) & {mask} AS key
      FROM {src}, (VALUES {vals}) b(band)
    ),
    rare AS (
      SELECT band, key FROM banded0 GROUP BY band, key
      HAVING COUNT(*) <= {dedup.HAMMING_BAND_DF}
    ),
    banded AS (
      SELECT b0.* FROM banded0 b0 JOIN rare USING (band, key)
    ),
    cand AS (
      SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
             a._sig AS sa, b._sig AS sb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.{id_col} < b.{id_col}
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {dedup.HAMMING_MAX_DIST}
    """


@query(
    "dd17_simhash_hamming_pairs",
    oracle=f"""
    WITH docs AS ({SQL_AUGMENTED_DOCS}),
    """
    + _simhash_chain("docs", dedup.HAMMING_SIG_BITS)
    + _sql_hamming_tail("sigt", "doc_id", "simhash"),
)
def dd17_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dup pairs (Manku et al., WWW'07 —
    the Google web-dedup algorithm): 4 15-bit signature bands as
    candidate keys (pigeonhole ⇒ recall 1.0 inside Hamming ≤ 3),
    exact popcount verify, at the full 60-bit hash width (the dd4
    default of 32 bits yields 1890 Hamming-0 collisions on this
    vocab-uniform corpus — signature width is the precision knob).
    Pure integer band keys and popcounts — no HOF folds anywhere —
    so the whole pair stage is codegen'd; complements dd3
    (MinHash≈Jaccard) with the bit-signature family over the same
    augmented corpus.  Registered WITH the band-df cap engaged
    (max_band_df=20): uncapped, this corpus's signature buckets
    concentrate until the ≤3 ball holds 41M pairs at sf1 — the cap
    is what makes a pair-emitting contract survive scale (see the
    operator docstring's measured numbers)."""
    return dedup.simhash_hamming_pairs(
        _augmented_docs(spark, sf_dir),
        bits=dedup.HAMMING_SIG_BITS,
        max_band_df=dedup.HAMMING_BAND_DF,
    )


@query(
    "dd5_jaccard_pairs",
    oracle=f"""
    WITH docs AS ({SQL_AUGMENTED_DOCS}),
    toks AS (
      SELECT doc_id, lang, {SQL_TOKENS.format(t='text')} AS tk FROM docs
    ),
    sh AS (
      SELECT doc_id, lang, unnest({SQL_SHINGLES3.format(toks='tk')}) AS shingle
      FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
    """,
)
def dd5_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_pairs(_augmented_docs(spark, sf_dir))


@query(
    "dd18_split_leakage",
    oracle=f"""
    WITH docs AS ({SQL_AUGMENTED_DOCS}),
    fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             {SQL_H60.format(x="'split|' || CAST(doc_id AS VARCHAR)")} % 100
               AS b
      FROM docs WHERE text IS NOT NULL
    ),
    s AS (
      SELECT fp, doc_id,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      FROM fp
    )
    SELECT fp, COUNT(*) AS n_docs,
           COUNT(DISTINCT split) AS n_splits,
           array_to_string(list_sort(list(DISTINCT split)), ',') AS splits,
           MIN(doc_id) AS keeper_id,
           COUNT(CASE WHEN split = 'train' THEN 1 END) AS n_train,
           COUNT(CASE WHEN split <> 'train' THEN 1 END) AS n_eval
    FROM s GROUP BY fp
    HAVING COUNT(DISTINCT split) > 1
    """,
)
def dd18_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: exact-dup groups spanning more
    than one of samp1's deterministic 80/10/10 hash splits, over the
    planted-duplicate corpus (every doc_id%5 doc has a byte-identical
    copy whose id hashes to an independent split — the leak the audit
    must catch). One fp-keyed hash-agg, no pair expansion: the audit
    costs a groupBy at any corpus size, which is why it belongs in
    the standing pipeline rather than a one-off notebook. n_eval
    counts the contaminated val/test members per group."""
    docs = _augmented_docs(spark, sf_dir)
    return dedup.split_leakage(
        docs.withColumn("split", _split_of(F.col("doc_id")))
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
SQL_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
)


def _sql_cosine(a: str, b: str) -> str:
    # zero-vector cosine is DEFINED as 0.0, mirroring
    # similarity.cosine_prenormed's guard (NaN would rank first under
    # both engines' NaN-is-greatest ordering)
    denom = (
        f"(sqrt({SQL_DOT.format(a=a, b=a)}) * sqrt({SQL_DOT.format(a=b, b=b)}))"
    )
    return (
        f"CASE WHEN {denom} > 0 THEN {SQL_DOT.format(a=a, b=b)} / {denom}"
        " ELSE 0.0 END"
    )


@query(
    "s1_cosine_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 100 = 0
    ),
    scored AS (
      SELECT q.q_id, t.vec_id,
             {_sql_cosine('q.q_vec', 't.embedding')} AS cos
      FROM embeddings t, q
    ),
    ranked AS (
      SELECT q_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 5
    """,
)
def s1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return similarity.brute_force_topk(qs, emb.select("vec_id", "embedding"))


def _sql_lsh_bucket(vec: str) -> str:
    planes = similarity._plane_weights()
    bits = []
    for p in range(similarity.NUM_PLANES):
        w = "[" + ", ".join(f"{float(x)}" for x in planes[p]) + "]::DOUBLE[]"
        proj = (
            f"list_reduce(list_transform(list_zip({vec}, {w}),"
            " p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)"
        )
        bits.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


@query(
    "s2_lsh_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec,
             {_sql_lsh_bucket('embedding')} AS bucket
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    t AS (
      SELECT vec_id, embedding, {_sql_lsh_bucket('embedding')} AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT q.q_id, t.vec_id, q.bucket,
             {_sql_cosine('q.q_vec', 't.embedding')} AS cos
      FROM t JOIN q ON t.bucket = q.bucket
    ),
    ranked AS (
      SELECT q_id, vec_id, bucket, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT q_id, vec_id, bucket, cos, rank FROM ranked WHERE rank <= 5
    """,
)
def s2_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return similarity.lsh_topk(qs, emb.select("vec_id", "embedding"))


@query(
    "s3_embedding_near_dups",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0
    ),
    b AS (
      SELECT vec_id, embedding, {_sql_lsh_bucket('embedding')} AS bucket FROM base
    )
    SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
           {_sql_cosine('x.embedding', 'y.embedding')} AS cos
    FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    WHERE {_sql_cosine('x.embedding', 'y.embedding')} >= 0.95
    """,
)
def s3_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return similarity.embedding_near_dup_pairs(emb.unionByName(dups))


# Bound on the dup-graph min-label eccentricity for the
# label-propagation oracle below. MEASURED, not guessed: the
# augmented sf1 corpus's band-collision graph (263k edges) converges
# after 15 rounds — random collisions chain into long sparse paths,
# so small diameters cannot be assumed (12 failed at sf1); the skew
# fixture's giant family is a band CLIQUE (diameter 1) and driver
# corpora chain orig -> +100000 -> +200000 (<= 2). 64 = 4x the
# worst observed, and with the graph MATERIALIZED each extra round
# costs ~20 ms at sf1 (all 15 measured rounds: 0.3 s). Convergence
# is still ASSERTED, not assumed — a breach empties the oracle
# result and fails the gate loudly on row count.
LP_ROUNDS = 64

# dd6's oracle (large-star/small-star in Spark) and the base of dd22's
# keepers oracle: every components algorithm produces the identical
# (doc_id, cluster_id=min reachable) labeling. The oracle replays
# bounded-round min-label propagation (new lbl(u) = min over u's
# closed neighborhood of previous lbls, via self-loop edges) rather
# than the r2-era transitive CLOSURE — closure materializes O(sum of
# component-size²) reach rows through a multi-round self-join, which
# is hours at sf1 and unusable on giant-family skew fixtures, while
# LP is O(LP_ROUNDS · |edges|) (r7 VERDICT #3). The final projection
# keeps rows only when round R == round R-1 (fixpoint), so a
# non-converged replay mismatches on ROW COUNT, never on values.
# MATERIALIZED is load-bearing twice over (measured at sf1): DuckDB
# 1.0 inlines plain CTEs, so (a) a non-materialized `edges` re-runs
# the whole 37.6 s minhash chain on EVERY recursive iteration, and
# (b) every downstream reference to the recursion (fin + prev + the
# fixpoint guard) re-runs the recursion itself — the keepers oracle
# cost 1,329 s that way vs seconds with pairs/edges/lp_all pinned.
_CLUSTERS_CTES = f"""
    WITH RECURSIVE docs AS ({SQL_AUGMENTED_DOCS}),
    toks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk FROM docs
    ),
    sh AS (
      SELECT doc_id, {SQL_SHINGLES3.format(toks='tk')} AS s FROM toks
    ),
    sig AS (
      SELECT doc_id,
        [{', '.join("list_min(list_transform(s, x -> " + SQL_H60.format(x=f"'{i}|' || x") + "))" for i in range(dedup.NUM_MINHASHES))}] AS g
      FROM sh WHERE len(s) > 0
    ),
    banded AS (
      SELECT doc_id, b.band,
             g[b.band*2 + 1] AS k1, g[b.band*2 + 2] AS k2
      FROM sig, (VALUES (0), (1), (2), (3)) b(band)
    ),
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       AND a.doc_id < b.doc_id
    ),
    edges AS MATERIALIZED (
      SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
      UNION ALL
      SELECT n, n FROM (SELECT u AS n FROM pairs UNION SELECT v FROM pairs)
    ),
    lp AS (
      SELECT n AS doc_id, n AS lbl, 0 AS it
      FROM (SELECT u AS n FROM pairs UNION SELECT v FROM pairs)
      UNION ALL
      SELECT e.v AS doc_id, MIN(l.lbl) AS lbl, l.it + 1 AS it
      FROM lp l JOIN edges e ON e.u = l.doc_id
      WHERE l.it < {LP_ROUNDS}
      GROUP BY e.v, l.it
    ),
    lp_all AS MATERIALIZED (
      SELECT doc_id, lbl, it FROM lp WHERE it >= {LP_ROUNDS - 1}
    ),
    lp_fin AS (SELECT doc_id, lbl FROM lp_all WHERE it = {LP_ROUNDS}),
    lp_prev AS (SELECT doc_id, lbl FROM lp_all WHERE it = {LP_ROUNDS - 1}),
    labels AS MATERIALIZED (
      SELECT f.doc_id, f.lbl AS cluster_id FROM lp_fin f
      WHERE (SELECT COUNT(*) FROM lp_fin x JOIN lp_prev p USING (doc_id)
             WHERE x.lbl <> p.lbl) = 0
    )"""

_CLUSTERS_ORACLE = f"""{_CLUSTERS_CTES}
    SELECT doc_id, cluster_id FROM labels
    """


_KEEPERS_ORACLE = f"""{_CLUSTERS_CTES},
    {_sql_quality_ctes('docs')},
    ranked AS (
      SELECT l.cluster_id, l.doc_id, qu.q,
             ROW_NUMBER() OVER (
               PARTITION BY l.cluster_id
               ORDER BY qu.q DESC, l.doc_id ASC) AS rn
      FROM labels l JOIN qual qu USING (doc_id)
    )
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS keeper_id,
           MAX(CASE WHEN rn = 1 THEN q END) AS keeper_quality,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM ranked GROUP BY cluster_id
    """


@query("dd22_dup_cluster_keepers", oracle=_KEEPERS_ORACLE)
def dd22_dup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION stage: elect the member to keep per
    near-dup cluster (quality argmax, doc_id tie-break) — the
    corpus-shrink plan downstream of clustering (dd6's two-star path
    since r12: the decision stage must be diameter-proof). Exact-copy
    clusters resolve by tie-break; near-copy clusters by quality.
    See operators/dedup.dup_cluster_keepers (window + groupBy share
    one cluster_id exchange; cluster frame holds only pair-involved
    docs)."""
    return dedup.dup_cluster_keepers(_augmented_docs(spark, sf_dir))


@query("dd6_dup_clusters", oracle=_CLUSTERS_ORACLE)
def dd6_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH star edges consolidated into duplicate clusters with the
    large-star/small-star algorithm (O(log² n) rounds independent of
    component diameter — the safe path once corpora grow giant
    boilerplate clusters). The oracle replays min-label propagation
    to its fixpoint, which pins algorithm equivalence."""
    return dedup.dup_clusters(_augmented_docs(spark, sf_dir))


@query(
    "dd10_incremental_dedup",
    oracle=f"""
    WITH corpus AS (
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    batch AS (
      SELECT doc_id + {DOC_SHIFT} AS doc_id, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + {3 * DOC_SHIFT}, text || ' fresh-content' FROM documents WHERE doc_id % 9 = 4
      UNION ALL
      SELECT doc_id + {4 * DOC_SHIFT}, text || ' fresh-content' FROM documents WHERE doc_id % 9 = 4
    ),
    fps AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM batch
    ),
    marked AS (
      SELECT f.doc_id, f.fp,
             EXISTS (SELECT 1 FROM corpus c WHERE c.fp = f.fp) AS hit,
             MIN(f.doc_id) OVER (PARTITION BY f.fp) AS min_id
      FROM fps f
    )
    SELECT doc_id, fp,
           CASE WHEN hit THEN 'dup_existing'
                WHEN doc_id != min_id THEN 'dup_batch'
                ELSE 'kept' END AS verdict
    FROM marked
    """,
)
def dd10_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N crawl dedup: a new batch (exact re-crawls of every %5
    doc, plus genuinely fresh %9==4 docs arriving twice) classified
    against the existing corpus's fingerprint state — corpus text is
    never re-read, only its 16-byte fps. One fp-keyed join + window
    (shared shuffle key); see dedup.incremental_dedup scale notes."""
    docs = load_table(spark, sf_dir, "documents")
    corpus_fps = docs.select(
        textstats.fingerprint(F.col("text")).alias("fp")
    )
    fresh = docs.filter(F.col("doc_id") % 9 == 4)
    batch = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select((F.col("doc_id") + DOC_SHIFT).alias("doc_id"), "text")
        .unionByName(
            fresh.select(
                (F.col("doc_id") + 3 * DOC_SHIFT).alias("doc_id"),
                F.concat("text", F.lit(" fresh-content")).alias("text"),
            )
        )
        .unionByName(
            fresh.select(
                (F.col("doc_id") + 4 * DOC_SHIFT).alias("doc_id"),
                F.concat("text", F.lit(" fresh-content")).alias("text"),
            )
        )
    )
    return dedup.incremental_dedup(ensure_parallelism(batch), corpus_fps)


@query(
    "t5_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_TOKENS.format(t='text')}) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf * (n.n_docs + 1) AS DOUBLE) / (df.df + 1) AS score
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, score, rnk FROM (
      SELECT doc_id, term, score,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def t5_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per doc by rational tf-idf: tf·(N+1)/(df+1).

    The rational form (exact integer numerator, one IEEE division)
    sidesteps ln()'s last-ulp variance across libm implementations —
    scores hash-match the oracle bit-for-bit. One token explode feeds
    both the tf and df aggregates; df joins back on the term key.

    N rides the plan as a broadcast 1-row aggregate (BroadcastNested-
    LoopJoin against a single row), not a driver-side ``count()`` —
    one job, no separate full scan per invocation (VERDICT r2 nit).
    """
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = exploded(docs, ["doc_id"], textstats.tokens(F.col("text")), "term")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                (F.col("tf") * (F.col("n_docs") + 1)).cast("double")
                / (F.col("df") + 1)
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "term", "score", "rnk")
    )


@query(
    "s5_multiprobe_lsh_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec,
             {_sql_lsh_bucket('embedding')} AS b
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    probes AS (
      SELECT q_id, q_vec,
        CASE WHEN p.p = 0 THEN b
             ELSE substr(b, 1, p.p - 1)
                  || (CASE WHEN substr(b, p.p, 1) = '1' THEN '0' ELSE '1' END)
                  || substr(b, p.p + 1)
        END AS bucket
      FROM q, (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8)) p(p)
    ),
    t AS (
      SELECT vec_id, embedding, {_sql_lsh_bucket('embedding')} AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT p.q_id, t.vec_id,
             {_sql_cosine('p.q_vec', 't.embedding')} AS cos
      FROM t JOIN probes p ON t.bucket = p.bucket
    )
    SELECT q_id, vec_id, cos, rank FROM (
      SELECT q_id, vec_id, cos,
             ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def s5_multiprobe_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: query probes its bucket + all 1-bit flips."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return similarity.multiprobe_lsh_topk(
        qs, emb.select("vec_id", "embedding")
    )


# Registered df-cap for dd7 — single-homed so the oracle, the Spark
# call site, and tools/skew_gate.py's cap-engagement receipt can
# never disagree (r10 ADVICE: the gate used to restate the literal).
DD7_MAX_SHINGLE_DF = 10


@query(
    "dd7_jaccard_df_capped",
    oracle=f"""
    WITH docs AS ({SQL_AUGMENTED_DOCS}),
    toks AS (
      SELECT doc_id, lang, {SQL_TOKENS.format(t='text')} AS tk FROM docs
    ),
    sh_all AS (
      SELECT doc_id, lang, unnest({SQL_SHINGLES3.format(toks='tk')}) AS shingle
      FROM toks
    ),
    rare AS (
      SELECT shingle FROM sh_all
      GROUP BY shingle HAVING COUNT(DISTINCT doc_id) <= {DD7_MAX_SHINGLE_DF}
    ),
    sh AS (
      SELECT sh_all.* FROM sh_all JOIN rare USING (shingle)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
    """,
)
def dd7_jaccard_df_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard dedup with the document-frequency cap engaged (the
    candidate-inflation mitigation for web-scale corpora); the oracle
    replicates the cap exactly, so results stay value-checked."""
    return dedup.jaccard_pairs(
        _augmented_docs(spark, sf_dir), max_shingle_df=DD7_MAX_SHINGLE_DF
    )


# ---------------------------------------------------------------------------
# Decontamination & PII redaction (pretraining-pipeline hygiene)
# ---------------------------------------------------------------------------
# Deterministic contamination fixture, identical on both sides: the
# "benchmark" is every doc with doc_id % 97 = 0; the corpus is the
# rest PLUS a near-verbatim copy of each benchmark doc (id+3*DOC_SHIFT,
# two appended tokens) — the planted leaks decontamination must catch.
SQL_DECON_BENCH = "SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0"
SQL_DECON_CORPUS = f"""
    SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
    UNION ALL
    SELECT doc_id + {3 * DOC_SHIFT}, text || ' tail tail' FROM ({SQL_DECON_BENCH})
"""


@query(
    "dd8_decontaminate",
    oracle=f"""
    WITH bench_docs AS ({SQL_DECON_BENCH}),
    corpus_docs AS ({SQL_DECON_CORPUS}),
    btoks AS (SELECT {SQL_TOKENS.format(t='text')} AS tk FROM bench_docs),
    bench AS (
      SELECT DISTINCT unnest({SQL_SHINGLES3.format(toks='tk')}) AS shingle
      FROM btoks
    ),
    ctoks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk FROM corpus_docs
    ),
    corpus AS (
      SELECT doc_id, unnest({SQL_SHINGLES3.format(toks='tk')}) AS shingle
      FROM ctoks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM corpus GROUP BY doc_id),
    hits AS (
      SELECT c.doc_id, COUNT(*) AS n_hit
      FROM corpus c JOIN bench b USING (shingle)
      GROUP BY c.doc_id
    )
    SELECT s.doc_id, s.n_sh, h.n_hit,
           CAST(h.n_hit AS DOUBLE) / s.n_sh AS overlap
    FROM sizes s JOIN hits h ON s.doc_id = h.doc_id
    WHERE CAST(h.n_hit AS DOUBLE) / s.n_sh >= 0.5
    """,
)
def dd8_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: the planted near-copies of the eval
    set (and any organically-overlapping doc) are flagged by shingle
    overlap ≥ 0.5. See operators/dedup.decontaminate for the scale
    shape (one explode → equi-join → per-doc count; no pair blowup)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0).unionByName(
        bench.select(
            (F.col("doc_id") + 3 * DOC_SHIFT).alias("doc_id"),
            F.concat("text", F.lit(" tail tail")).alias("text"),
        )
    )
    return dedup.decontaminate(corpus, bench, threshold=0.5)


@query(
    "dd21_repeated_ngram_coverage",
    oracle=f"""
    WITH docs AS ({SQL_AUGMENTED_DOCS}),
    toks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk FROM docs
    ),
    grams AS (
      SELECT doc_id, len(tk) AS n_tokens,
        list_transform(range(1, greatest(len(tk) - 7, 0) + 1),
          i -> {SQL_H60.format(x="array_to_string(list_slice(tk, i, i + 7), ' ')")}) AS hs
      FROM toks
    ),
    posh AS (
      SELECT doc_id, n_tokens, u.pos, u.h FROM (
        SELECT doc_id, n_tokens,
          unnest(list_transform(range(1, len(hs) + 1),
            i -> {{'pos': i - 1, 'h': hs[i]}})) AS u
        FROM grams
      )
    ),
    hot AS (SELECT h FROM posh GROUP BY h HAVING COUNT(*) >= 2),
    flagged AS (
      SELECT p.doc_id, p.n_tokens, p.pos FROM posh p JOIN hot USING (h)
    ),
    contrib AS (
      SELECT doc_id, n_tokens, pos,
        least(8, pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)) AS add0
      FROM flagged
    )
    SELECT doc_id, n_tokens, COUNT(*) AS n_flagged,
           CAST(SUM(COALESCE(add0, 8)) AS BIGINT) AS covered,
           CAST(SUM(COALESCE(add0, 8)) AS DOUBLE) / n_tokens AS coverage
    FROM contrib GROUP BY doc_id, n_tokens
    """,
)
def dd21_repeated_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup audit (Lee et al. 2022): per-doc fraction
    of token positions covered by word 8-grams that occur >= 2 times
    anywhere in the corpus. The planted exact copies (doc_id%5) drive
    their sources and twins to coverage 1.0; the near-copies (%7,
    one appended token) land just below; organically unique docs drop
    out. See operators/dedup.repeated_ngram_coverage for the scale
    shape (corpus-linear: posexplode -> 8-byte-hash count ->
    ReusedExchange join -> sorted-interval union; no pair expansion,
    no covered-position explode)."""
    return dedup.repeated_ngram_coverage(
        ensure_parallelism(_augmented_docs(spark, sf_dir))
    )


# PII patterns shared verbatim by java.util.regex and DuckDB's RE2:
# no lookarounds, no backrefs, char classes + bounded repeats only.
RE_EMAIL = r"[a-z0-9.]+@[a-z0-9.]+\.[a-z][a-z]+"
RE_PHONE = r"\d{3}-\d{4}"
# Deterministic PII fixture: every 11th doc gets one email + one
# phone appended, so redaction has real matches on both engines.
PII_TAIL = " contact alice@example.com or call 555-0142 now"


@query(
    "t7_pii_redaction",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
        CASE WHEN doc_id % 11 = 0 THEN text || '"""
    + PII_TAIL
    + """' ELSE text END AS text2
      FROM documents
    )
    SELECT doc_id,
      len(regexp_extract_all(text2, '"""
    + RE_EMAIL
    + """')) AS n_emails,
      len(regexp_extract_all(text2, '"""
    + RE_PHONE
    + """')) AS n_phones,
      md5(regexp_replace(regexp_replace(text2, '"""
    + RE_EMAIL
    + """', '<EMAIL>', 'g'), '"""
    + RE_PHONE
    + """', '<PHONE>', 'g')) AS red_fp
    FROM aug
    """,
)
def t7_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count and mask email/phone shapes. Pure
    per-row regex work — fuses into the scan stage, zero shuffles, so
    at 100 TB it rides along any other narrow pass for free. (Spark's
    regexp_replace is replace-all, matching the oracle's 'g' flag.)"""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    text2 = F.when(
        F.col("doc_id") % 11 == 0, F.concat("text", F.lit(PII_TAIL))
    ).otherwise(F.col("text"))
    red = F.regexp_replace(
        F.regexp_replace(text2, F.lit(RE_EMAIL), F.lit("<EMAIL>")),
        F.lit(RE_PHONE),
        F.lit("<PHONE>"),
    )
    return docs.select(
        "doc_id",
        F.regexp_count(text2, F.lit(RE_EMAIL)).alias("n_emails"),
        F.regexp_count(text2, F.lit(RE_PHONE)).alias("n_phones"),
        F.md5(red).alias("red_fp"),
    )


@query(
    "s7_int8_quantize",
    oracle="""
    WITH x AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xe
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, xe,
        CASE WHEN list_max(list_transform(xe, v -> abs(v))) > 0.0
             THEN 127.0 / list_max(list_transform(xe, v -> abs(v)))
             ELSE 0.0 END AS scale
      FROM x
    )
    SELECT vec_id, scale,
           array_to_string(
             list_transform(xe, v -> CAST(round(v * scale) AS INTEGER)),
             ',') AS qvec
    FROM s
    """,
)
def s7_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding store (the 4x
    compression pass before ANN serving at 100 TB). Round-half rules
    agree across engines: Spark's HALF_UP and DuckDB's round() both
    round halves away from zero. The int8 code array is serialized to
    a csv string so the driver canonicalizer can hash it."""
    return similarity.quantize_int8(
        load_table(spark, sf_dir, "embeddings")
    ).withColumn(
        "qvec",
        F.array_join(F.transform("qvec", lambda x: x.cast("string")), ","),
    )


# int8 quantization + integer-cosine scoring, shared shape with s7.
SQL_QUANTIZED = """
    WITH x AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xe
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, xe,
        CASE WHEN list_max(list_transform(xe, v -> abs(v))) > 0.0
             THEN 127.0 / list_max(list_transform(xe, v -> abs(v)))
             ELSE 0.0 END AS scale
      FROM x
    ),
    q8 AS (
      SELECT vec_id,
             list_transform(xe, v -> CAST(round(v * scale) AS BIGINT)) AS code
      FROM s
    ),
    normed AS (
      SELECT vec_id, code,
             sqrt(CAST(list_reduce(list_transform(code, v -> v * v),
                                   (a, b) -> a + b) AS DOUBLE)) AS nrm
      FROM q8
    )
"""


@query(
    "s8_quantized_topk",
    oracle=SQL_QUANTIZED
    + """
    , scored AS (
      SELECT q.vec_id AS q_id, t.vec_id AS vec_id,
             CASE WHEN q.nrm * t.nrm > 0 THEN
               CAST(list_reduce(list_transform(list_zip(q.code, t.code),
                                               p -> p[1] * p[2]),
                                (a, b) -> a + b) AS DOUBLE)
                 / (q.nrm * t.nrm) ELSE 0.0 END AS qcos
      FROM normed t, (SELECT * FROM normed WHERE vec_id % 100 = 0) q
    ),
    ranked AS (
      SELECT q_id, vec_id, qcos,
             ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY qcos DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT q_id, vec_id, qcos, rank FROM ranked WHERE rank <= 5
    """,
)
def s8_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-path ANN over the int8 store: rank by cosine of the
    codes (scales cancel), integer dot products exact on both
    engines, one double divide at the end. Same broadcast-queries ×
    stream-corpus stage as s1 but at 1/4 the corpus bandwidth."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return similarity.quantized_topk(qs, emb.select("vec_id", "embedding"))


# ---------------------------------------------------------------------------
# s11 — Johnson-Lindenstrauss random projection (similarity.py)
# ---------------------------------------------------------------------------
_RP_TERMS = ",\n           ".join(
    "CAST(list_reduce(list_transform(range(1, 65), i -> "
    "CASE WHEN substr(md5('rp|' || CAST(i - 1 AS VARCHAR) || '|" + str(j) + "'), 1, 1) < '8' "
    "THEN xf[i] ELSE -xf[i] END), (a, b) -> a + b) AS DOUBLE)"
    " / 1000000000.0 AS y" + str(j)
    for j in range(similarity.RP_DIM_OUT)
)


@query(
    "s11_random_projection",
    oracle=f"""
    WITH x AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1000000000.0) AS BIGINT))
               AS xf
      FROM embeddings
    )
    SELECT vec_id,
           {_RP_TERMS}
    FROM x
    """,
)
def s11_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64→8 dim JL sketch with an md5-derived ±1 matrix: the
    compression pass before LSH/near-dup hashing at 100 TB (8 bigint
    folds fused into the scan; fixed-point grid makes every sum an
    exact integer, so Spark and the oracle agree bit-for-bit — see
    similarity.random_projection)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return similarity.random_projection(emb, d_in=64)


# Subspace width shared with the Spark side (similarity.PQ_DSUB,
# ADVICE r3): the Spark encoder derives dsub from the live vectors,
# so if the embedding dim ever changed this oracle would have
# silently sliced wrong with a hardcoded 8.
_SQL_SUBD2 = (
    "list_reduce(list_transform("
    f"list_zip(list_slice({{a}}, {{m}}*{similarity.PQ_DSUB}+1, {{m}}*{similarity.PQ_DSUB}+{similarity.PQ_DSUB}),"
    f" list_slice({{b}}, {{m}}*{similarity.PQ_DSUB}+1, {{m}}*{similarity.PQ_DSUB}+{similarity.PQ_DSUB})),"
    " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),"
    " (x, y) -> x + y)"
)


# Shared CTE chain for the PQ family (s12 serve, s13 re-rank): encode
# the corpus, build per-query LUTs, ADC-score, rank by approx
# distance.  Ends with the `ranked` CTE; callers append their final
# stage.
_PQ_ORACLE_CHAIN = f"""
    WITH cents AS (
      -- code = seed RANK, not the raw vec_id: the Spark side's code is
      -- the positional index under orderBy(vec_id).limit(k), so the
      -- oracle must rank too or a seed-id gap/offset would silently
      -- desync the codes and the LUT layout (ADVICE r3).
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code,
             embedding AS c_vec
      FROM embeddings WHERE vec_id < {similarity.PQ_CODEBOOK}
    ),
    enc AS (
      SELECT t.vec_id, mm.m, c.code,
             {_SQL_SUBD2.format(a='t.embedding', b='c.c_vec', m='mm.m')} AS d2
      FROM embeddings t, range(0, {similarity.PQ_SUBSPACES}) mm(m), cents c
    ),
    best AS (
      SELECT vec_id, m, code,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                ORDER BY d2 ASC, code ASC) AS rn
      FROM enc
    ),
    codes AS (
      SELECT vec_id, list(code ORDER BY m) AS pq_code
      FROM best WHERE rn = 1 GROUP BY vec_id
    ),
    q AS (
      SELECT vec_id AS q_id, embedding AS q_vec
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    lutrows AS (
      SELECT q.q_id, mm.m, c.code,
             {_SQL_SUBD2.format(a='q.q_vec', b='c.c_vec', m='mm.m')} AS d2
      FROM q, range(0, {similarity.PQ_SUBSPACES}) mm(m), cents c
    ),
    lut AS (
      SELECT q_id, list(d2 ORDER BY m, code) AS lut
      FROM lutrows GROUP BY q_id
    ),
    scored AS (
      SELECT l.q_id, cd.vec_id,
             list_reduce(list_transform(
               range(0, {similarity.PQ_SUBSPACES}),
               mm -> l.lut[mm * {similarity.PQ_CODEBOOK}
                           + cd.pq_code[mm + 1] + 1]),
               (x, y) -> x + y) AS approx_d2
      FROM codes cd, lut l
    ),
    ranked AS (
      SELECT q_id, vec_id, approx_d2,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY approx_d2 ASC, vec_id ASC) AS rank
      FROM scored
    )
"""


@query(
    "s12_pq_topk",
    oracle=_PQ_ORACLE_CHAIN
    + "SELECT q_id, vec_id, approx_d2, rank FROM ranked WHERE rank <= 5",
)
def s12_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN serving (FAISS's PQ/ADC): the corpus
    is stored as 8 nibble codes per vector (64x smaller than float),
    each query broadcasts its per-subspace distance lookup table, and
    scoring is m table probes + one fixed-order fold — the float
    corpus is never read at serve time. Complements the family: s2
    prunes candidates (LSH), s4/s10 route them (IVF), s7/s8 compress
    4x (int8); PQ is the aggressive-compression endpoint. Codebooks
    are the deterministic lowest-id seeds (s4/dd14's convention);
    every distance is a strict left fold, so DuckDB replays the
    encode → LUT → ADC chain bit-exactly."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = emb.filter(F.col("vec_id") < similarity.PQ_CODEBOOK)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return similarity.pq_topk(
        q, emb, seeds, cache_key=f"s12|{sf_dir}"
    )


@query(
    "s13_pq_rerank_topk",
    oracle=_PQ_ORACLE_CHAIN
    + f""", cand AS (
      SELECT q_id, vec_id FROM ranked WHERE rank <= 25
    ),
    exact AS (
      SELECT c.q_id, c.vec_id,
             {_sql_cosine('t.embedding', 'qq.q_vec')} AS cos
      FROM cand c
      JOIN embeddings t ON t.vec_id = c.vec_id
      JOIN q qq ON qq.q_id = c.q_id
    ),
    rr AS (
      SELECT q_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, vec_id ASC) AS rank
      FROM exact
    )
    SELECT q_id, vec_id, cos, rank FROM rr WHERE rank <= 5
    """,
)
def s13_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (FAISS IndexRefineFlat shape): PQ/ADC
    shortlist of 25 per query from the nibble codes, exact
    strict-fold cosine re-rank of only those candidates, final top-5.
    Completes the serving family: s12 shows the compressed store
    alone, s13 shows the production pattern where the float corpus is
    touched only through a broadcast candidate fetch — the oracle
    replays shortlist AND refine bit-for-bit (same ADC chain, same
    fold order)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = emb.filter(F.col("vec_id") < similarity.PQ_CODEBOOK)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return similarity.pq_rerank_topk(
        q, emb, seeds, cache_key=f"s12|{sf_dir}"
    )


# ---------------------------------------------------------------------------
# dd11 — triangle counts in the near-dup candidate graph
# ---------------------------------------------------------------------------
@query(
    "dd11_triangle_counts",
    oracle=f"""
    WITH docs AS ({SQL_AUGMENTED_DOCS}),
    toks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk FROM docs
    ),
    sh AS (
      SELECT doc_id, {SQL_SHINGLES3.format(toks='tk')} AS s FROM toks
    ),
    sig AS (
      SELECT doc_id,
        [{', '.join("list_min(list_transform(s, x -> " + SQL_H60.format(x=f"'{i}|' || x") + "))" for i in range(dedup.NUM_MINHASHES))}] AS g
      FROM sh WHERE len(s) > 0
    ),
    banded AS (
      SELECT doc_id, b.band,
             g[b.band*2 + 1] AS k1, g[b.band*2 + 2] AS k2
      FROM sig, (VALUES (0), (1), (2), (3)) b(band)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       AND a.doc_id < b.doc_id
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.u = e1.v
      JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    corners AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT doc_id, COUNT(*) AS n_triangles FROM corners GROUP BY doc_id
    """,
)
def dd11_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc triangle membership in the LSH candidate graph — the
    clique-density signal that triages template families from chains
    (see dedup.triangle_counts for the a<b<c wedge-join shape and the
    degree-cap scale lever)."""
    return dedup.triangle_counts(
        dedup.minhash_lsh_pairs(_augmented_docs(spark, sf_dir))
    )


# ---------------------------------------------------------------------------
# t10 — source × lang chi-square association grid
# ---------------------------------------------------------------------------
@query(
    "t10_source_lang_chisq",
    oracle="""
    WITH n_sl AS (
      SELECT source, lang, COUNT(*) AS obs FROM documents GROUP BY source, lang
    ),
    ns AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
    nl AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
    tot AS (SELECT COUNT(*) AS n FROM documents),
    grid AS (
      SELECT s.source, l.lang, s.n_s, l.n_l, t.n
      FROM ns s CROSS JOIN nl l CROSS JOIN tot t
    )
    SELECT g.source, g.lang, COALESCE(o.obs, 0) AS obs,
           CAST((COALESCE(o.obs, 0) * g.n - g.n_s * g.n_l)
                * (COALESCE(o.obs, 0) * g.n - g.n_s * g.n_l) AS DOUBLE)
             / CAST(g.n * g.n_s * g.n_l AS DOUBLE) AS chi2_term
    FROM grid g
    LEFT JOIN n_sl o ON o.source = g.source AND o.lang = g.lang
    """,
)
def t10_source_lang_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix drift detector: the chi-square independence
    contribution of every (source, lang) cell, including zero cells
    via the dims-grid gap fill. All integer arithmetic until ONE
    IEEE division of exact ints (< 2^53 through petabyte corpora of
    ~1e6 docs/source) — bit-identical on any engine, no transcendental
    functions. The grid is |sources|x|langs| rows built from two tiny
    aggregate dims (broadcast cross join) — never a corpus-sized
    join."""
    docs = load_table(spark, sf_dir, "documents")
    n_sl = docs.groupBy("source", "lang").agg(F.count("*").alias("obs"))
    n_s = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    n_l = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    tot = docs.agg(F.count("*").alias("n"))
    grid = n_s.crossJoin(F.broadcast(n_l)).crossJoin(F.broadcast(tot))
    d = F.col("obs") * F.col("n") - F.col("n_s") * F.col("n_l")
    return (
        grid.join(n_sl, ["source", "lang"], "left")
        .withColumn("obs", F.coalesce("obs", F.lit(0)))
        .select(
            "source",
            "lang",
            "obs",
            (
                (d * d).cast("double")
                / (F.col("n") * F.col("n_s") * F.col("n_l")).cast("double")
            ).alias("chi2_term"),
        )
    )


# ---------------------------------------------------------------------------
# dd12 — winnowing fingerprint pairs (MOSS-style partial-overlap dedup)
# ---------------------------------------------------------------------------
@query(
    "dd12_winnow_pairs",
    oracle=f"""
    WITH docs AS (SELECT * FROM ({SQL_AUGMENTED_DOCS}) WHERE doc_id % 2 = 0),
    toks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk FROM docs
    ),
    grams AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(tk) - 4, 0) + 1),
               i -> array_to_string(list_slice(tk, i, i + 4), ' ')) AS g5
      FROM toks
    ),
    hashed AS (
      SELECT doc_id,
             list_transform(g5, s -> {SQL_H60.format(x='s')}) AS h
      FROM grams
    ),
    wins AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(h) - 7, 0) + 1),
               i -> list_min(list_slice(h, i, i + 7)))) AS wf
      FROM hashed
    ),
    fps AS (
      SELECT doc_id, unnest(wf) AS wfp FROM wins
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM fps a JOIN fps b ON a.wfp = b.wfp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def dd12_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing candidate pairs with shared-fingerprint counts —
    the partial-overlap-sensitive complement to whole-doc MinHash
    (dd3): a copied ≥12-token run guarantees a collision regardless
    of the rest of the doc (see dedup.winnow_fingerprints)."""
    # even-doc_id half corpus on both sides: parity of d+100000 /
    # d+200000 equals parity of d, so every planted pair survives
    # while the oracle's per-gram md5 chain costs half as much in
    # the gate
    return dedup.winnow_pairs(
        _augmented_docs(spark, sf_dir).filter(F.col("doc_id") % 2 == 0)
    )


# Registered df-cap for dd13 (single-homed; see DD7_MAX_SHINGLE_DF).
DD13_MAX_FP_DF = 20


@query(
    "dd13_winnow_df_capped",
    oracle=f"""
    WITH docs AS (SELECT * FROM ({SQL_AUGMENTED_DOCS}) WHERE doc_id % 2 = 0),
    toks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk FROM docs
    ),
    grams AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(tk) - 4, 0) + 1),
               i -> array_to_string(list_slice(tk, i, i + 4), ' ')) AS g5
      FROM toks
    ),
    hashed AS (
      SELECT doc_id,
             list_transform(g5, s -> {SQL_H60.format(x='s')}) AS h
      FROM grams
    ),
    wins AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(h) - 7, 0) + 1),
               i -> list_min(list_slice(h, i, i + 7)))) AS wf
      FROM hashed
    ),
    fps AS (
      SELECT doc_id, unnest(wf) AS wfp FROM wins
    ),
    rare AS (
      SELECT wfp FROM fps GROUP BY wfp HAVING COUNT(*) <= {DD13_MAX_FP_DF}
    ),
    capped AS (
      SELECT f.doc_id, f.wfp FROM fps f JOIN rare r ON f.wfp = r.wfp
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM capped a JOIN capped b ON a.wfp = b.wfp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def dd13_winnow_df_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd12 with the document-frequency cap engaged (df <= 20): the
    boilerplate-fingerprint kill switch that bounds candidate-pair
    inflation to O(cap·|fps|) at any corpus size. Exact copies still
    pair through their sub-cap fingerprints; only corpus-wide
    boilerplate runs stop generating pairs."""
    return dedup.winnow_pairs(
        _augmented_docs(spark, sf_dir).filter(F.col("doc_id") % 2 == 0),
        max_fp_df=DD13_MAX_FP_DF,
    )


# ---------------------------------------------------------------------------
# t11 — Count-Min sketch heavy hitters (operators/sketch.py)
# ---------------------------------------------------------------------------
@query(
    "t11_cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKENS.format(t='text')}) AS token FROM documents
    ),
    cells AS (
      SELECT token, d.d AS d,
             {SQL_H60.format(x="'cms' || d.d || '|' || token")} % 256 AS cell
      FROM toks, (VALUES (0), (1), (2), (3)) d(d)
    ),
    cms AS (
      SELECT d, cell, COUNT(*) AS cnt FROM cells GROUP BY d, cell
    ),
    true_counts AS (
      SELECT token, COUNT(*) AS true_count FROM toks GROUP BY token
    ),
    top AS (
      SELECT token, true_count FROM true_counts
      ORDER BY true_count DESC, token ASC LIMIT 20
    ),
    probes AS (
      SELECT t.token, t.true_count, d.d AS d,
             {SQL_H60.format(x="'cms' || d.d || '|' || t.token")} % 256 AS cell
      FROM top t, (VALUES (0), (1), (2), (3)) d(d)
    )
    SELECT p.token, p.true_count, MIN(c.cnt) AS cms_est
    FROM probes p JOIN cms c ON c.d = p.d AND c.cell = p.cell
    GROUP BY p.token, p.true_count
    """,
)
def t11_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters: the 4x256 sketch grid estimates the
    top-20 tokens' frequencies with admissible overestimates
    (cms_est >= true_count always — the sketch property the unit test
    pins). The sketch's reduce state is 1,024 cells at ANY corpus
    size; the exact top-20 here exists only to exhibit the estimates
    against truth at gate scale (see operators/sketch.py)."""
    from trello_github_etl_spark.operators import sketch

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = exploded(docs, [], textstats.tokens(F.col("text")), "token")
    cms = sketch.countmin_table(toks)
    top = (
        toks.groupBy("token")
        .agg(F.count("*").alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("token").asc())
        .limit(20)
    )
    est = sketch.countmin_estimate(top.select("token"), cms)
    return top.join(est, "token")


@query(
    "t12_kmv_distinct",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKENS.format(t='text')}) AS token FROM documents
    ),
    hashed AS (
      SELECT DISTINCT {SQL_H60.format(x='token')} AS h FROM toks
    ),
    kmin AS (SELECT h FROM hashed ORDER BY h LIMIT 256),
    agg AS (
      SELECT COUNT(*) AS n_hashes_kept, MAX(h) AS kth_min FROM kmin
    ),
    tru AS (SELECT COUNT(DISTINCT token) AS true_distinct FROM toks)
    SELECT a.n_hashes_kept, a.kth_min,
      CASE WHEN a.n_hashes_kept < 256 THEN CAST(a.n_hashes_kept AS DOUBLE)
           ELSE 255.0 * 1152921504606846976.0 / CAST(a.kth_min AS DOUBLE)
      END AS kmv_est,
      t.true_distinct
    FROM agg a CROSS JOIN tru t
    """,
)
def t12_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-token estimate beside the exact
    count: the sketch needs only a TopK over hashes (each partition
    forwards <= k candidates; k longs of state), where the exact
    distinct — included here purely to exhibit accuracy at gate
    scale — shuffles the full key space. Deterministic both sides:
    identical IEEE expression over exact integers (see
    sketch.kmv_distinct_estimate)."""
    from trello_github_etl_spark.operators import sketch

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = exploded(docs, [], textstats.tokens(F.col("text")), "token")
    est = sketch.kmv_distinct_estimate(toks)
    tru = toks.agg(F.countDistinct("token").alias("true_distinct"))
    return est.crossJoin(F.broadcast(tru))


@query(
    "t13_doclen_percentiles",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, len({SQL_TOKENS.format(t='text')}) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT lang, n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM toks
    )
    SELECT lang, MAX(n) AS n_docs,
      MAX(CASE WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT) + 1
               THEN n_tokens END) AS p50,
      MAX(CASE WHEN rn = CAST(floor((n-1) * 0.9) AS BIGINT) + 1
               THEN n_tokens END) AS p90,
      MAX(CASE WHEN rn = CAST(floor((n-1) * 0.99) AS BIGINT) + 1
               THEN n_tokens END) AS p99
    FROM r GROUP BY lang
    """,
)
def t13_doclen_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length percentiles — the
    sequence-length budgeting stat a packing config (pipe4/pipe5
    budget, pipe3 chunk width) is tuned against. Element percentile
    (type-1, pct1's proven pattern): picks an actual data value via
    row_number against a window count, unique doc_id tie-break, no
    interpolation arithmetic — integer outputs hash-match exactly."""
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", F.size(textstats.tokens(F.col("text"))).alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    wn = Window.partitionBy("lang")
    r = toks.select(
        "lang",
        "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )

    def at(p: float) -> F.Column:
        idx = F.floor((F.col("n") - 1) * p) + 1
        return F.max(F.when(F.col("rn") == idx, F.col("n_tokens")))

    return r.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        at(0.5).alias("p50"),
        at(0.9).alias("p90"),
        at(0.99).alias("p99"),
    )


# ---------------------------------------------------------------------------
# t15 — Flesch reading ease (readability quality signal)
# ---------------------------------------------------------------------------
@query(
    "t15_readability",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, {SQL_TOKENS.format(t='text')} AS tk FROM documents
    ),
    counts AS (
      SELECT doc_id,
        CAST(len(tk) AS BIGINT) AS n_tokens,
        CAST(CASE WHEN text IS NULL THEN NULL
                  ELSE greatest(1, len(regexp_extract_all(text, '[.!?]+')))
             END AS BIGINT) AS n_sentences,
        CAST(COALESCE(list_sum(list_transform(tk,
          t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+'))))), 0)
          AS BIGINT) AS n_syllables
      FROM toks
    )
    SELECT doc_id, n_tokens, n_sentences, n_syllables,
      CASE WHEN n_tokens = 0 THEN NULL
           ELSE 206.835 - 1.015 * (CAST(n_tokens AS DOUBLE) / n_sentences)
                - 84.6 * (CAST(n_syllables AS DOUBLE) / n_tokens)
      END AS flesch
    FROM counts
    """,
)
def t15_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document — the classic readability
    quality signal (C4/Gopher-style filters gate on it alongside t3's
    composite).  Sentence = terminator-run floored at 1; syllable =
    per-token vowel-group runs floored at 1 (the cheap standard
    estimator).  One narrow pass, exact BIGINT counts, a fixed-order
    double formula — bit-reproducible in the oracle like t3."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # shared token projection (flesch alone re-tokenizes 3x) — see
    # t1 / SCALE.md lesson 38
    shared = docs.select(
        "doc_id", textstats.tokens(F.col("text")).alias("_tk"), "text"
    )
    tk, t = F.col("_tk"), F.col("text")
    return shared.select(
        "doc_id",
        textstats.token_count_of(tk).cast("long").alias("n_tokens"),
        textstats.sentence_count(t).cast("long").alias("n_sentences"),
        textstats.syllable_count_of(tk).alias("n_syllables"),
        textstats.flesch_reading_ease_of(tk, t).alias("flesch"),
    )


# ---------------------------------------------------------------------------
# t14 — leave-one-out bigram novelty (LM-perplexity proxy)
# ---------------------------------------------------------------------------
@query(
    "t14_bigram_novelty",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS t FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(t) - 1, 0) + 1),
               i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks
    ),
    own AS (
      SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS c_own
      FROM bg GROUP BY doc_id, bigram
    ),
    allc AS (
      SELECT bigram, CAST(SUM(c_own) AS BIGINT) AS c_all
      FROM own GROUP BY bigram
    ),
    per AS (
      SELECT o.doc_id,
             CAST(SUM(o.c_own) AS BIGINT) AS n_bigrams,
             CAST(SUM(CASE WHEN a.c_all - o.c_own = 0 THEN o.c_own
                           ELSE 0 END) AS BIGINT) AS novel_instances,
             CAST(SUM((a.c_all - o.c_own) * o.c_own) AS BIGINT)
               AS loo_evidence
      FROM own o JOIN allc a USING (bigram) GROUP BY o.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_bigrams, 0) AS n_bigrams,
           COALESCE(p.novel_instances, 0) AS novel_instances,
           COALESCE(p.loo_evidence, 0) AS loo_evidence,
           CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN NULL
                ELSE CAST(p.novel_instances AS DOUBLE)
                     / CAST(p.n_bigrams AS DOUBLE) END AS novelty
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
)
def t14_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring without the LM: how familiar is
    each doc's word-pair stream given the REST of the corpus? For
    every bigram instance, the leave-one-out evidence is the corpus
    count minus the doc's own count; instances with zero outside
    evidence are "novel". novelty = novel/total is the perplexity
    proxy — boilerplate scores ~0, unique/garbled text scores ~1.
    Leave-one-out matters: trained on the full corpus every bigram
    trivially has evidence >= its own occurrences and the signal
    collapses.

    FP determinism is the t10 pattern: every aggregate is exact
    BIGINT arithmetic; `novelty` is ONE IEEE division of exact ints
    (bit-identical across engines). Scale shape: bigram keys are
    near-uniform text — two hash-agg shuffles (own counts, corpus
    counts) + one equi-join on the bigram, then a doc_id agg; the
    corpus count table derives from `own`, so raw bigram instances
    are shuffled once, never twice. Docs with < 2 tokens stay
    visible with NULL novelty (left join back to documents).
    """
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id", textstats.tokens(F.col("text")).alias("_tk")
    )
    grams = base.select(
        "doc_id", textstats.ngrams(F.col("_tk"), 2).alias("_bg")
    )
    bg = exploded(grams, ["doc_id"], F.col("_bg"), "bigram")
    own = bg.groupBy("doc_id", "bigram").agg(F.count("*").alias("c_own"))
    allc = own.groupBy("bigram").agg(F.sum("c_own").alias("c_all"))
    loo = F.col("c_all") - F.col("c_own")
    per = (
        own.join(allc, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("c_own").alias("n_bigrams"),
            F.sum(F.when(loo == 0, F.col("c_own")).otherwise(F.lit(0))).alias(
                "novel_instances"
            ),
            F.sum(loo * F.col("c_own")).alias("loo_evidence"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("novel_instances", F.lit(0)).alias("novel_instances"),
            F.coalesce("loo_evidence", F.lit(0)).alias("loo_evidence"),
            F.when(
                F.coalesce("n_bigrams", F.lit(0)) == 0, F.lit(None).cast("double")
            )
            .otherwise(
                F.col("novel_instances").cast("double")
                / F.col("n_bigrams").cast("double")
            )
            .alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style, VERDICT r2 #4)
# ---------------------------------------------------------------------------
SEMDEDUP_THRESHOLD = 0.92


def _semdedup_oracle(k: int | str = similarity.NUM_CENTROIDS) -> str:
    """DuckDB replay of semantic_dedup. ``k`` is either a static cell
    count (cents = raw vec_id < k, dd14/dd15's convention) or the
    string 'auto', replaying the self-seeding path: derive
    nlist = CEIL(SQRT(COUNT(*))) clamped to [16, 4096] (IEEE sqrt is
    correctly rounded, so DuckDB and the JVM land on the same integer
    for every representable N — operators/dedup.py docstring), seeds
    = the nlist lowest-id rows OF THE UNION CORPUS re-numbered to
    dense cent_ids 0..k-1 (ROW_NUMBER()-1, order-preserving, so the
    lowest-cent_id tie-break matches ranking by raw seed id)."""
    if k == "auto":
        cents = f"""
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cent_id,
             embedding AS c_vec
      FROM base
      QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (
        SELECT GREATEST({similarity.IVF_NLIST_MIN},
                        LEAST({similarity.IVF_NLIST_MAX},
                              CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)))
        FROM base
      )
        """
    else:
        cents = f"""
      SELECT vec_id AS cent_id, embedding AS c_vec FROM embeddings
      WHERE vec_id < {k}
        """
    return f"""
    WITH RECURSIVE base AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0
    ),
    cents AS ({cents}),
    cells AS (
      SELECT vec_id, embedding, cent_id AS cell FROM (
        SELECT t.vec_id, t.embedding, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY t.vec_id
                 ORDER BY {_sql_cosine('t.embedding', 'c.c_vec')} DESC,
                          c.cent_id ASC) AS rn
        FROM base t, cents c
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT x.vec_id AS u, y.vec_id AS v
      FROM cells x JOIN cells y
        ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE {_sql_cosine('x.embedding', 'y.embedding')} >= {SEMDEDUP_THRESHOLD}
    ),
    edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS vec_id, LEAST(MIN(v), u) AS group_id FROM reach GROUP BY u
    )
    SELECT c.vec_id, c.cell,
           COALESCE(g.group_id, c.vec_id) AS group_id,
           CASE WHEN g.group_id IS NOT NULL AND g.group_id != c.vec_id
                THEN 'dup_semantic' ELSE 'kept' END AS verdict
    FROM cells c LEFT JOIN comp g ON g.vec_id = c.vec_id
    """


@query("dd14_semantic_dedup", oracle=_semdedup_oracle())
def dd14_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding corpus plus injected exact
    re-embeddings (every %50 vector again at id+100000, the s3
    fixture): coarse-cluster into the 16 IVF seed cells, connect
    within-cell pairs with cosine >= 0.92 into semantic groups, keep
    the min-id exemplar. Oracle replays cell assignment + pair
    predicate exactly and closes groups with a recursive CTE (dd6's
    transitive-closure pattern). No cross-cluster all-pairs join:
    the only join on vectors is the cell equi-join."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    cents = emb.filter(F.col("vec_id") < similarity.NUM_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_vec")
    )
    return dedup.semantic_dedup(
        ensure_parallelism(emb.unionByName(dups)),
        cents,
        threshold=SEMDEDUP_THRESHOLD,
        cache_key=f"ivf16|{sf_dir}",
    )


@query("dd15_semantic_dedup_nlist64", oracle=_semdedup_oracle(64))
def dd15_semantic_dedup_nlist64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd14 with 4x the coarse cells (nlist 64 vs 16) — the measured
    receipt for SCALE.md lesson 25's claim that SemDeDup's cell count
    is THE scale lever.  Within-cell pair work is O(Σ|cell|²): with a
    fixed nlist, per-cell population grows linearly in the corpus and
    dd14 scaled ~linearly sf0.1→sf1 (2.46→24.7 s); quadrupling nlist
    cuts expected pair work ~16x while the narrow assignment pass
    only pays 4x more centroid comparisons.  FAISS's nlist≈√N rule,
    demonstrated rather than asserted — BENCH_sf1.json carries both
    numbers.  Recall trade is the standard one (more cells = more
    boundary pairs missed); exact re-embeddings still co-locate by
    construction, so injected-duplicate recall stays 1.0."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    cents = emb.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_vec")
    )
    return dedup.semantic_dedup(
        ensure_parallelism(emb.unionByName(dups)),
        cents,
        threshold=SEMDEDUP_THRESHOLD,
        cache_key=f"ivf64|{sf_dir}",
    )


@query("dd24_semantic_dedup_auto", oracle=_semdedup_oracle("auto"))
def dd24_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd14's corpus through semantic_dedup's SELF-SEEDING path (the
    default centroids=auto_nlist): one corpus count derives nlist =
    ceil(√N) clamped to [16, 4096] (similarity.auto_nlist — N=510 → 23 cells
    at sf0.01, 2,040 → 46 at sf0.1, 20,400 → 143 at sf1), seeds = the
    nlist lowest-vec_id vectors re-numbered to dense cent_ids. This
    is the production configuration — dd14 (static 16) and dd15
    (static 64) stay registered as the measured receipts for WHY a
    static cell count dies at scale (SCALE.md lessons 25/26: per-cell
    population grows linearly, within-cell pair work quadratically);
    dd24 is the plan that survives the 100× corpus. The oracle
    replays the full derivation: CEIL(SQRT(COUNT(*))) on the union
    corpus, ROW_NUMBER lowest-id seeds, then dd14's cell-assign +
    pair-predicate + recursive-closure pipeline at the derived k."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return dedup.semantic_dedup(
        ensure_parallelism(emb.unionByName(dups)),
        threshold=SEMDEDUP_THRESHOLD,
        cache_key=f"ivfauto|{sf_dir}",
    )


@query("dd26_semantic_dedup_blocked", oracle=_semdedup_oracle("auto"))
def dd26_semantic_dedup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd24 under the giant-cell block-salting lever
    (pair_blocks=4): the within-cell self-join runs as the blocked
    (cell, blk, partner) shuffle-hash join instead of one task per
    cell. The pair multiset — and therefore the whole output frame —
    is IDENTICAL by construction (each unordered pair matches exactly
    one ordered block combination; tests/test_cell_blocks.py asserts
    bit-equality, BLOCKS_sf1.json measures 13.5× on a 6,000-member
    one-cell dup family), so dd24's oracle applies verbatim. Registered
    so the driver's DuckDB gate exercises the skew lever every round,
    not just the default plan: on real dup-heavy corpora near-identical
    vectors share an argmax by construction, making this the
    production configuration whenever occupancy is skewed
    (SCALE.md lesson 37)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return dedup.semantic_dedup(
        ensure_parallelism(emb.unionByName(dups)),
        threshold=SEMDEDUP_THRESHOLD,
        cache_key=f"ivfauto|{sf_dir}",
        pair_blocks=4,
    )


# ---------------------------------------------------------------------------
# dd32 — incremental SemDeDup (the semantic family's day-N path)
# ---------------------------------------------------------------------------
# Deterministic day-N batch, mirrored in SQL and Spark: exact
# re-embeddings of every %50 vector (+200000 — must hit the state at
# cos 1.0), TWO copies of the NEGATED %97==3 vectors (+300000 /
# +400000 — cos -1.0 vs their source so novel vs state, identical to
# each other so the later copy is an in-batch dup; negation is exact
# in IEEE so cells and cosines match bit-for-bit), and one all-zero
# vector (999999, x - x — exercises the zero-norm cosine guard: cos
# defined 0.0 with everything, must come out 'kept').
_DD32_BATCH_SQL = """
      SELECT vec_id + 200000 AS vec_id, embedding
      FROM embeddings WHERE vec_id % 50 = 0
      UNION ALL
      SELECT vec_id + 300000, list_transform(embedding, x -> -x)
      FROM embeddings WHERE vec_id % 97 = 3
      UNION ALL
      SELECT vec_id + 400000, list_transform(embedding, x -> -x)
      FROM embeddings WHERE vec_id % 97 = 3
      UNION ALL
      SELECT 999999, list_transform(embedding, x -> x - x)
      FROM embeddings WHERE vec_id = 0
"""


@query(
    "dd32_incremental_semantic_dedup",
    oracle=f"""
    WITH cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cent_id,
             embedding AS c_vec
      FROM embeddings
      QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (
        SELECT GREATEST({similarity.IVF_NLIST_MIN},
                        LEAST({similarity.IVF_NLIST_MAX},
                              CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)))
        FROM embeddings
      )
    ),
    batch AS ({_DD32_BATCH_SQL}),
    scells AS (
      SELECT vec_id, embedding, cent_id AS cell FROM (
        SELECT t.vec_id, t.embedding, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY t.vec_id
                 ORDER BY {_sql_cosine('t.embedding', 'c.c_vec')} DESC,
                          c.cent_id ASC) AS rn
        FROM embeddings t, cents c
      ) WHERE rn = 1
    ),
    bcells AS (
      SELECT vec_id, embedding, cent_id AS cell FROM (
        SELECT t.vec_id, t.embedding, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY t.vec_id
                 ORDER BY {_sql_cosine('t.embedding', 'c.c_vec')} DESC,
                          c.cent_id ASC) AS rn
        FROM batch t, cents c
      ) WHERE rn = 1
    ),
    hits AS (
      SELECT b.vec_id, MIN(s.vec_id) AS state_match
      FROM bcells b JOIN scells s ON b.cell = s.cell
      WHERE {_sql_cosine('b.embedding', 's.embedding')}
            >= {SEMDEDUP_THRESHOLD}
      GROUP BY b.vec_id
    ),
    peers AS (
      SELECT y.vec_id, MIN(x.vec_id) AS peer_min
      FROM bcells x JOIN bcells y
        ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE {_sql_cosine('x.embedding', 'y.embedding')}
            >= {SEMDEDUP_THRESHOLD}
      GROUP BY y.vec_id
    )
    SELECT b.vec_id, b.cell,
           CASE WHEN h.state_match IS NOT NULL THEN 'dup_of_state'
                WHEN p.peer_min IS NOT NULL THEN 'dup_in_batch'
                ELSE 'kept' END AS verdict,
           COALESCE(h.state_match, p.peer_min, b.vec_id) AS match_id
    FROM bcells b
    LEFT JOIN hits h ON h.vec_id = b.vec_id
    LEFT JOIN peers p ON p.vec_id = b.vec_id
    """,
)
def dd32_incremental_semantic_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental SemDeDup — the semantic family's day-N path
    (VERDICT r10 #4): a new crawl's embedding batch classified
    against the COMMITTED state (exemplars + frozen auto-seeded
    centroids from the base corpus — the base table carries no dups,
    so its post-day-0 exemplar set IS the table) without
    re-clustering. Re-embedded %50 vectors must come back
    'dup_of_state', the second copy of each negated vector
    'dup_in_batch' (direct-neighbor election, dd23's rule), the
    zero vector 'kept' through the cosine guard. See
    operators/dedup.incremental_semantic_dedup for semantics,
    precedence, and the 100 TB cost note;
    streaming/semdedup_stream.py wires the same plan into
    foreachBatch with CAS state commits."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cents, suffix, _k = similarity.auto_seed_centroids(emb)
    v = F.col("vec_id")
    neg = emb.filter(v % 97 == 3).select(
        v.alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    batch = (
        emb.filter(v % 50 == 0)
        .select((v + 200000).alias("vec_id"), "embedding")
        .unionByName(
            neg.select((v + 300000).alias("vec_id"), "embedding")
        )
        .unionByName(
            neg.select((v + 400000).alias("vec_id"), "embedding")
        )
        .unionByName(
            emb.filter(v == 0).select(
                F.lit(999999).cast("long").alias("vec_id"),
                F.transform(
                    "embedding", lambda x: x - x
                ).alias("embedding"),
            )
        )
    )
    return dedup.incremental_semantic_dedup(
        batch,
        emb,
        cents,
        threshold=SEMDEDUP_THRESHOLD,
        cache_key=f"ivfauto-dd32|{sf_dir}{suffix}",
    )


@query(
    "s14_matryoshka_rerank",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    c16 AS (
      SELECT q.q_id, t.vec_id,
             {_sql_cosine('list_slice(q.q_vec, 1, 16)',
                          'list_slice(t.embedding, 1, 16)')} AS cos16
      FROM embeddings t, q
    ),
    shortlist AS (
      SELECT q_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos16 DESC, vec_id ASC) AS rk
      FROM c16
    ),
    exact AS (
      SELECT s.q_id, s.vec_id,
             {_sql_cosine('t.embedding', 'qq.q_vec')} AS cos
      FROM shortlist s
      JOIN embeddings t ON t.vec_id = s.vec_id
      JOIN q qq ON qq.q_id = s.q_id
      WHERE s.rk <= 25
    ),
    rr AS (
      SELECT q_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, vec_id ASC) AS rank
      FROM exact
    )
    SELECT q_id, vec_id, cos, rank FROM rr WHERE rank <= 5
    """,
)
def s14_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka two-stage retrieval: 16-dim prefix cosine shortlist
    (reads a quarter of the vector bytes when the prefix is laid out
    columnar), exact 64-dim re-rank of the 25 candidates — the MRL
    serving pattern alongside s13's PQ variant, both on the shared
    refine stage.  Oracle replays prefix scoring and refine with the
    same strict folds."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return similarity.matryoshka_rerank_topk(q, emb)


# ---------------------------------------------------------------------------
# Tokenizer-budget planning
# ---------------------------------------------------------------------------
T16_VOCAB_K = 16


@query(
    "t16_vocab_coverage",
    oracle=f"""
    WITH inst AS (
      SELECT source, unnest({SQL_TOKENS.format(t='text')}) AS tok
      FROM documents
    ),
    counts AS (
      SELECT source, tok, COUNT(*) AS c FROM inst GROUP BY source, tok
    ),
    tot AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS tc FROM counts GROUP BY tok),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, ROW_NUMBER() OVER (ORDER BY tc DESC, tok ASC) AS r
        FROM tot
      ) WHERE r <= {T16_VOCAB_K}
    )
    SELECT c.source,
           CAST(SUM(c.c) AS BIGINT) AS n_instances,
           CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN c.c ELSE 0 END)
                AS BIGINT) AS n_covered,
           1.0 - CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN c.c ELSE 0 END)
                      AS DOUBLE)
                 / CAST(SUM(c.c) AS DOUBLE) AS oov_rate
    FROM counts c LEFT JOIN vocab v USING (tok)
    GROUP BY c.source
    """,
)
def t16_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget planning: per-source OOV rate against the
    corpus's own top-K vocabulary (the go/no-go stat for sizing a
    vocab before training a tokenizer on a new mix — a source whose
    instances fall outside the shared head fragments into long
    subword sequences).

    Scale shape: ONE explode of the corpus into (source, token)
    counts — every later frame derives from that aggregate, never
    from the raw corpus. Token totals re-aggregate the counts frame,
    and the top-K vocab is `orderBy(...).limit(K)`, which Catalyst
    plans as TakeOrderedAndProject: each partition retains only its
    local top K rows and the driver merges P*K rows — NOT a
    SinglePartition window. This matters because the distinct-token
    domain is Heaps-law unbounded (O(1e8–1e9) tokens on a 100 TB
    crawl), so an unpartitioned `row_number` over it would funnel
    tens of GB through one task (VERDICT r10 finding #1). The
    total order (tc DESC, tok ASC) is unique, so limit(K) selects
    exactly the rows the old rank <= K did — hash-identical output.
    The K-row vocab broadcasts back onto the counts frame. At
    100 TB the corpus-proportional work is exactly the one
    (source, token) map-side-combined shuffle."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    inst = exploded(
        docs.select("source", textstats.tokens(F.col("text")).alias("tk")),
        ["source"],
        F.col("tk"),
        "tok",
    )
    counts = inst.groupBy("source", "tok").agg(F.count("*").alias("c"))
    tot = counts.groupBy("tok").agg(F.sum("c").alias("tc"))
    vocab = (
        tot.orderBy(F.col("tc").desc(), F.col("tok").asc())
        .limit(T16_VOCAB_K)
        .select("tok", F.lit(1).alias("_v"))
    )
    cov = F.sum(
        F.when(F.col("_v").isNotNull(), F.col("c")).otherwise(F.lit(0))
    )
    return (
        counts.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_instances"),
            cov.alias("n_covered"),
            (
                F.lit(1.0)
                - cov.cast("double") / F.sum("c").cast("double")
            ).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental near-dup (dd10's MinHash sibling)
# ---------------------------------------------------------------------------
_DD23_SIG_LIST = ", ".join(
    "list_min(list_transform(s, x -> "
    + SQL_H60.format(x=f"'{i}|' || x")
    + "))"
    for i in range(dedup.NUM_MINHASHES)
)


@query(
    "dd23_incremental_near_dedup",
    oracle=f"""
    WITH batch AS (
      SELECT doc_id + {DOC_SHIFT} AS doc_id, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + {3 * DOC_SHIFT}, reverse(text) FROM documents WHERE doc_id % 9 = 4
      UNION ALL
      SELECT doc_id + {4 * DOC_SHIFT}, reverse(text) FROM documents WHERE doc_id % 9 = 4
      UNION ALL
      SELECT {5 * DOC_SHIFT - 1}, ''
    ),
    ctoks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk FROM documents
    ),
    csh AS (SELECT doc_id, {SQL_SHINGLES3.format(toks='tk')} AS s FROM ctoks),
    csig AS (
      SELECT doc_id, [{_DD23_SIG_LIST}] AS g FROM csh WHERE len(s) > 0
    ),
    cbands AS (
      SELECT DISTINCT b.band, g[b.band*2 + 1] AS k1, g[b.band*2 + 2] AS k2
      FROM csig, (VALUES (0), (1), (2), (3)) b(band)
    ),
    btoks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk FROM batch
    ),
    bsh AS (SELECT doc_id, {SQL_SHINGLES3.format(toks='tk')} AS s FROM btoks),
    bsig AS (
      SELECT doc_id, [{_DD23_SIG_LIST}] AS g FROM bsh WHERE len(s) > 0
    ),
    bbands AS (
      SELECT doc_id, b.band, g[b.band*2 + 1] AS k1, g[b.band*2 + 2] AS k2
      FROM bsig, (VALUES (0), (1), (2), (3)) b(band)
    ),
    probed AS (
      SELECT bb.doc_id,
             EXISTS (SELECT 1 FROM cbands c
                     WHERE c.band = bb.band AND c.k1 = bb.k1
                       AND c.k2 = bb.k2) AS hit,
             MIN(bb.doc_id) OVER (
               PARTITION BY bb.band, bb.k1, bb.k2) AS bmin
      FROM bbands bb
    ),
    per_doc AS (
      SELECT doc_id, MAX(hit) AS hit, MIN(bmin) AS peer_min
      FROM probed GROUP BY doc_id
    )
    SELECT b.doc_id,
           CASE WHEN p.doc_id IS NULL THEN 'no_signature'
                WHEN p.hit THEN 'dup_existing_near'
                WHEN p.peer_min < p.doc_id THEN 'dup_batch_near'
                ELSE 'kept' END AS verdict
    FROM batch b LEFT JOIN per_doc p USING (doc_id)
    """,
)
def dd23_incremental_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N crawl NEAR-dup dedup: a new batch (exact re-crawls of
    every %5 doc → near-collide with the corpus state; reversed-text
    %9==4 docs arriving twice → novel vs the corpus but LSH-identical
    within the batch; one empty doc → no signature) classified
    against the corpus's LSH band-bucket state — corpus text is
    never re-read, only its band keys. See
    operators/dedup.incremental_near_dedup (batch-only signatures,
    one band_key shuffle serving both the state probe and the
    within-batch keeper window) and streaming/neardup_stream.py for
    the foreachBatch + CAS wiring over the same plan.

    Scale note (the r8-flagged 4.7x on 10x data, SCALE.md lesson
    40): the registered query REBUILDS the corpus band state from
    text so the oracle can check it — that term is O(corpus) by
    construction and is exactly what a deployment amortizes by
    persisting state (the streaming loop does).  The probe decomposed
    the rest to sub-linear terms; the one real defect was this scan
    missing the parallelism guard every sibling dd query has."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    corpus_bands = dedup.lsh_band_keys(docs).select("band_key")
    fresh = docs.filter(F.col("doc_id") % 9 == 4)
    batch = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select((F.col("doc_id") + DOC_SHIFT).alias("doc_id"), "text")
        .unionByName(
            fresh.select(
                (F.col("doc_id") + 3 * DOC_SHIFT).alias("doc_id"),
                F.reverse(F.col("text")).alias("text"),
            )
        )
        .unionByName(
            fresh.select(
                (F.col("doc_id") + 4 * DOC_SHIFT).alias("doc_id"),
                F.reverse(F.col("text")).alias("text"),
            )
        )
        .unionByName(
            spark.range(1).select(
                F.lit(5 * DOC_SHIFT - 1).cast("long").alias("doc_id"),
                F.lit("").alias("text"),
            )
        )
    )
    return dedup.incremental_near_dedup(batch, corpus_bands)


S15_K = 3


@query(
    "s15_mutual_knn_graph",
    oracle="""
    WITH cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cent_id,
             embedding AS c_vec
      FROM embeddings
      QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (
        SELECT GREATEST({nmin}, LEAST({nmax},
                        CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)))
        FROM embeddings
      )
    ),
    cells AS (
      SELECT vec_id, embedding, cent_id AS cell FROM (
        SELECT t.vec_id, t.embedding, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY t.vec_id
                 ORDER BY {cos_tc} DESC, c.cent_id ASC) AS rn
        FROM embeddings t, cents c
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             {cos_ab} AS cos
      FROM cells a JOIN cells b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    directed AS (
      SELECT va AS src, vb AS dst, cos FROM pairs
      UNION ALL
      SELECT vb, va, cos FROM pairs
    ),
    ranked AS (
      SELECT src, dst, cos,
             ROW_NUMBER() OVER (
               PARTITION BY src ORDER BY cos DESC, dst ASC) AS rk
      FROM directed
    )
    SELECT least(src, dst) AS vec_a, greatest(src, dst) AS vec_b,
           MAX(cos) AS cos
    FROM ranked WHERE rk <= {k}
    GROUP BY least(src, dst), greatest(src, dst)
    HAVING COUNT(*) = 2
    """.replace("{cos_tc}", _sql_cosine("t.embedding", "c.c_vec"))
       .replace("{cos_ab}", _sql_cosine("a.embedding", "b.embedding"))
       .replace("{k}", str(S15_K))
       .replace("{nmin}", str(similarity.IVF_NLIST_MIN))
       .replace("{nmax}", str(similarity.IVF_NLIST_MAX)),
)
def s15_mutual_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN graph over the embedding corpus (k=3, IVF-cell
    candidates): the SemDeDup/coreset candidate structure. See
    operators/similarity.mutual_knn_graph — cell equi-join
    candidates, one scoring pass per undirected pair, per-source
    top-k window, mutuality as a 2-direction count.

    Cell count is SELF-SEEDED (VERDICT r6 #1c): ceil(√N) clamped
    cells from the nlist lowest-id seeds (N=500 → 23 cells at sf0.01,
    2,000 → 45 at sf0.1, 20,000 → 142 at sf1). The previous static
    nlist=16 made this the repo's worst sf0.1→sf1 scaler (8.9× on 10×
    data — within-cell pair work is O(N²/nlist)); the oracle replays
    the same CEIL(SQRT(COUNT(*))) + ROW_NUMBER lowest-id derivation.
    The auto cache-key suffix (|auto-k<k>-n<N>) keys the seed
    cache per corpus, replacing the old dd14-shared ivf16 key."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return similarity.mutual_knn_graph(
        emb,
        k=S15_K,
        centroids=similarity.auto_nlist,
        cache_key=f"ivfauto-s15|{sf_dir}",
    )


S16_K = 4


@query(
    "s16_margin_alignment",
    oracle="""
    WITH cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cent_id,
             embedding AS c_vec
      FROM embeddings
      QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (
        SELECT GREATEST({nmin}, LEAST({nmax},
                        CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)))
        FROM embeddings
      )
    ),
    xs AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
    ys AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
    xcells AS (
      SELECT vec_id, embedding, cent_id AS cell FROM (
        SELECT t.vec_id, t.embedding, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY t.vec_id
                 ORDER BY {cos_tc} DESC, c.cent_id ASC) AS rn
        FROM xs t, cents c
      ) WHERE rn = 1
    ),
    ycells AS (
      SELECT vec_id, embedding, cent_id AS cell FROM (
        SELECT t.vec_id, t.embedding, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY t.vec_id
                 ORDER BY {cos_tc} DESC, c.cent_id ASC) AS rn
        FROM ys t, cents c
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT x.vec_id AS x_id, y.vec_id AS y_id,
             {cos_xy} AS cos
      FROM xcells x JOIN ycells y ON x.cell = y.cell
    ),
    ax AS (
      SELECT x_id,
             list_reduce(l, (a, b) -> a + b) / len(l) AS avg_x
      FROM (
        SELECT x_id,
               list_slice(list_sort(list(cos), 'DESC'), 1, {k}) AS l
        FROM pairs GROUP BY x_id
      )
    ),
    ay AS (
      SELECT y_id,
             list_reduce(l, (a, b) -> a + b) / len(l) AS avg_y
      FROM (
        SELECT y_id,
               list_slice(list_sort(list(cos), 'DESC'), 1, {k}) AS l
        FROM pairs GROUP BY y_id
      )
    ),
    m AS (
      SELECT p.x_id, p.y_id, p.cos,
             CASE WHEN (avg_x + avg_y) / 2.0 > 0
                  THEN p.cos / ((avg_x + avg_y) / 2.0)
                  ELSE 0.0 END AS margin
      FROM pairs p JOIN ax USING (x_id) JOIN ay USING (y_id)
    )
    SELECT x_id, y_id, cos, margin FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY x_id ORDER BY margin DESC, y_id ASC) AS rk
      FROM m
    ) WHERE rk = 1
    """.replace("{cos_tc}", _sql_cosine("t.embedding", "c.c_vec"))
       .replace("{cos_xy}", _sql_cosine("x.embedding", "y.embedding"))
       .replace("{k}", str(S16_K))
       .replace("{nmin}", str(similarity.IVF_NLIST_MIN))
       .replace("{nmax}", str(similarity.IVF_NLIST_MAX)),
)
def s16_margin_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext/cross-corpus alignment (Artetxe & Schwenk
    2019's ratio margin — the xSIM/LASER mining criterion; VERDICT
    r10 #5): split the embedding corpus into two 'languages' (even /
    odd vec_ids standing in for source/target sides of a shared
    multilingual space), and for every x-side vector pick the best
    y-side alignment by cos(x,y) normalized by the mean of each
    side's top-k in-cell neighbor cosines — hubness divided out.
    Composes s15's machinery: shared self-seeded √N cells, candidate
    generation as the cell equi-join (never |X|x|Y|), strict-fold
    cosines, top-k means as sorted-multiset left folds (oracle
    replays identically). See operators/similarity.margin_alignment
    for the plan and the blocked-recall caveat."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    xs = emb.filter(F.col("vec_id") % 2 == 0)
    ys = emb.filter(F.col("vec_id") % 2 == 1)
    return similarity.margin_alignment(
        xs,
        ys,
        k=S16_K,
        centroids=similarity.auto_nlist,
        cache_key=f"ivfauto-s16|{sf_dir}",
    )


# ---------------------------------------------------------------------------
# Quality-rule filtering, PII scrubbing, unigram-surprisal bucketing
# (round-9 additions: the Gopher/CCNet-style corpus filters a
# 100 TB training-data pipeline runs between dedup and packing)
# ---------------------------------------------------------------------------

from trello_github_etl_spark.operators import pii as _pii  # noqa: E402
from trello_github_etl_spark.operators import (  # noqa: E402
    quality_rules as _qr,
)
from trello_github_etl_spark.operators.surprisal import (  # noqa: E402
    N_BUCKETS as _PPL_BUCKETS,
    stupid_backoff_surprisal,
    unigram_surprisal,
)

# Deterministic augmentation giving the line/symbol rules something
# to bite on (the synthetic corpus is single-line, symbol-free word
# salad): every %5==0 doc becomes a bullet list, %5==1 gains
# ellipsis-terminated lines, %5==2 gains a '#' run. Identical
# transform on both engines — replace() is left-to-right
# non-overlapping in both, chr(10) == "\n".
_SQL_QUALITY_AUG = """
    SELECT doc_id,
      CASE doc_id % 5
        WHEN 0 THEN '- ' || replace(text, ' the ', chr(10) || '- ')
        WHEN 1 THEN text || '...' || chr(10) || 'to be continued...'
        WHEN 2 THEN text || ' ' || repeat('# ', 12)
        ELSE text END AS text
    FROM documents
"""


def _quality_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    m = F.col("doc_id") % 5
    aug = (
        F.when(
            m == 0,
            F.concat(
                F.lit("- "),
                F.replace(F.col("text"), F.lit(" the "), F.lit("\n- ")),
            ),
        )
        .when(m == 1, F.concat("text", F.lit("...\nto be continued...")))
        .when(m == 2, F.concat("text", F.lit(" "), F.repeat(F.lit("# "), 12)))
        .otherwise(F.col("text"))
    )
    return docs.select("doc_id", aug.alias("text"))


_SQL_REQ_STOPS = "[" + ", ".join(
    f"'{s}'" for s in _qr.REQUIRED_STOPWORDS
) + "]"

# The Gopher rule CTEs + final flag SELECT over a prior CTE
# ``aug(doc_id, text)`` — single-homed so t17's oracle (augmented
# corpus) and pipe11's (plain documents) splice the SAME thresholds
_T17_RULES_SQL = f"""
    toks AS (
      SELECT doc_id, text, {SQL_TOKENS.format(t='text')} AS tk,
             string_split(text, chr(10)) AS lns
      FROM aug
    ),
    parts AS (
      SELECT doc_id, len(tk) AS n_words,
        CASE WHEN len(tk) = 0 THEN NULL
             ELSE CAST(list_reduce(list_transform(tk, x -> length(x)),
                                   (a,b) -> a+b) AS DOUBLE) / len(tk)
        END AS mean_len,
        len(regexp_extract_all(text, '#'))
          + len(regexp_extract_all(text, '\\.\\.\\.')) AS syms,
        len(lns) AS n_lines,
        len(list_filter(lns, x -> x LIKE '- %' OR x LIKE '* %')) AS bullets,
        len(list_filter(lns, x -> x LIKE '%...')) AS ells,
        len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS alpha,
        len(list_filter({_SQL_REQ_STOPS}, s -> list_contains(tk, s))) AS hits
      FROM toks
    )
    SELECT doc_id, n_words,
      n_words BETWEEN {_qr.MIN_WORDS} AND {_qr.MAX_WORDS} AS r_word_count,
      COALESCE(mean_len >= {_qr.MIN_MEAN_WORD_LEN}
               AND mean_len <= {_qr.MAX_MEAN_WORD_LEN}, FALSE) AS r_mean_len,
      CASE WHEN n_words = 0 THEN FALSE
           ELSE CAST(syms AS DOUBLE) / n_words <= {_qr.MAX_SYMBOL_WORD_RATIO}
      END AS r_symbol,
      CAST(bullets AS DOUBLE) / n_lines
        <= {_qr.MAX_BULLET_LINE_RATIO} AS r_bullet,
      CAST(ells AS DOUBLE) / n_lines
        <= {_qr.MAX_ELLIPSIS_LINE_RATIO} AS r_ellipsis,
      CASE WHEN n_words = 0 THEN FALSE
           ELSE CAST(alpha AS DOUBLE) / n_words >= {_qr.MIN_ALPHA_WORD_RATIO}
      END AS r_alpha,
      hits >= {_qr.MIN_REQUIRED_STOPWORDS} AS r_stop,
      (n_words BETWEEN {_qr.MIN_WORDS} AND {_qr.MAX_WORDS})
        AND COALESCE(mean_len >= {_qr.MIN_MEAN_WORD_LEN}
                     AND mean_len <= {_qr.MAX_MEAN_WORD_LEN}, FALSE)
        AND (CASE WHEN n_words = 0 THEN FALSE
                  ELSE CAST(syms AS DOUBLE) / n_words
                       <= {_qr.MAX_SYMBOL_WORD_RATIO} END)
        AND CAST(bullets AS DOUBLE) / n_lines <= {_qr.MAX_BULLET_LINE_RATIO}
        AND CAST(ells AS DOUBLE) / n_lines <= {_qr.MAX_ELLIPSIS_LINE_RATIO}
        AND (CASE WHEN n_words = 0 THEN FALSE
                  ELSE CAST(alpha AS DOUBLE) / n_words
                       >= {_qr.MIN_ALPHA_WORD_RATIO} END)
        AND hits >= {_qr.MIN_REQUIRED_STOPWORDS} AS keep
    FROM parts
"""

_T17_ORACLE = f"""
    WITH aug AS ({_SQL_QUALITY_AUG}),
    {_T17_RULES_SQL}
"""


@query("t17_gopher_quality_rules", oracle=_T17_ORACLE)
def t17_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText document-quality rule flags (public paper
    thresholds — operators/quality_rules.py holds them as the ONE
    definition both engines splice): word-count bounds, mean word
    length, symbol-to-word ratio, bullet/ellipsis line fractions,
    alpha-word fraction, required-stopword hits, and their
    conjunction ``keep``. Pure codegen map stage — no UDF, no
    shuffle; at 100 TB this fuses into the scan. Every ratio is a
    single int/int->double division (IEEE-exact both engines)."""
    return _gopher_flags(_quality_aug(spark, sf_dir))


def _gopher_flags(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, r_*, keep) over ``docs(doc_id, text)`` —
    t17's core, factored so pipe11 can run the SAME rule trees over
    the plain corpus (the oracle twin is _T17_RULES_SQL)."""
    shared = docs.select(
        "doc_id", "text", textstats.tokens(F.col("text")).alias("_tk")
    )
    rules = _qr.gopher_rules(F.col("_tk"), F.col("text"))
    # project the rule trees ONCE, then take keep as the conjunction
    # of the projected columns — inlining rules["keep"] would run
    # every HOF tree twice (lesson 38: no subexpression elimination
    # across HOF-bearing select lists)
    ruled = shared.select(
        "doc_id",
        F.size("_tk").alias("n_words"),
        *[rules[c].alias(c) for c in _qr.RULE_COLS],
    )
    keep = None
    for c in _qr.RULE_COLS:
        keep = F.col(c) if keep is None else keep & F.col(c)
    return ruled.withColumn("keep", keep)


# PII augmentation: plant one deterministic email / IPv4 / phone per
# %4 residue class so the scrubber demonstrably fires (the corpus is
# digit-free word salad). Shared shape with the Spark builder below.
_SQL_PII_AUG = """
    SELECT doc_id,
      CASE doc_id % 4
        WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com now'
        WHEN 1 THEN text || ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
                    || '.0.' || CAST(doc_id % 250 AS VARCHAR) || ' up'
        WHEN 2 THEN text || ' call 555-01'
                    || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                    || ' today'
        ELSE text END AS text
    FROM documents
"""


def _pii_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    m = F.col("doc_id") % 4
    sid = F.col("doc_id").cast("string")
    aug = (
        F.when(
            m == 0,
            F.concat(
                "text", F.lit(" contact user"), sid, F.lit("@example.com now")
            ),
        )
        .when(
            m == 1,
            F.concat(
                "text",
                F.lit(" from 10."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".0."),
                (F.col("doc_id") % 250).cast("string"),
                F.lit(" up"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                "text",
                F.lit(" call 555-01"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                F.lit(" today"),
            ),
        )
        .otherwise(F.col("text"))
    )
    return docs.select("doc_id", aug.alias("text"))


# plain concatenation, NOT an f-string: the regexes carry {m,n}
# bounded-repetition braces
_T18_ORACLE = (
    """
    WITH aug AS ("""
    + _SQL_PII_AUG
    + """),
    s1 AS (
      SELECT doc_id,
        len(regexp_extract_all(text, '"""
    + _pii.EMAIL_RE
    + """')) AS n_emails,
        regexp_replace(text, '"""
    + _pii.EMAIL_RE
    + "', '"
    + _pii.EMAIL_TOKEN
    + """', 'g') AS t1
      FROM aug
    ),
    s2 AS (
      SELECT doc_id, n_emails,
        len(regexp_extract_all(t1, '"""
    + _pii.IPV4_RE
    + """')) AS n_ips,
        regexp_replace(t1, '"""
    + _pii.IPV4_RE
    + "', '"
    + _pii.IP_TOKEN
    + """', 'g') AS t2
      FROM s1
    )
    SELECT doc_id, n_emails, n_ips,
      len(regexp_extract_all(t2, '"""
    + _pii.PHONE_RE
    + """')) AS n_phones,
      md5(regexp_replace(t2, '"""
    + _pii.PHONE_RE
    + "', '"
    + _pii.PHONE_TOKEN
    + """', 'g')) AS scrub_fp,
      length(regexp_replace(t2, '"""
    + _pii.PHONE_RE
    + "', '"
    + _pii.PHONE_TOKEN
    + """', 'g')) AS scrub_len
    FROM s2
    """
)


@query("t18_pii_scrub", oracle=_T18_ORACLE)
def t18_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus (emails -> <EMAIL>, IPv4 ->
    <IP>, phone-like -> <PHONE>), with per-stage match counts and a
    fingerprint of the scrubbed text. operators/pii.py owns the
    regexes (Java-regex/RE2 common subset) and the scrub ORDER —
    the oracle splices the same constants. Narrow map stage, no
    shuffle; the planted PII (one DIFFERENT item per %4 residue
    class, id-derived so every doc's match is distinct) proves each
    pattern fires on every engine. Extends t7_pii_redaction (the
    minimal ride-along email/phone mask with a constant tail): adds
    the IP class, the ordered per-stage count contract (each count
    taken on the text its replacement saw — the email pass must
    consume digit runs before the numeric patterns nibble them,
    pinned by test), and the reusable scrub_pii operator."""
    aug = _pii_aug(spark, sf_dir)
    cols = _pii.scrub_pii(F.col("text"))
    return aug.select(
        "doc_id",
        cols["n_emails"].alias("n_emails"),
        cols["n_ips"].alias("n_ips"),
        cols["n_phones"].alias("n_phones"),
        F.md5(cols["scrubbed"]).alias("scrub_fp"),
        F.length(cols["scrubbed"]).alias("scrub_len"),
    )


# format('{:b}', q) renders the integer quotient in binary — braces
# again, so concatenation
_T19_ORACLE = (
    """
    WITH tok AS (
      SELECT doc_id, unnest("""
    + SQL_TOKENS.format(t="text")
    + """) AS w FROM documents
    ),
    freq AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
    tot AS (SELECT count(*) AS total FROM tok),
    sup AS (
      SELECT w, length(format('{:b}', total // cnt)) AS s
      FROM freq, tot
    ),
    per AS (
      SELECT t.doc_id, count(*) AS n_scored,
             CAST(sum(s) AS BIGINT) AS sum_surprisal
      FROM tok t JOIN sup USING (w) GROUP BY t.doc_id
    )
    SELECT doc_id, n_scored, sum_surprisal,
      ntile("""
    + str(_PPL_BUCKETS)
    + """) OVER (
        ORDER BY CAST(sum_surprisal AS DOUBLE) / n_scored, doc_id
      ) AS ppl_bucket
    FROM per
    """
)


@query("t19_unigram_surprisal_buckets", oracle=_T19_ORACLE)
def t19_unigram_surprisal_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-style perplexity bucketing with the corpus's own unigram
    counts as the LM: per-token INTEGER surprisal floor(log2(
    total/count))+1 via length(bin(q)) — engine-exact where libm ln
    is not — summed per doc, one IEEE-exact division for the
    average, and a decile bucket. The bucket is a distributed exact
    ntile (operators/ranking.with_global_ntile): range-repartition +
    per-partition row_number + broadcast offsets, NOT the
    single-task partitionless window the naive plan would use. The
    vocab side broadcasts (vocabulary << corpus). Docs with zero
    tokens drop on both engines (inner explode/unnest).

    r12 driver red (hash_match false on first driver exposure, green
    in every local harness) — two divergence surfaces closed r13:
    (1) the oracle's bare sum(s) returned DuckDB HUGEINT (int128);
    a driver-side duckdb that fetches HUGEINT into pandas as float64
    renders '157.0' against Spark's '157' — now CAST(... AS BIGINT)
    like t21's CTE (which passed the same driver run); (2) the raw
    DOUBLE avg_surprisal is dropped from the hashed output (it is
    redundant: = sum_surprisal/n_scored, both exact integers; the
    double survives internally as the ntile sort key).
    t19d_surprisal_column_fps fingerprints each column separately so
    any residual driver divergence names its column."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    shared = docs.select(
        "doc_id", textstats.tokens(F.col("text")).alias("_tk")
    )
    return unigram_surprisal(shared, id_col="doc_id", toks_col="_tk")


# t19d: one md5 per t19 output column. The inner query is _T19_ORACLE's
# text verbatim-by-construction (same CTE chain), so a driver
# divergence in any single column flips exactly that fingerprint.
_T19D_ORACLE = (
    """
    WITH tok AS (
      SELECT doc_id, unnest("""
    + SQL_TOKENS.format(t="text")
    + """) AS w FROM documents
    ),
    freq AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
    tot AS (SELECT count(*) AS total FROM tok),
    sup AS (
      SELECT w, length(format('{:b}', total // cnt)) AS s
      FROM freq, tot
    ),
    per AS (
      SELECT t.doc_id, count(*) AS n_scored,
             CAST(sum(s) AS BIGINT) AS sum_surprisal
      FROM tok t JOIN sup USING (w) GROUP BY t.doc_id
    ),
    outq AS (
      SELECT doc_id, n_scored, sum_surprisal,
        ntile("""
    + str(_PPL_BUCKETS)
    + """) OVER (
          ORDER BY CAST(sum_surprisal AS DOUBLE) / n_scored, doc_id
        ) AS ppl_bucket
      FROM per
    )
    SELECT
      CAST(count(*) AS BIGINT) AS n_rows,
      md5(array_to_string(list_sort(list(doc_id)), ',')) AS fp_doc_id,
      md5(array_to_string(list_sort(list(n_scored)), ','))
        AS fp_n_scored,
      md5(array_to_string(list_sort(list(sum_surprisal)), ','))
        AS fp_sum_surprisal,
      md5(array_to_string(list_sort(list(ppl_bucket)), ','))
        AS fp_ppl_bucket,
      md5(array_to_string(list_sort(list(
        CAST(sum_surprisal AS VARCHAR) || '/' || CAST(n_scored AS VARCHAR)
      )), ',')) AS fp_avg_pairs
    FROM outq
    """
)


@query("t19d_surprisal_column_fps", oracle=_T19D_ORACLE)
def t19d_surprisal_column_fps(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DIAGNOSTIC for the r12 t19 driver red (VERDICT r12 #1a): one
    row whose columns are an md5 fingerprint of EACH t19 output
    column separately (values sorted, stringified, comma-joined),
    plus fp_avg_pairs — the dropped DOUBLE average represented
    exactly as 'sum/n' integer pairs. Every output is a string or a
    long, so the driver's hash canonicalization has no float or
    int128 surface left to diverge on; if t19's machinery itself
    ever diverges in the driver environment, the red fingerprint
    NAMES the divergent column in CORRECTNESS_r*.json.

    NOT a scale path (this is gate instrumentation): the per-column
    collect_list pulls one array of scalars per column into a single
    reduce task — bounded by the corpus row count, fine at gate SFs,
    deliberately not registered in any bench headline."""
    base = t19_unigram_surprisal_buckets(spark, sf_dir)

    def _fp(col: F.Column) -> F.Column:
        return F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(col)),
                    lambda v: v.cast("string"),
                ),
            )
        )

    return base.agg(
        F.count("*").alias("n_rows"),
        _fp(F.col("doc_id")).alias("fp_doc_id"),
        _fp(F.col("n_scored")).alias("fp_n_scored"),
        _fp(F.col("sum_surprisal")).alias("fp_sum_surprisal"),
        _fp(F.col("ppl_bucket")).alias("fp_ppl_bucket"),
        _fp(
            F.concat_ws(
                "/",
                F.col("sum_surprisal").cast("string"),
                F.col("n_scored").cast("string"),
            )
        ).alias("fp_avg_pairs"),
    )


from trello_github_etl_spark.operators.span_dedup import (  # noqa: E402
    KGRAM_WORDS as _KGRAM,
    TILE_WORDS as _TILE,
    repeated_kgram_spans as _repeated_kgram_spans,
    span_dedup as _span_dedup,
)

# keeper election key: the oracle packs (doc_id, tile_idx) into one
# bigint (tile_idx < 2^20 everywhere the oracle runs — docs cap out
# at ~70 tiles here); the Spark side elects min(struct(doc_id,
# tile_idx)) — identical lexicographic order under that bound
_DD28_ORACLE = (
    """
    WITH toks AS (
      SELECT doc_id, """
    + SQL_TOKENS.format(t="text")
    + """ AS tk FROM documents
    ),
    tiles AS (
      SELECT doc_id, CAST(i AS INT) AS tile_idx,
        array_to_string(
          list_slice(tk, i*{T}+1, i*{T}+{T}), ' ') AS tile_text,
        md5(array_to_string(
          list_slice(tk, i*{T}+1, i*{T}+{T}), ' ')) AS tile_key
      FROM toks,
        UNNEST(range(0, CAST(CEIL(len(tk)/{T}.0) AS BIGINT))) AS u(i)
      WHERE len(tk) > 0
    ),
    firsts AS (
      SELECT tile_key,
             MIN(doc_id * 1048576 + tile_idx) AS fkey
      FROM tiles GROUP BY tile_key
    ),
    marked AS (
      SELECT t.doc_id, t.tile_idx, t.tile_text,
             (t.doc_id * 1048576 + t.tile_idx) = f.fkey AS keep
      FROM tiles t JOIN firsts f USING (tile_key)
    )
    SELECT doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_tiles,
      CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
      md5(COALESCE(
        string_agg(tile_text, ' ' ORDER BY tile_idx)
          FILTER (WHERE keep), '')) AS cleaned_fp,
      length(COALESCE(
        string_agg(tile_text, ' ' ORDER BY tile_idx)
          FILTER (WHERE keep), '')) AS cleaned_len
    FROM marked GROUP BY doc_id
    """.replace("{T}", str(_TILE))
)


@query("dd28_span_dedup", oracle=_DD28_ORACLE)
def dd28_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide duplicate-SPAN removal (Raffel et al.
    2020 §2.2): the dedup granularity between exact-doc (dd1) and
    near-doc (dd3) — boilerplate repeated across documents survives
    both and is stripped here everywhere but its global first
    occurrence. Tiles of TILE_WORDS words, one groupBy(tile_key)
    keeper election, equi-join back on the md5-uniform key, per-doc
    rebuild via order-insensitive collect + array_sort (no window,
    no driver collect). See operators/span_dedup.py for the scale
    shape; hot boilerplate keys are the AQE skew-join case."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    shared = docs.select(
        "doc_id", textstats.tokens(F.col("text")).alias("_tk")
    )
    return _span_dedup(shared, id_col="doc_id", toks_col="_tk")


@query(
    "dd29_containment_pairs",
    oracle=f"""
    WITH docs AS ({SQL_AUGMENTED_DOCS}),
    toks AS (
      SELECT doc_id, lang, {SQL_TOKENS.format(t='text')} AS tk FROM docs
    ),
    sh AS (
      SELECT doc_id, lang, unnest({SQL_SHINGLES3.format(toks='tk')}) AS shingle
      FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / sa.n_sh AS c_ab,
           CAST(n_common AS DOUBLE) / sb.n_sh AS c_ba
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE GREATEST(CAST(n_common AS DOUBLE) / sa.n_sh,
                   CAST(n_common AS DOUBLE) / sb.n_sh) >= 0.9
    """,
)
def dd29_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment dedup (Broder 1997's containment, vs
    dd5's resemblance): pairs where either doc's shingle set sits
    >= 90% inside the other's — the quote-inclusion case symmetric
    Jaccard structurally misses (a short doc embedded in a long one
    scores Jaccard ~|A|/|B| but containment 1.0). Shares dd5's
    candidate machinery (operators/dedup._shingle_pair_counts: one
    shingle-hash shuffle, in-group pair expansion, df-cap lever
    available); over the augmented corpus the suffix near-copies
    land at c_ab = 1.0 > c_ba, receipting the directionality.
    Quadratic-work BASELINE (declared work model): dd30 is the
    registered production twin with the df cap engaged."""
    return dedup.containment_pairs(_augmented_docs(spark, sf_dir))


# Registered df-cap for dd30 (single-homed; see DD7_MAX_SHINGLE_DF).
DD30_MAX_SHINGLE_DF = 20


@query(
    "dd30_containment_capped",
    oracle=f"""
    WITH docs AS ({SQL_AUGMENTED_DOCS}),
    toks AS (
      SELECT doc_id, lang, {SQL_TOKENS.format(t='text')} AS tk FROM docs
    ),
    sh_all AS (
      SELECT doc_id, lang, unnest({SQL_SHINGLES3.format(toks='tk')}) AS shingle
      FROM toks
    ),
    rare AS (
      SELECT shingle FROM sh_all
      GROUP BY shingle HAVING COUNT(DISTINCT doc_id) <= {DD30_MAX_SHINGLE_DF}
    ),
    sh AS (
      SELECT sh_all.* FROM sh_all JOIN rare USING (shingle)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / sa.n_sh AS c_ab,
           CAST(n_common AS DOUBLE) / sb.n_sh AS c_ba
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE GREATEST(CAST(n_common AS DOUBLE) / sa.n_sh,
                   CAST(n_common AS DOUBLE) / sb.n_sh) >= 0.9
    """,
)
def dd30_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd29 with the shingle-df cap engaged (df <= 20) — the
    production scale path, completing the capped-sibling invariant
    every quadratic pair baseline in the repo carries (dd5→dd7,
    dd12→dd13, dd3→dd27; r9 VERDICT #1). A shingle in d docs emits
    O(d²) candidate pairs; the cap drops candidate GENERATION for
    boilerplate shingles before expansion while numerator AND both
    denominators count the same df-filtered sets (the semantics the
    oracle replays; unit-pinned by the quote-inclusion cap test).
    Measured lever at sf5 (BENCH_sf5_r9ops.json): 329.8 s uncapped
    → 10.9 s capped on 50× data. True containments survive: a doc
    embedded in another shares RARE shingles with it too, so
    capping hot shingles costs recall only on pairs whose entire
    overlap is corpus-wide boilerplate — exactly the pairs
    containment dedup exists to ignore."""
    return dedup.containment_pairs(
        _augmented_docs(spark, sf_dir), max_shingle_df=DD30_MAX_SHINGLE_DF
    )


def _dd33_ctes(src: str) -> str:
    """dd33's posting-list/repeated-keys/gaps-and-islands CTE chain
    over a prior CTE ``src(doc_id, text)``, ending at ``d33_per_isl``
    (one row per maximal span) — single-homed so the dd33 oracle and
    pipe13's repetition axis replay the SAME SQL (the pipe12/_t21_ctes
    discipline). ``d33_toks`` stays visible for per-doc token counts."""
    return (
        """
    d33_toks AS (
      SELECT doc_id, """
        + SQL_TOKENS.format(t="text")
        + """ AS tk FROM """
        + src
        + """
    ),
    d33_post AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(
               list_slice(tk, i+1, i+{K}), ' ')) AS kgram_key
      FROM d33_toks,
        UNNEST(range(0, greatest(len(tk)-{K}+1, 0))) AS u(i)
    ),
    d33_rep AS (
      SELECT kgram_key FROM d33_post
      GROUP BY kgram_key HAVING COUNT(*) >= 2
    ),
    d33_marked AS (
      SELECT doc_id, pos FROM d33_post JOIN d33_rep USING (kgram_key)
    ),
    d33_flag AS (
      SELECT doc_id, pos,
        CASE WHEN lag(pos) OVER w IS NULL
               OR pos > lag(pos) OVER w + {K}
             THEN 1 ELSE 0 END AS is_new
      FROM d33_marked
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    d33_isl AS (
      SELECT doc_id, pos,
        SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
      FROM d33_flag
    ),
    d33_per_isl AS (
      SELECT doc_id, isl_id, MIN(pos) AS strt,
             MAX(pos) + {K} AS spanend, COUNT(*) AS n_pos
      FROM d33_isl GROUP BY doc_id, isl_id
    )
    """.replace("{K}", str(_KGRAM))
    )


_DD33_ORACLE = (
    """
    WITH docs AS ("""
    + SQL_AUGMENTED_DOCS
    + """),
    """
    + _dd33_ctes("docs")
    + """
    SELECT doc_id,
      CAST(SUM(n_pos) AS BIGINT) AS n_marked,
      CAST(COUNT(*) AS BIGINT) AS n_spans,
      CAST(SUM(spanend - strt) AS BIGINT) AS dup_tokens,
      md5(string_agg(
        CAST(strt AS VARCHAR) || ':' || CAST(spanend AS VARCHAR),
        ';' ORDER BY strt)) AS span_fp
    FROM d33_per_isl GROUP BY doc_id
    """
)


@query("dd33_repeated_kgram_spans", oracle=_DD33_ORACLE)
def dd33_repeated_kgram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array-style repeated-substring detection (Lee et al.
    2021's ExactSubstr dedup), the alignment-free sibling dd28's
    fixed tiles cannot be: sliding KGRAM_WORDS-word windows (stride
    1) catch a duplicated run at ANY token offset, merged per doc
    into maximal half-open spans. Runs over the augmented corpus:
    exact re-crawls mark whole docs end-to-end, ' extraword' near
    copies mark everything but the tail, and the base corpus's own
    natural boilerplate shows up as partial spans. Linear — one
    map-side-combined occurrence count, one equi-join on the
    md5-uniform k-gram key, one doc-keyed gaps-and-islands window;
    doc pairs are never materialized (see
    operators/span_dedup.repeated_kgram_spans for the scale
    contract)."""
    docs = ensure_parallelism(_augmented_docs(spark, sf_dir))
    shared = docs.select(
        "doc_id", textstats.tokens(F.col("text")).alias("_tk")
    )
    return _repeated_kgram_spans(shared, id_col="doc_id", toks_col="_tk")


# ---------------------------------------------------------------------------
# dd31 — URL/provenance canonical dedup (functions/urls.py)
# ---------------------------------------------------------------------------
# Deterministic messy-URL derivation shared by the Spark query and
# the oracle: the testdata carries no URL column, so provenance is
# synthesized from doc_id — the same page identity (e = doc_id DIV 3,
# canonical parts from e) spelled with rotating scheme/host case,
# www. labels, default :80 ports, tracking params in varying order,
# fragments, and trailing slashes (messy parts from doc_id's other
# residues, so every cluster mixes spellings). Docs with equal
# (e % 1000) share a canonical URL — clusters of ~3 at sf0.01,
# growing with the corpus like real crawl re-fetch rates.
SQL_MESSY_URL = """
      (CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP' ELSE 'Http' END)
      || '://'
      || (CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN 'www.'
          WHEN 2 THEN 'WWW.' ELSE 'wWw.' END)
      || (CASE doc_id % 2 WHEN 0 THEN 'Site' ELSE 'site' END)
      || CAST((doc_id // 3) % 1000 AS VARCHAR)
      || (CASE doc_id % 3 WHEN 0 THEN '.COM' ELSE '.com' END)
      || (CASE WHEN doc_id % 7 < 3 THEN ':80' ELSE '' END)
      || '/p/item' || CAST((doc_id // 3) % 50 AS VARCHAR)
      || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
      || (CASE doc_id % 4
          WHEN 0 THEN '?utm_source=feed&id=' || CAST((doc_id // 3) % 100 AS VARCHAR)
          WHEN 1 THEN '?id=' || CAST((doc_id // 3) % 100 AS VARCHAR) || '&utm_campaign=x'
          WHEN 2 THEN '?id=' || CAST((doc_id // 3) % 100 AS VARCHAR) || '&fbclid=f' || CAST(doc_id AS VARCHAR)
          ELSE '?gclid=g' || CAST(doc_id AS VARCHAR) || '&id=' || CAST((doc_id // 3) % 100 AS VARCHAR) END)
      || (CASE WHEN doc_id % 3 = 0 THEN '#sec' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END)
"""


def _messy_url(d: F.Column) -> F.Column:
    """Spark twin of SQL_MESSY_URL (same residue arithmetic)."""
    def cs(x: F.Column) -> F.Column:
        return x.cast("string")

    # derive e from the PASSED column, not a hardcoded name (post-r10
    # review: F.expr("doc_id DIV 3") would silently mix columns for
    # any caller passing a renamed id). (d - d%3)/3 is exact in
    # double for any non-negative id below 2^52.
    e = ((d - (d % 3)) / F.lit(3)).cast("long")
    idp = cs(e % 100)
    scheme = (
        F.when(d % 3 == 0, F.lit("http"))
        .when(d % 3 == 1, F.lit("HTTP"))
        .otherwise(F.lit("Http"))
    )
    www = (
        F.when(d % 4 == 0, F.lit(""))
        .when(d % 4 == 1, F.lit("www."))
        .when(d % 4 == 2, F.lit("WWW."))
        .otherwise(F.lit("wWw."))
    )
    host = F.concat(
        F.when(d % 2 == 0, F.lit("Site")).otherwise(F.lit("site")),
        cs(e % 1000),
        F.when(d % 3 == 0, F.lit(".COM")).otherwise(F.lit(".com")),
    )
    port = F.when(d % 7 < 3, F.lit(":80")).otherwise(F.lit(""))
    path = F.concat(
        F.lit("/p/item"),
        cs(e % 50),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    q = (
        F.when(d % 4 == 0, F.concat(F.lit("?utm_source=feed&id="), idp))
        .when(d % 4 == 1, F.concat(F.lit("?id="), idp, F.lit("&utm_campaign=x")))
        .when(d % 4 == 2, F.concat(F.lit("?id="), idp, F.lit("&fbclid=f"), cs(d)))
        .otherwise(F.concat(F.lit("?gclid=g"), cs(d), F.lit("&id="), idp))
    )
    frag = F.when(
        d % 3 == 0, F.concat(F.lit("#sec"), cs(d % 7))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), www, host, port, path, q, frag)


# The six canonicalization rules as DuckDB CTEs over a prior CTE
# ``u(doc_id, url)`` — single-homed so the dd31 oracle and the
# cross-engine property test (tests/test_urls.py) replay the SAME
# SQL and can never drift from each other (only from
# functions/urls.py, which is exactly what both exist to check).
SQL_URL_CANON_CTES = """
    c1 AS (
      SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag FROM u
    ),
    c2 AS (
      SELECT doc_id, url,
        lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
        regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS rest
      FROM c1
    ),
    c3 AS (
      SELECT doc_id, url, scheme,
        regexp_extract(rest, '^([^/?]*)', 1) AS authority_raw,
        regexp_replace(rest, '^[^/?]*', '') AS path_query
      FROM c2
    ),
    c3b AS (
      SELECT doc_id, url, scheme, path_query,
        regexp_extract(authority_raw, '^(.*@)', 1) AS userinfo,
        lower(regexp_replace(authority_raw, '^.*@', '')) AS authority
      FROM c3
    ),
    c4 AS (
      SELECT doc_id, url, scheme, path_query, userinfo,
        regexp_extract(authority, ':([0-9]+)$', 1) AS port,
        regexp_replace(regexp_replace(authority, ':[0-9]+$', ''), '^www\\.', '') AS host
      FROM c3b
    ),
    c5 AS (
      SELECT doc_id, url, scheme, userinfo, host,
        CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                  OR (scheme = 'https' AND port = '443')
             THEN '' ELSE ':' || port END AS canon_port,
        regexp_extract(path_query, '^([^?]*)', 1) AS raw_path,
        regexp_replace(path_query, '^[^?]*', '') AS raw_query
      FROM c4
    ),
    c6 AS (
      SELECT doc_id, url, scheme, userinfo, host, canon_port,
        CASE WHEN regexp_replace(raw_path, '/+$', '') = '' THEN '/'
             ELSE regexp_replace(raw_path, '/+$', '') END AS canon_path,
        list_sort(list_filter(
          string_split(
            CASE WHEN raw_query = '' THEN '' ELSE substr(raw_query, 2) END,
            '&'),
          p -> p <> '' AND NOT regexp_matches(
            p, '^(utm_[a-zA-Z]+|gclid|fbclid|msclkid|mc_eid)=')
        )) AS params
      FROM c5
    ),
    c AS (
      SELECT doc_id, url,
        scheme || '://' || userinfo || host || canon_port || canon_path ||
        CASE WHEN len(params) = 0 THEN ''
             ELSE '?' || array_to_string(params, '&') END AS canon_url
      FROM c6
    )
    """

# The keeper election over the canonical URL — lowest doc_id per
# canon_url group wins (window MIN; re-fetches lose). Single-homed
# (r11 ADVICE): dd31's verdict/keeper_id, pipe11's k CTE and
# pipe13's keep_u all splice THESE two fragments, so a future change
# to the election rule (e.g. keep-best-quality) cannot silently
# leave one composed stack on the old rule while dd31 moves.
SQL_URL_KEEPER_MIN = "MIN(doc_id) OVER (PARTITION BY canon_url)"
SQL_URL_KEEPER_PRED = f"doc_id = {SQL_URL_KEEPER_MIN}"


@query(
    "dd31_url_canonical_dedup",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, {SQL_MESSY_URL} AS url FROM documents
    ),
    {SQL_URL_CANON_CTES}
    SELECT doc_id, url, canon_url,
           {SQL_URL_KEEPER_MIN} AS keeper_id,
           CASE WHEN {SQL_URL_KEEPER_PRED}
                THEN 'kept' ELSE 'dup_url' END AS verdict
    FROM c
    """,
)
def dd31_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance dedup by canonicalized URL — the dedup granularity
    BEFORE any text operator runs in a crawl pipeline (dd1 is
    text-exact; two fetches of one page differ textually but share
    provenance). functions/urls.canonicalize_url applies the six
    RFC-3986-subset rules (fragment, case, www, default port,
    tracking params + param sort, trailing slash) as one pure-builtin
    codegen projection fused into the scan; the keeper election is a
    single hash shuffle on canon_url (window MIN over the canonical
    key — provenance clusters are small and bounded in real corpora,
    so the keyed window never sees a giant partition; a corpus with
    adversarial URL skew would swap in the groupBy+join twin with
    AQE skew handling, same semantics)."""
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    c = docs.select(
        "doc_id", _messy_url(F.col("doc_id")).alias("url")
    ).withColumn("canon_url", urls.canonicalize_url(F.col("url")))
    w = Window.partitionBy("canon_url")
    return (
        c.withColumn("keeper_id", F.min("doc_id").over(w))
        .withColumn(
            "verdict",
            F.when(F.col("doc_id") == F.col("keeper_id"), "kept").otherwise(
                "dup_url"
            ),
        )
    )


# ---------------------------------------------------------------------------
# t20 — hashed linear quality-classifier deciles (operators/classifier.py)
# ---------------------------------------------------------------------------
# weight of one bigram b: second-level h60 of the bucket's decimal
# string, centered to [-1024, 1023] — built by nesting the SQL_H60
# macro so the oracle and operators/classifier.py can never drift on
# hash width or bucket count
_SQL_CLF_W = (
    SQL_H60.format(x=f"CAST({SQL_H60.format(x='b')} % 65536 AS VARCHAR)")
    + " % 2048 - 1024"
)

_T20C_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS.format(t='text')} AS tk FROM documents
    ),
    bg AS (
      SELECT doc_id,
        list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
          i -> tk[i] || ' ' || tk[i + 1]) AS bgs
      FROM toks
    ),
    feat AS (
      SELECT doc_id,
        CAST(len(bgs) AS BIGINT) AS n_feats,
        CAST(COALESCE(list_aggregate(
          list_transform(bgs, b -> {_SQL_CLF_W}), 'sum'), 0) AS BIGINT)
          AS score
      FROM bg
    ),
    scored AS (
      SELECT doc_id, n_feats, score,
        CASE WHEN n_feats = 0 THEN 0.0
             ELSE CAST(score AS DOUBLE) / n_feats END AS avg_score
      FROM feat
    )
    SELECT doc_id, n_feats, score, avg_score,
      ntile(10) OVER (ORDER BY avg_score, doc_id) AS clf_decile
    FROM scored
    """


@query("t20_quality_classifier_deciles", oracle=_T20C_ORACLE)
def t20_quality_classifier_deciles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """fastText-style hashed linear classifier scoring (CCNet/DCLM's
    quality filter shape, Joulin et al. 2017 + the hashing trick,
    Weinberger et al. 2009): bucket = h60(bigram) mod 2^16, weight =
    centered h60 of the bucket (deterministic stand-in for trained
    weights — colliding bigrams SHARE weights by construction, the
    property that makes it a hashed linear model), score = exact
    integer dot product folded scan-side (F.aggregate over the
    bigram array: ZERO shuffles — no explode, no weights join),
    decile via the distributed exact ntile (t19's machinery). A
    trained model swaps bucket_weight for a broadcast (bucket,
    weight) table join; see operators/classifier.py."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    shared = docs.select(
        "doc_id", textstats.tokens(F.col("text")).alias("_tk")
    )
    return classifier.score_documents(shared)


# ---------------------------------------------------------------------------
# t21 — stupid-backoff bigram-LM perplexity deciles (held-out LM)
# ---------------------------------------------------------------------------
# Deterministic augmentation: the synthetic corpus is word salad
# from a ~40-word vocabulary, so the two halves share almost every
# bigram and the backoff branches would fire a handful of times
# (7 instances at sf0.01 — near-dead configuration). Appending an
# id-derived nonce + a common word to each ODD (scoring-only) doc
# plants one unseen-WORD bigram (last_word, zqN) and one unseen-
# BIGRAM-seen-word pair (zqN, agg) per odd doc — both backoff tiers
# fire 250x per 500 docs on every engine. The even (training) half
# is untouched, so the LM itself is unaffected.
_SQL_T21_AUG = """
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 1
                  THEN text || ' zq' || CAST(doc_id AS VARCHAR) || ' agg'
                  ELSE text END AS text
      FROM documents
"""

def _t21_ctes(src: str) -> str:
    """CTE chain from a docs relation ``src`` (doc_id, text) to
    ``t21s (doc_id, n_bigrams, n_backoff, sum_surprisal,
    avg_surprisal, ppl_bucket)`` — the stupid-backoff held-out
    scoring, single-homed so t21's oracle and pipe12's composition
    splice the SAME SQL (the _T17_RULES_SQL discipline). Plain
    concatenation, NOT an f-string: format('{:b}') carries braces."""
    return (
        """
    toks AS (
      SELECT doc_id, """
        + SQL_TOKENS.format(t="text")
        + f""" AS tk FROM {src}
    ),
    tr AS (SELECT doc_id, tk FROM toks WHERE doc_id % 2 = 0),
    uni AS (
      SELECT w, count(*) AS c1
      FROM (SELECT unnest(tk) AS w FROM tr) GROUP BY w
    ),
    nn AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS n FROM tr),
    trbig AS (
      SELECT unnest(list_slice(tk, 1, len(tk) - 1)) AS w1,
             unnest(list_slice(tk, 2, len(tk))) AS w2
      FROM tr WHERE len(tk) >= 2
    ),
    bi AS (SELECT w1, w2, count(*) AS c2 FROM trbig GROUP BY w1, w2),
    big AS (
      SELECT doc_id,
             unnest(list_slice(tk, 1, len(tk) - 1)) AS w1,
             unnest(list_slice(tk, 2, len(tk))) AS w2
      FROM toks WHERE len(tk) >= 2
    ),
    sc AS (
      SELECT d.doc_id,
        CASE WHEN b.c2 IS NOT NULL
             THEN length(format('"""
        + "{:b}"
        + """', u1.c1 // b.c2))
             WHEN u2.c1 IS NOT NULL
             THEN 2 + length(format('"""
        + "{:b}"
        + """', n.n // u2.c1))
             ELSE 2 + length(format('"""
        + "{:b}"
        + """', n.n)) END AS s,
        CASE WHEN b.c2 IS NULL THEN 1 ELSE 0 END AS bo
      FROM big d
      LEFT JOIN bi b ON d.w1 = b.w1 AND d.w2 = b.w2
      LEFT JOIN uni u1 ON d.w1 = u1.w
      LEFT JOIN uni u2 ON d.w2 = u2.w
      CROSS JOIN nn n
    ),
    per AS (
      SELECT doc_id, count(*) AS n_bigrams,
             CAST(sum(bo) AS BIGINT) AS n_backoff,
             CAST(sum(s) AS BIGINT) AS sum_surprisal
      FROM sc GROUP BY doc_id
    ),
    t21s AS (
      SELECT doc_id, n_bigrams, n_backoff, sum_surprisal,
        CAST(sum_surprisal AS DOUBLE) / n_bigrams AS avg_surprisal,
        ntile("""
        + str(_PPL_BUCKETS)
        + """) OVER (
          ORDER BY CAST(sum_surprisal AS DOUBLE) / n_bigrams, doc_id
        ) AS ppl_bucket
      FROM per
    )"""
    )


_T21_ORACLE = (
    """
    WITH aug AS ("""
    + _SQL_T21_AUG
    + """),"""
    + _t21_ctes("aug")
    + """
    SELECT doc_id, n_bigrams, n_backoff, sum_surprisal,
           avg_surprisal, ppl_bucket
    FROM t21s
    """
)


@query("t21_backoff_lm_ppl_deciles", oracle=_T21_ORACLE)
def t21_backoff_lm_ppl_deciles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stupid-backoff bigram-LM perplexity deciles — the real CCNet
    signal (Wenzek et al. 2020 score with an n-gram LM; Brants et
    al. 2007 is the smoothing production systems deploy). t19's
    unigram surprisal is the proxy; this scores token CONTEXT:
    count(ab)/count(a) when the LM saw the bigram, backing off to
    the unigram (then to an unseen-word floor) with an exact
    two-bit alpha penalty. HELD-OUT shape: the LM trains on the
    even-id half and scores the whole corpus, so the backoff
    branches genuinely fire (an LM trained on its own scoring
    corpus never backs off — dead-branch configuration); the
    odd-doc nonce augmentation (_SQL_T21_AUG) plants both backoff
    tiers deterministically. All integer arithmetic until one exact
    division per doc; deciles via the distributed two-phase ntile,
    never a partitionless window. See
    operators/surprisal.stupid_backoff_surprisal for the 100 TB
    join/shuffle story."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    d = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.when(
            d % 2 == 1,
            F.concat(
                "text", F.lit(" zq"), d.cast("string"), F.lit(" agg")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    shared = aug.select(
        "doc_id", textstats.tokens(F.col("text")).alias("tk")
    )
    train = shared.filter(d % 2 == 0)
    return stupid_backoff_surprisal(shared, train)


# ---------------------------------------------------------------------------
# pipe11 — the composed modern pre-training filter stack
# ---------------------------------------------------------------------------
@query(
    "pipe11_filter_stack",
    oracle=f"""
    WITH g AS (
      WITH aug AS ({_SQL_QUALITY_AUG}),
      {_T17_RULES_SQL}
    ),
    u AS (
      SELECT doc_id, {SQL_MESSY_URL} AS url FROM documents
    ),
    {SQL_URL_CANON_CTES},
    k AS (
      SELECT doc_id, canon_url,
             CASE WHEN {SQL_URL_KEEPER_PRED}
                  THEN 'kept' ELSE 'dup_url' END AS verdict
      FROM c
    ),
    s AS ({_T20C_ORACLE})
    SELECT g.doc_id, k.canon_url, s.clf_decile
    FROM g JOIN k USING (doc_id) JOIN s USING (doc_id)
    WHERE g.r_word_count AND g.r_mean_len AND g.r_symbol
      AND g.r_bullet AND g.r_ellipsis AND g.r_alpha
      AND k.verdict = 'kept' AND s.clf_decile >= 4
    """,
)
def pipe11_filter_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern pre-training filter stack as ONE composed plan —
    what a user actually runs over a crawl: Gopher rule conjunction
    (t17's rule trees, here over the plain corpus) AND provenance
    keeper (dd31's URL canonicalization) AND classifier quality
    floor (t20's hashed linear deciles, bottom 30% dropped). Built
    by COMPOSING the registered operators — each stage's oracle
    fragment is single-homed (_T17_RULES_SQL / SQL_URL_CANON_CTES /
    _T20C_ORACLE), so this query's oracle is the same SQL the
    individual gates replay. Plan shape: three independent subplans
    over the documents scan (rules: zero-shuffle codegen map;
    URL keeper: one keyed window shuffle; deciles: scoring fused +
    the two-phase ntile) joined 1:1:1 on doc_id — at 100 TB each
    stage keeps its own scale story and the joins are plain hash
    equi-joins on the id.

    The rule stage runs over t17's quality-augmented text (same
    doc_ids; planted bullet/ellipsis/symbol violations per residue
    class) and applies every Gopher rule EXCEPT r_stop: the
    synthetic corpus is stopword-light word salad, so the
    required-stopword register test — which exists to reject
    non-prose on real crawls — would reject every document and
    make the composition vacuous. A real English crawl includes
    it (t17 carries the full conjunction)."""
    _PIPE11_RULES = [c for c in _qr.RULE_COLS if c != "r_stop"]
    g = _gopher_flags(_quality_aug(spark, sf_dir)).select(
        "doc_id", *_PIPE11_RULES
    )
    k = dd31_url_canonical_dedup(spark, sf_dir).select(
        "doc_id", "canon_url", "verdict"
    )
    s = t20_quality_classifier_deciles(spark, sf_dir).select(
        "doc_id", "clf_decile"
    )
    rules_pass = None
    for c in _PIPE11_RULES:
        rules_pass = (
            F.col(c) if rules_pass is None else rules_pass & F.col(c)
        )
    return (
        g.join(k, "doc_id")
        .join(s, "doc_id")
        .filter(
            rules_pass
            & (F.col("verdict") == "kept")
            & (F.col("clf_decile") >= 4)
        )
        .select("doc_id", "canon_url", "clf_decile")
    )


# ---------------------------------------------------------------------------
# pipe12 — the CCNet stack: lang-id -> held-out LM perplexity band
# -> exact-dup keeper, composed as ONE plan
# ---------------------------------------------------------------------------
# CCNet (Wenzek et al. 2020) keeps the head+middle perplexity bands;
# with 10 buckets that is <= 7 (bucket 1 = most predictable).
PIPE12_MAX_PPL_BUCKET = 7

_PIPE12_ORACLE = (
    """
    WITH"""
    + _t21_ctes("documents")
    + f""",
    lang AS (
      SELECT doc_id, {_SQL_LANG_CASE} AS pred_lang FROM toks
    ),
    keepr AS (
      SELECT doc_id,
             MIN(doc_id) OVER (
               PARTITION BY
                 md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
             ) AS keeper_id
      FROM documents
    )
    SELECT s.doc_id, l.pred_lang, s.ppl_bucket,
           (k.keeper_id = s.doc_id) AS is_keeper,
           (l.pred_lang = 'en' AND s.ppl_bucket <= {PIPE12_MAX_PPL_BUCKET}
            AND k.keeper_id = s.doc_id) AS kept
    FROM t21s s
    JOIN lang l ON l.doc_id = s.doc_id
    JOIN keepr k ON k.doc_id = s.doc_id
    """
)


@query("pipe12_ccnet_stack", oracle=_PIPE12_ORACLE)
def pipe12_ccnet_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet corpus-filter stack (Wenzek et al. 2020) as ONE
    composed plan: stopword-ratio language ID (t2's predicate), the
    held-out stupid-backoff LM's perplexity decile (t21's scoring,
    UNaugmented — the raw corpus), and dd1's normalized-text exact
    keeper election; kept = English AND head/middle perplexity band
    (bucket <= {max_bucket}) AND exact keeper. Every fragment is
    single-homed with its parent query's oracle (_SQL_LANG_CASE,
    _t21_ctes, dd1's fingerprint SQL), so the composition cannot
    drift from the parts. Docs with fewer than two tokens are
    unscorable by the LM and drop (inner join, both engines) — a
    deployment routes them to a rule-only path, and they never
    carried trainable text anyway.

    Scale shape: the three sub-plans share ONE documents scan each
    and join 1:1:1 on doc_id; lang-id and the keeper election are a
    narrow map + one fingerprint-keyed window shuffle; the LM adds
    its two count shuffles and the broadcast probes (see
    operators/surprisal.stupid_backoff_surprisal). Nothing here is
    quadratic; the composition's only new cost over the parts is the
    two doc_id hash joins."""
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    shared = docs.select(
        "doc_id", textstats.tokens(F.col("text")).alias("tk")
    )
    train = shared.filter(F.col("doc_id") % 2 == 0)
    scored = stupid_backoff_surprisal(shared, train).select(
        "doc_id", "ppl_bucket"
    )
    lang = docs.select(
        "doc_id", textstats.detect_language(F.col("text")).alias("pred_lang")
    )
    w = Window.partitionBy(textstats.fingerprint(F.col("text")))
    keep = docs.select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_keeper"),
    )
    return (
        scored.join(lang, "doc_id")
        .join(keep, "doc_id")
        .select(
            "doc_id",
            "pred_lang",
            "ppl_bucket",
            "is_keeper",
            (
                (F.col("pred_lang") == "en")
                & (F.col("ppl_bucket") <= PIPE12_MAX_PPL_BUCKET)
                & F.col("is_keeper")
            ).alias("kept"),
        )
    )


pipe12_ccnet_stack.__doc__ = pipe12_ccnet_stack.__doc__.format(
    max_bucket=PIPE12_MAX_PPL_BUCKET
)


# ---------------------------------------------------------------------------
# t22 — domain-level quality rollup (RefinedWeb-style)
# ---------------------------------------------------------------------------
# Verdict threshold, single-homed: Spark predicate and oracle SQL
# both splice this constant. 0.5 is exact in binary, so the >=
# comparison cannot straddle an ULP between engines.
T22_MIN_PASS_RATE = 0.5

# t22's CTE chain over prior CTEs ``u`` + the canon chain (c/c6) —
# single-homed so pipe13's provenance axis replays the SAME SQL.
# t22_h doubles as the per-doc (doc_id -> domain, canon_url) map.
_T22_CTES = f"""
    t22_h AS (
      SELECT c.doc_id, c.canon_url, c6.host AS domain
      FROM c JOIN c6 USING (doc_id)
    ),
    t22_g AS (
      WITH aug AS (SELECT doc_id, text FROM documents),
      {_T17_RULES_SQL}
    ),
    t22_per AS (
      SELECT t22_h.domain,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT t22_h.canon_url) AS BIGINT) AS n_pages,
        CAST(SUM(CASE WHEN t22_g.r_word_count AND t22_g.r_mean_len
                       AND t22_g.r_symbol AND t22_g.r_bullet
                       AND t22_g.r_ellipsis AND t22_g.r_alpha
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
      FROM t22_h JOIN t22_g USING (doc_id)
      GROUP BY t22_h.domain
    ),
    t22_v AS (
      SELECT domain, n_docs, n_pages, n_keep,
        CAST(n_keep AS DOUBLE) / n_docs AS pass_rate,
        CASE WHEN CAST(n_keep AS DOUBLE) / n_docs >= {T22_MIN_PASS_RATE}
             THEN 'kept' ELSE 'blocked' END AS verdict
      FROM t22_per
    )
    """

_T22_ORACLE = f"""
    WITH u AS (
      SELECT doc_id, {SQL_MESSY_URL} AS url FROM documents
    ),
    {SQL_URL_CANON_CTES},
    {_T22_CTES}
    SELECT domain, n_docs, n_pages, n_keep, pass_rate, verdict
    FROM t22_v
    """


@query("t22_domain_quality_rollup", oracle=_T22_ORACLE)
def t22_domain_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality filtering (the RefinedWeb/C4 move of
    judging PROVENANCE, not just documents: a domain whose pages
    mostly fail the quality rules is a content farm, and its
    remaining pages are suspect too). Per canonical host: page count,
    DISTINCT canonical-URL count (re-fetches collapse), Gopher-rule
    pass count/rate, and a kept/blocked verdict at
    T22_MIN_PASS_RATE. Composes three existing single-homed
    fragments — the messy-URL derivation, the URL canonicalization
    rules (functions/urls.canonical_host, the authority steps of
    canonicalize_url), and t17's Gopher rule set — so the rollup
    cannot drift from the per-doc operators.

    The pass predicate is the LANGUAGE-AGNOSTIC structural subset of
    the Gopher rules (everything except r_stop): a domain rollup
    mixes languages, and the required-English-stopwords lexicon rule
    would score every non-English domain 0.0 regardless of quality —
    CCNet/RefinedWeb apply lexicon rules per-language AFTER lang-id,
    never at the provenance level. (On this corpus it is also the
    honesty condition: the synthetic word-salad carries no English
    stopwords, so the full conjunction is constant-false — a dead
    verdict branch.)

    Scale shape: host, canonical URL, and all seven rule booleans
    are ONE pure-builtin projection fused into the documents scan
    (zero joins — the oracle joins its CTEs because SQL has no
    lesson-38 concern; Spark computes both sides of the 'join' on
    the same row), followed by ONE groupBy(domain) with map-side
    partial aggregation; countDistinct adds the standard two-phase
    expand. Domains are Zipf-hot in real crawls — the heavy groups
    are exactly what AQE skew-split handles, and no per-domain state
    grows beyond four counters."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    url = _messy_url(F.col("doc_id"))
    shared = docs.select(
        "text",
        textstats.tokens(F.col("text")).alias("_tk"),
        url.alias("_url"),
    )
    rules = _qr.gopher_rules(F.col("_tk"), F.col("text"))
    structural = (
        rules["r_word_count"]
        & rules["r_mean_len"]
        & rules["r_symbol"]
        & rules["r_bullet"]
        & rules["r_ellipsis"]
        & rules["r_alpha"]
    )
    proj = shared.select(
        urls.canonical_host(F.col("_url")).alias("domain"),
        urls.canonicalize_url(F.col("_url")).alias("canon_url"),
        structural.alias("_keep"),
    )
    agg = proj.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("canon_url").alias("n_pages"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_keep"),
    )
    return agg.withColumn(
        "pass_rate", F.col("n_keep").cast("double") / F.col("n_docs")
    ).withColumn(
        "verdict",
        F.when(F.col("pass_rate") >= T22_MIN_PASS_RATE, "kept").otherwise(
            "blocked"
        ),
    )


# ---------------------------------------------------------------------------
# s17 — hard-negative mining (operators/similarity.hard_negative_mining)
# ---------------------------------------------------------------------------
S17_K = 3

_S17_ORACLE = (
    """
    WITH cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cent_id,
             embedding AS c_vec
      FROM embeddings
      QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (
        SELECT GREATEST({nmin}, LEAST({nmax},
                        CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)))
        FROM embeddings
      )
    ),
    cells AS (
      SELECT vec_id, embedding, label, cent_id AS cell FROM (
        SELECT t.vec_id, t.embedding, t.label, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY t.vec_id
                 ORDER BY {cos_tc} DESC, c.cent_id ASC) AS rn
        FROM embeddings t, cents c
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             a.label AS la, b.label AS lb,
             {cos_ab} AS cos
      FROM cells a JOIN cells b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
       AND a.label <> b.label
    ),
    directed AS (
      SELECT va AS anchor_id, vb AS neg_id,
             la AS anchor_label, lb AS neg_label, cos FROM pairs
      UNION ALL
      SELECT vb, va, lb, la, cos FROM pairs
    )
    SELECT anchor_id, neg_id, anchor_label, neg_label, cos,
           CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY anchor_id ORDER BY cos DESC, neg_id ASC) AS rk
      FROM directed
    ) WHERE rk <= {k}
    """.replace("{cos_tc}", _sql_cosine("t.embedding", "c.c_vec"))
       .replace("{cos_ab}", _sql_cosine("a.embedding", "b.embedding"))
       .replace("{k}", str(S17_K))
       .replace("{nmin}", str(similarity.IVF_NLIST_MIN))
       .replace("{nmax}", str(similarity.IVF_NLIST_MAX))
)


@query("s17_hard_negative_mining", oracle=_S17_ORACLE)
def s17_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-mined hard negatives for contrastive training (the
    ANCE/DPR move): per anchor, the S17_K nearest same-cell vectors
    with a DIFFERENT label — boundary-hugging negatives, not the
    easy random ones. The label inequality lives in the pair-join
    condition so same-label candidates die before their cosine is
    ever folded (see operators/similarity.hard_negative_mining).
    Cells are the shared self-seeded sqrt(N) IVF partition (s15's
    machinery and caveat: cross-cell near-negatives are missed
    exactly as in every IVF retrieval path). Ties break (cos DESC,
    neg_id ASC); the oracle replays the identical derivation."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    return similarity.hard_negative_mining(
        emb,
        k=S17_K,
        centroids=similarity.auto_nlist,
        cache_key=f"ivfauto-s17|{sf_dir}",
    )


# ---------------------------------------------------------------------------
# pipe13 — the provenance + repetition pre-filter stack
# ---------------------------------------------------------------------------
PIPE13_MAX_DUP_FRAC = 0.5

_PIPE13_ORACLE = f"""
    WITH u AS (
      SELECT doc_id, {SQL_MESSY_URL} AS url FROM documents
    ),
    {SQL_URL_CANON_CTES},
    {_T22_CTES},
    rawd AS (SELECT doc_id, text FROM documents),
    {_dd33_ctes("rawd")},
    d33_doc AS (
      SELECT doc_id, CAST(SUM(spanend - strt) AS BIGINT) AS dup
      FROM d33_per_isl GROUP BY doc_id
    ),
    ntok AS (SELECT doc_id, len(tk) AS n_tok FROM d33_toks),
    keep_u AS (
      SELECT doc_id,
             {SQL_URL_KEEPER_PRED} AS url_kept
      FROM c
    )
    SELECT *,
      (domain_verdict = 'kept' AND url_kept
       AND dup_frac <= {PIPE13_MAX_DUP_FRAC}) AS kept
    FROM (
      SELECT h.doc_id, h.domain, v.verdict AS domain_verdict, k.url_kept,
        CASE WHEN n.n_tok = 0 THEN 0.0
             ELSE CAST(COALESCE(d.dup, 0) AS DOUBLE) / n.n_tok
        END AS dup_frac
      FROM t22_h h
      JOIN t22_v v USING (domain)
      JOIN keep_u k USING (doc_id)
      JOIN ntok n USING (doc_id)
      LEFT JOIN d33_doc d USING (doc_id)
    )
    """


@query("pipe13_provenance_stack", oracle=_PIPE13_ORACLE)
def pipe13_provenance_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The provenance + repetition PRE-filter — the pass a crawl
    pipeline runs BEFORE any content model (pipe12's lang/perplexity
    stack) ever sees the text, because it is the cheapest
    rejection: judge each page by where it comes from and whether
    its text is already elsewhere. Three axes composed as ONE plan:
    domain quality verdict (t22's rollup joined back per doc),
    canonical-URL keeper election (dd31's window — re-fetches lose),
    and the repeated-k-gram span fraction (dd33's chain over the RAW
    corpus; docs whose text is mostly corpus-duplicate spans are
    boilerplate shells). kept = domain kept AND url keeper AND
    dup_frac <= {max_frac}. Every fragment is single-homed with its
    parent's oracle (_T22_CTES, SQL_URL_CANON_CTES, _dd33_ctes) so
    the composition cannot drift from the parts.

    Scale shape: the domain verdict is a domain-keyed equi-join of a
    domains-sized frame (never broadcast-assumed — millions of
    domains at crawl scale); the keeper election and token counts
    are the parents' plans unchanged; the dup-span axis joins LEFT
    (a doc with no repeated k-gram is clean, frac 0). Four doc/domain
    hash joins on top of the parts — nothing quadratic, nothing
    global."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    url = _messy_url(F.col("doc_id"))
    prov = docs.select(
        "doc_id", urls.canonical_host(url).alias("domain")
    )
    dv = t22_domain_quality_rollup(spark, sf_dir).select(
        "domain", F.col("verdict").alias("domain_verdict")
    )
    uk = dd31_url_canonical_dedup(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") == F.col("keeper_id")).alias("url_kept"),
    )
    shared = docs.select(
        "doc_id", textstats.tokens(F.col("text")).alias("_tk")
    )
    ntok = shared.select("doc_id", F.size("_tk").alias("_n_tok"))
    dup = _repeated_kgram_spans(shared, id_col="doc_id", toks_col="_tk").select(
        "doc_id", "dup_tokens"
    )
    joined = (
        prov.join(dv, "domain")
        .join(uk, "doc_id")
        .join(ntok, "doc_id")
        .join(dup, "doc_id", "left")
    )
    dup_frac = F.when(F.col("_n_tok") == 0, F.lit(0.0)).otherwise(
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
        / F.col("_n_tok")
    )
    return (
        joined.withColumn("dup_frac", dup_frac)
        .withColumn(
            "kept",
            (F.col("domain_verdict") == "kept")
            & F.col("url_kept")
            & (F.col("dup_frac") <= PIPE13_MAX_DUP_FRAC),
        )
        .select(
            "doc_id", "domain", "domain_verdict", "url_kept",
            "dup_frac", "kept",
        )
    )


pipe13_provenance_stack.__doc__ = pipe13_provenance_stack.__doc__.format(
    max_frac=PIPE13_MAX_DUP_FRAC
)


# ---------------------------------------------------------------------------
# dd34 — cross-source duplication overlap matrix
# ---------------------------------------------------------------------------
# Snapshot-overlap augmentation, single-homed Spark/SQL: the raw
# corpus has zero cross-source exact dups (each doc's fingerprint is
# unique), so simulate crawl-snapshot re-fetches — %4 docs re-appear
# under the NEXT source with doubled trailing whitespace (fingerprint
# -invariant: normalize_text collapses it, receipting that the
# overlap is canonical-text overlap, not byte equality), %10==1 docs
# under source+2 with one trailing space.
_SQL_DD34_AUG = f"""
    SELECT doc_id, text, source FROM documents
    UNION ALL
    SELECT doc_id + {DOC_SHIFT}, text || '  ',
           'src' || CAST(((doc_id % 20) + 1) % 20 AS VARCHAR)
    FROM documents WHERE doc_id % 4 = 0
    UNION ALL
    SELECT doc_id + {2 * DOC_SHIFT}, text || ' ',
           'src' || CAST(((doc_id % 20) + 2) % 20 AS VARCHAR)
    FROM documents WHERE doc_id % 10 = 1
"""


def _dd34_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    d = F.col("doc_id")

    def nxt(off: int) -> F.Column:
        return F.concat(
            F.lit("src"), (((d % 20) + off) % 20).cast("string")
        )

    c1 = docs.filter(d % 4 == 0).select(
        (d + DOC_SHIFT).alias("doc_id"),
        F.concat("text", F.lit("  ")).alias("text"),
        nxt(1).alias("source"),
    )
    c2 = docs.filter(d % 10 == 1).select(
        (d + 2 * DOC_SHIFT).alias("doc_id"),
        F.concat("text", F.lit(" ")).alias("text"),
        nxt(2).alias("source"),
    )
    return docs.unionByName(c1).unionByName(c2)


@query(
    "dd34_cross_source_overlap",
    oracle=f"""
    WITH aug AS ({_SQL_DD34_AUG}),
    f AS (
      SELECT DISTINCT
        md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
        source
      FROM aug
    ),
    per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fps FROM f GROUP BY source),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS shared_fps
      FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, shared_fps,
           pa.n_fps AS fps_a, pb.n_fps AS fps_b,
           CAST(shared_fps AS DOUBLE)
             / (pa.n_fps + pb.n_fps - shared_fps) AS overlap_jaccard
    FROM shared
    JOIN per pa ON pa.source = source_a
    JOIN per pb ON pb.source = source_b
    """,
)
def dd34_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-level duplication matrix (the CommonCrawl-
    snapshot-overlap analysis RefinedWeb runs before choosing what to
    dedup across dumps): for every pair of sources, how many
    canonical-text fingerprints they share, each side's distinct-
    fingerprint count, and the Jaccard overlap. The fingerprint is
    dd1's (md5 of whitespace-collapsed lowercase), so byte-different
    re-fetches of one page count as overlap — which is the point.

    Scale shape: one DISTINCT (fp, source) shuffle, then groupBy(fp)
    collecting the source SET — bounded by the number of sources
    (snapshots number in the hundreds, never corpus-scale), pair
    expansion inside the array (<= C(n_sources, 2) per fingerprint,
    via index-lambda transform — never a doc-pair join), one
    groupBy(pair) of a tiny domain, and two joins against the
    sources-sized count frame. Doc pairs are never materialized; the
    heavy keys are hot fingerprints, the usual AQE skew-join case."""
    f = (
        ensure_parallelism(_dd34_aug(spark, sf_dir))
        .select(
            textstats.fingerprint(F.col("text")).alias("fp"), "source"
        )
        .distinct()
    )
    per = f.groupBy("source").agg(F.count("*").alias("n_fps"))
    srcs = F.col("srcs")
    pair_arr = F.flatten(
        F.transform(
            srcs,
            lambda x, i: F.transform(
                F.slice(srcs, i + 2, F.size(srcs)),
                lambda y: F.struct(
                    x.alias("source_a"), y.alias("source_b")
                ),
            ),
        )
    )
    sets = (
        f.groupBy("fp")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    pairs = exploded(sets, [], pair_arr, "p").select(
        "p.source_a", "p.source_b"
    )
    cnt = pairs.groupBy("source_a", "source_b").agg(
        F.count("*").alias("shared_fps")
    )
    pa = per.select(
        F.col("source").alias("source_a"), F.col("n_fps").alias("fps_a")
    )
    pb = per.select(
        F.col("source").alias("source_b"), F.col("n_fps").alias("fps_b")
    )
    return (
        cnt.join(pa, "source_a")
        .join(pb, "source_b")
        .select(
            "source_a", "source_b", "shared_fps", "fps_a", "fps_b",
            (
                F.col("shared_fps").cast("double")
                / (F.col("fps_a") + F.col("fps_b") - F.col("shared_fps"))
            ).alias("overlap_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# t23 — corpus-mixture drift matrix: pairwise source unigram TVD
# ---------------------------------------------------------------------------
_T23_ORACLE = (
    """
    WITH tk AS (
      SELECT source, unnest("""
    + SQL_TOKENS.format(t="text")
    + """) AS tok FROM documents
    ),
    counts AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM tk GROUP BY 1, 2
    ),
    totals AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1
    ),
    inter AS (
      SELECT a.source AS sa, b.source AS sb,
        CAST(SUM(ABS(CAST(a.c AS DECIMAL(38,0)) * tb.n
                     - CAST(b.c AS DECIMAL(38,0)) * ta.n))
             AS DECIMAL(38,0)) AS sabs,
        CAST(SUM(a.c) AS BIGINT) AS sca,
        CAST(SUM(b.c) AS BIGINT) AS scb,
        CAST(COUNT(*) AS BIGINT) AS shared_toks
      FROM counts a
      JOIN counts b ON a.tok = b.tok AND a.source < b.source
      JOIN totals ta ON ta.source = a.source
      JOIN totals tb ON tb.source = b.source
      GROUP BY 1, 2
    ),
    allp AS (
      SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
      FROM totals a JOIN totals b ON a.source < b.source
    )
    SELECT p.sa AS source_a, p.sb AS source_b,
      p.na AS n_a, p.nb AS n_b,
      COALESCE(i.shared_toks, 0) AS shared_toks,
      CAST(COALESCE(i.sabs, 0)
           + CAST(p.nb AS DECIMAL(38,0)) * (p.na - COALESCE(i.sca, 0))
           + CAST(p.na AS DECIMAL(38,0)) * (p.nb - COALESCE(i.scb, 0))
           AS DOUBLE)
        / CAST(2 * CAST(p.na AS DECIMAL(38,0)) * p.nb AS DOUBLE) AS tvd
    FROM allp p
    LEFT JOIN inter i ON p.sa = i.sa AND p.sb = i.sb
    """
)


# t23's decimal(38,0)-safety bound on per-source token totals; module
# level (read at query-BUILD time) so the overflow-guard test can
# monkeypatch it down to a constructible corpus size.
_T23_N_BOUND = 10**15


@query("t23_source_unigram_tvd", oracle=_T23_ORACLE)
def t23_source_unigram_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture drift matrix: EXACT pairwise total-variation
    distance between every two sources' unigram distributions —
    the mixture-design diagnostic (which crawl dumps / domains are
    distributionally interchangeable, which add coverage) run before
    choosing sampling weights. TVD = 1/2 Σ_tok |p_a − p_b| is
    computed WITHOUT floats until the last step: the numerator is
    Σ |c_a·N_b − c_b·N_a| over shared tokens plus the two
    disjoint-support terms N_b·(N_a − Σ∩c_a) + N_a·(N_b − Σ∩c_b) —
    the algebra that turns 'sum over the union of vocabularies'
    into intersection-only work — in DECIMAL(38,0), then ONE double
    division by 2·N_a·N_b. Both engines produce bit-identical
    doubles (numerator and denominator are exactly representable
    well past this corpus's scale; at 10^15+ tokens per source
    switch the final cast to a DECIMAL division).

    Scale shape: one explode → map-side-combined groupBy
    (source, tok); one groupBy(tok) collecting the per-source count
    SET (bounded by the number of sources, like dd34's machinery);
    in-array pair expansion (≤ C(n_sources, 2) per token — never a
    token-level self-join, which is the oracle's O(vocab·s²) shape
    Spark must avoid at 10^9-token vocabularies); two broadcast
    joins against the sources-sized totals frame; one tiny
    groupBy(pair). Pairs with zero shared tokens still appear
    (TVD exactly 1.0) via the totals×totals frame."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tk = docs.select(
        "source", F.explode(textstats.tokens(F.col("text"))).alias("tok")
    )
    # pin: counts feeds the totals frame AND the per-token set
    # grouping — unpinned, the tokenize+explode corpus pass (the hot
    # scan) re-runs once per downstream reference (measured five
    # Generate subtrees in the unpinned plan). Same lifetime contract
    # as dd28's tiles pin: multi-query drivers clearCache between
    # queries.
    counts = (
        tk.groupBy("source", "tok").agg(F.count("*").alias("c")).persist()
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    sets = (
        counts.groupBy("tok")
        .agg(F.sort_array(F.collect_list(F.struct("source", "c"))).alias("sc"))
        .filter(F.size("sc") >= 2)
    )
    sc = F.col("sc")
    pair_arr = F.flatten(
        F.transform(
            sc,
            lambda x, i: F.transform(
                F.slice(sc, i + 2, F.size(sc)),
                lambda y: F.struct(
                    x["source"].alias("sa"),
                    x["c"].alias("ca"),
                    y["source"].alias("sb"),
                    y["c"].alias("cb"),
                ),
            ),
        )
    )
    pairs = exploded(sets, [], pair_arr, "p").select(
        "p.sa", "p.ca", "p.sb", "p.cb"
    )
    # LOUD overflow guard (r11 ADVICE, reworked r13): with ANSI off,
    # a DECIMAL(38,0) overflow in the |ca·nb − cb·na| sum would emit
    # NULL tvd silently. The docstring's 10^15-token bound is
    # ENFORCED via a conditional whose branches DIFFER — the r12
    # assert_true wrapper when(guard.isNull(), n).otherwise(n) had
    # identical branches, so SimplifyConditionals collapsed it to a
    # bare `n` and pruned the assertion (verified on 4.1.2: the
    # optimized plan was a bare Project and no error fired).
    # raise_error in the violating branch cannot be folded away;
    # tests/test_llm_queries.py::test_t23_overflow_guard_fires proves
    # the raise fires on a violating row. Bound rationale: c ≤ n per
    # token, so n ≤ 1e15 bounds every product at < 10^31 and the sum
    # at < vocab·10^31 — safe in 38 digits through 10^7 distinct
    # tokens; shard the matrix past that. The bound is a module
    # constant so the guard test can lower it onto a corpus that is
    # actually constructible (1e15 real tokens is not).
    guarded_n = F.when(F.col("n") <= F.lit(_T23_N_BOUND), F.col("n")).otherwise(
        F.raise_error(
            F.lit(
                "t23: source token total exceeds 1e15 — decimal(38,0) "
                "TVD numerator could overflow to NULL; shard the "
                "computation"
            )
        ).cast("long")
    )
    ta = totals.select(F.col("source").alias("sa"), guarded_n.alias("na"))
    tb = totals.select(F.col("source").alias("sb"), guarded_n.alias("nb"))
    dec = "decimal(38,0)"
    inter = (
        pairs.join(F.broadcast(ta), "sa")
        .join(F.broadcast(tb), "sb")
        .groupBy("sa", "sb")
        .agg(
            F.sum(
                F.abs(
                    F.col("ca").cast(dec) * F.col("nb")
                    - F.col("cb").cast(dec) * F.col("na")
                )
            ).alias("sabs"),
            F.sum("ca").alias("sca"),
            F.sum("cb").alias("scb"),
            F.count("*").alias("shared_toks"),
        )
    )
    allp = ta.crossJoin(tb).filter(F.col("sa") < F.col("sb"))
    j = allp.join(inter, ["sa", "sb"], "left")
    num = (
        F.coalesce(F.col("sabs"), F.lit(0).cast(dec))
        + F.col("nb").cast(dec) * (F.col("na") - F.coalesce("sca", F.lit(0)))
        + F.col("na").cast(dec) * (F.col("nb") - F.coalesce("scb", F.lit(0)))
    )
    den = F.lit(2).cast(dec) * F.col("na").cast(dec) * F.col("nb")
    return j.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.coalesce("shared_toks", F.lit(0)).alias("shared_toks"),
        (num.cast("double") / den.cast("double")).alias("tvd"),
    )


# ---------------------------------------------------------------------------
# Linear-occupancy ANN mining (VERDICT r11 #1) — s18/s19/s20/dd35
# ---------------------------------------------------------------------------
# The √N-cell quartet (s15/s16/s17/dd32) does O(N²/√N) = O(N^1.5)
# within-cell pair work — measured 11–16× at the 50× probe
# (BENCH_sf5_r11ops.json). These four re-run the same semantics under
# the CONSTANT-EXPECTED-OCCUPANCY policy: nlist = ⌈N/target⌉
# (similarity.linear_nlist) pins cells at ~LINEAR_CELL_TARGET members
# so pair work is O(N·target) — corpus-linear — while the TWO-LEVEL
# assignment (similarity.ivf_assign_2level) keeps the assignment pass
# O(N·√nlist·dim) instead of the flat O(N·nlist·dim) that would have
# re-created the quadratic. LINEAR_PAIR_BLOCKS=4 block salting (dd26's
# lever, similarity.cell_join) spreads residual hot cells over B²
# tasks with a bit-identical pair multiset. All three follow from the
# one cell argument, linear_nlist — the operators' default. The √N
# originals stay registered as the measured receipts, exactly like
# dd14/dd15 → dd24/dd26.

_LINEAR_NLIST_SQL = (
    f"GREATEST({similarity.IVF_NLIST_MIN},"
    f" LEAST({similarity.LINEAR_NLIST_MAX},"
    f" (COUNT(*) + {similarity.LINEAR_CELL_TARGET - 1})"
    f" // {similarity.LINEAR_CELL_TARGET}))"
)


def _sql_2level_cents(corpus: str = "embeddings") -> str:
    """cents/sups/seed_sup CTE bodies (splice inside WITH): the
    linear-nlist seed derivation plus the coarse level — the ⌈√k⌉
    lowest-cent_id seeds promoted to supers, each seed argmax-assigned
    to one super by cosine (ties → lowest sup_id), exactly
    ivf_assign_2level's seed→super stage (its dot/|c| rank is
    monotone-equal to full cosine per row)."""
    cos_cs = _sql_cosine("c.c_vec", "s.s_vec")
    return f"""cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cent_id,
             embedding AS c_vec
      FROM {corpus}
      QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (
        SELECT {_LINEAR_NLIST_SQL} FROM {corpus})
    ),
    sups AS (
      SELECT cent_id AS sup_id, c_vec AS s_vec FROM cents
      WHERE cent_id < (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)
                       FROM cents)
    ),
    seed_sup AS (
      SELECT cent_id, sup FROM (
        SELECT c.cent_id, s.sup_id AS sup,
               ROW_NUMBER() OVER (PARTITION BY c.cent_id
                 ORDER BY {cos_cs} DESC, s.sup_id ASC) AS rn
        FROM cents c, sups s) WHERE rn = 1
    )"""


def _sql_2level_cells(p: str, extra_cols: tuple = ()) -> str:
    """{p}_sup / {p}_cells CTE bodies assigning a points relation
    ``p(vec_id, embedding, *extra_cols)`` through the two-level
    chain: argmax super first, then argmax over ONLY the seeds whose
    own super matches — ivf_assign_2level's exact rule, so a Spark
    linear_nlist frame hashes identically."""
    cos_ts = _sql_cosine("t.embedding", "s.s_vec")
    cos_tc = _sql_cosine("t.embedding", "c.c_vec")
    ex = "".join(f", t.{c}" for c in extra_cols)
    exo = "".join(f", {c}" for c in extra_cols)
    return f"""{p}_sup AS (
      SELECT vec_id, embedding{exo}, sup FROM (
        SELECT t.vec_id, t.embedding{ex}, s.sup_id AS sup,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                 ORDER BY {cos_ts} DESC, s.sup_id ASC) AS rn
        FROM {p} t, sups s) WHERE rn = 1
    ),
    {p}_cells AS (
      SELECT vec_id, embedding{exo}, cell FROM (
        SELECT t.vec_id, t.embedding{ex}, c.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                 ORDER BY {cos_tc} DESC, c.cent_id ASC) AS rn
        FROM {p}_sup t
        JOIN seed_sup ss ON ss.sup = t.sup
        JOIN cents c ON c.cent_id = ss.cent_id) WHERE rn = 1
    )"""


@query(
    "s18_mutual_knn_linear",
    oracle=f"""
    WITH {_sql_2level_cents("embeddings")},
    {_sql_2level_cells("embeddings")},
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             {_sql_cosine('a.embedding', 'b.embedding')} AS cos
      FROM embeddings_cells a JOIN embeddings_cells b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    directed AS (
      SELECT va AS src, vb AS dst, cos FROM pairs
      UNION ALL
      SELECT vb, va, cos FROM pairs
    ),
    ranked AS (
      SELECT src, dst, cos,
             ROW_NUMBER() OVER (
               PARTITION BY src ORDER BY cos DESC, dst ASC) AS rk
      FROM directed
    )
    SELECT least(src, dst) AS vec_a, greatest(src, dst) AS vec_b,
           MAX(cos) AS cos
    FROM ranked WHERE rk <= {S15_K}
    GROUP BY least(src, dst), greatest(src, dst)
    HAVING COUNT(*) = 2
    """,
)
def s18_mutual_knn_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s15's mutual k-NN graph under the LINEAR cell policy — the
    100 TB configuration (VERDICT r11 #1): nlist = ⌈N/64⌉ constant
    expected occupancy (pair work O(N·64), not O(N^1.5)), two-level
    assignment (O(N·√nlist·dim)), 4-block hot-cell salting
    (bit-identical multiset; similarity.cell_join). Candidates are
    within-SMALLER-cells only, so the graph is a recall-traded
    approximation of s15's — measured, not hidden:
    tests/test_linear_variants.py pins edge recall vs the
    brute-force k-NN ground truth for both variants side by side."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # default cell argument (linear_nlist): this oracle checks what
    # a bare caller gets.
    return similarity.mutual_knn_graph(
        emb, k=S15_K, cache_key=f"ivflin-s18|{sf_dir}"
    )


@query(
    "s19_margin_alignment_linear",
    oracle=f"""
    WITH {_sql_2level_cents("embeddings")},
    xs AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
    ys AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
    {_sql_2level_cells("xs")},
    {_sql_2level_cells("ys")},
    pairs AS (
      SELECT x.vec_id AS x_id, y.vec_id AS y_id,
             {_sql_cosine('x.embedding', 'y.embedding')} AS cos
      FROM xs_cells x JOIN ys_cells y ON x.cell = y.cell
    ),
    ax AS (
      SELECT x_id,
             list_reduce(l, (a, b) -> a + b) / len(l) AS avg_x
      FROM (
        SELECT x_id,
               list_slice(list_sort(list(cos), 'DESC'), 1, {S16_K}) AS l
        FROM pairs GROUP BY x_id
      )
    ),
    ay AS (
      SELECT y_id,
             list_reduce(l, (a, b) -> a + b) / len(l) AS avg_y
      FROM (
        SELECT y_id,
               list_slice(list_sort(list(cos), 'DESC'), 1, {S16_K}) AS l
        FROM pairs GROUP BY y_id
      )
    ),
    m AS (
      SELECT p.x_id, p.y_id, p.cos,
             CASE WHEN (avg_x + avg_y) / 2.0 > 0
                  THEN p.cos / ((avg_x + avg_y) / 2.0)
                  ELSE 0.0 END AS margin
      FROM pairs p JOIN ax USING (x_id) JOIN ay USING (y_id)
    )
    SELECT x_id, y_id, cos, margin FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY x_id ORDER BY margin DESC, y_id ASC) AS rk
      FROM m
    ) WHERE rk = 1
    """,
)
def s19_margin_alignment_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s16's ratio-margin bitext alignment under the linear cell
    policy (see s18's docstring for the three levers). The union
    corpus (xs ∪ ys = the whole table) seeds ⌈N/64⌉ cells; the
    cross-side candidate join is per-SMALL-cell and block-salted, so
    both the candidate generation AND the per-side top-k
    neighborhood stats are corpus-linear. Same documented
    blocked-recall trade as s16, re-measured at the smaller cells."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    xs = emb.filter(F.col("vec_id") % 2 == 0)
    ys = emb.filter(F.col("vec_id") % 2 == 1)
    # default cell argument (linear_nlist)
    return similarity.margin_alignment(
        xs, ys, k=S16_K, cache_key=f"ivflin-s19|{sf_dir}"
    )


@query(
    "s20_hard_negatives_linear",
    oracle=f"""
    WITH {_sql_2level_cents("embeddings")},
    pts AS (SELECT vec_id, embedding, label FROM embeddings),
    {_sql_2level_cells("pts", ("label",))},
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             a.label AS la, b.label AS lb,
             {_sql_cosine('a.embedding', 'b.embedding')} AS cos
      FROM pts_cells a JOIN pts_cells b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
       AND a.label <> b.label
    ),
    directed AS (
      SELECT va AS anchor_id, vb AS neg_id,
             la AS anchor_label, lb AS neg_label, cos FROM pairs
      UNION ALL
      SELECT vb, va, lb, la, cos FROM pairs
    )
    SELECT anchor_id, neg_id, anchor_label, neg_label, cos,
           CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY anchor_id ORDER BY cos DESC, neg_id ASC) AS rk
      FROM directed
    ) WHERE rk <= {S17_K}
    """,
)
def s20_hard_negatives_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s17's hard-negative mining under the linear cell policy (see
    s18's docstring for the levers). The label inequality still sits
    INSIDE the blocked join condition, so same-label candidates die
    before any cosine fold — composing the two levers costs nothing:
    similarity.cell_join ANDs the label/id predicates onto the
    blocked cell condition."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    # default cell argument (linear_nlist)
    return similarity.hard_negative_mining(
        emb, k=S17_K, cache_key=f"ivflin-s20|{sf_dir}"
    )


@query(
    "dd35_incremental_semdedup_linear",
    oracle=f"""
    WITH {_sql_2level_cents("embeddings")},
    batch AS ({_DD32_BATCH_SQL}),
    {_sql_2level_cells("embeddings")},
    {_sql_2level_cells("batch")},
    hits AS (
      SELECT b.vec_id, MIN(s.vec_id) AS state_match
      FROM batch_cells b JOIN embeddings_cells s ON b.cell = s.cell
      WHERE {_sql_cosine('b.embedding', 's.embedding')}
            >= {SEMDEDUP_THRESHOLD}
      GROUP BY b.vec_id
    ),
    peers AS (
      SELECT y.vec_id, MIN(x.vec_id) AS peer_min
      FROM batch_cells x JOIN batch_cells y
        ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE {_sql_cosine('x.embedding', 'y.embedding')}
            >= {SEMDEDUP_THRESHOLD}
      GROUP BY y.vec_id
    )
    SELECT b.vec_id, b.cell,
           CASE WHEN h.state_match IS NOT NULL THEN 'dup_of_state'
                WHEN p.peer_min IS NOT NULL THEN 'dup_in_batch'
                ELSE 'kept' END AS verdict,
           COALESCE(h.state_match, p.peer_min, b.vec_id) AS match_id
    FROM batch_cells b
    LEFT JOIN hits h ON h.vec_id = b.vec_id
    LEFT JOIN peers p ON p.vec_id = b.vec_id
    """,
)
def dd35_incremental_semdedup_linear(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dd32's day-N incremental SemDeDup under the linear cell
    policy (see s18's docstring for the levers): the committed
    coarse structure is ⌈N/64⌉ two-level cells, so the per-batch
    cost — (batch × same-cell-state) + (batch × same-cell-batch) —
    is bounded by CONSTANT expected occupancy instead of the √N
    cells that grow linearly in member count. Both the state probe
    and the in-batch peer join are block-salted (a dup-heavy batch
    concentrates in its exemplars' cells by construction — the
    state-probe side is the skew receipt dd32 never had). Same
    deterministic batch, precedence rule and zero-norm guard as
    dd32."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    v = F.col("vec_id")
    neg = emb.filter(v % 97 == 3).select(
        v.alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    batch = (
        emb.filter(v % 50 == 0)
        .select((v + 200000).alias("vec_id"), "embedding")
        .unionByName(
            neg.select((v + 300000).alias("vec_id"), "embedding")
        )
        .unionByName(
            neg.select((v + 400000).alias("vec_id"), "embedding")
        )
        .unionByName(
            emb.filter(v == 0).select(
                F.lit(999999).cast("long").alias("vec_id"),
                F.transform(
                    "embedding", lambda x: x - x
                ).alias("embedding"),
            )
        )
    )
    # default cell argument (linear_nlist, self-seeded from the
    # state corpus) — this oracle checks the bare call.
    return dedup.incremental_semantic_dedup(
        batch,
        emb,
        threshold=SEMDEDUP_THRESHOLD,
        cache_key=f"ivflin-dd35|{sf_dir}",
    )
