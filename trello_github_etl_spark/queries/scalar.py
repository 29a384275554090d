"""Scalar-function queries (SURVEY.md §2.6 F1–F18) with DuckDB oracles.

The testdata has no Trello strings, so bounty/index inputs are
constructed deterministically from `part` columns on BOTH sides, then
parsed — which pins the parser semantics (regex engine parity
included) on thousands of distinct rows. Golden fixture pairs live in
tests/test_functions_text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trello_github_etl_spark.functions import text
from trello_github_etl_spark.io import load_table
from trello_github_etl_spark.operators.parallel import ensure_parallelism
from trello_github_etl_spark.registry import query


# ---------------------------------------------------------------------------
# F1 — bounty extract + strip (lib/transform.js:16,32–40).
# Construct "p_name N) ... (X Dash)" variants from part rows.
# ---------------------------------------------------------------------------
@query(
    "f1_bounty_parse",
    oracle="""
    WITH named AS (
      SELECT
        p_partkey,
        CASE p_partkey % 4
          WHEN 0 THEN p_name || ' (' || CAST(p_size AS VARCHAR) || ' Dash)'
          WHEN 1 THEN p_name || '  ( .' || CAST(p_size AS VARCHAR) || ' DASH )  '
          WHEN 2 THEN p_name || ' ( ' || CAST(p_size AS VARCHAR) || '.5dash ).'
          ELSE p_name
        END AS raw_name
      FROM part
    )
    SELECT
      p_partkey,
      raw_name,
      NULLIF(regexp_extract(raw_name, '(?i)\\s+\\(\\s*((\\d+)?(\\.\\d+)?)\\s*Dash\\s*\\)\\s*', 1), '') AS amount,
      TRIM(regexp_replace(raw_name, '(?i)\\s+\\(\\s*((\\d+)?(\\.\\d+)?)\\s*Dash\\s*\\)\\s*', '')) AS stripped
    FROM named
    """,
)
def f1_bounty_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex capture + first-match strip; both engines parse identical rows.

    DuckDB's regexp_replace is first-match by default, matching the
    reference's non-global JS replace and our ``replace_first``.
    """
    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    raw = (
        F.when(k % 4 == 0, F.concat("p_name", F.lit(" ("), F.col("p_size").cast("string"), F.lit(" Dash)")))
        .when(k % 4 == 1, F.concat("p_name", F.lit("  ( ."), F.col("p_size").cast("string"), F.lit(" DASH )  ")))
        .when(k % 4 == 2, F.concat("p_name", F.lit(" ( "), F.col("p_size").cast("string"), F.lit(".5dash ).")))
        .otherwise(F.col("p_name"))
    )
    named = part.select("p_partkey", raw.alias("raw_name"))
    return named.select(
        "p_partkey",
        "raw_name",
        text.extract_bounty_amount(F.col("raw_name")).alias("amount"),
        F.when(
            F.col("raw_name").rlike(text.BOUNTY_RE),
            text.strip_bounty(F.col("raw_name")),
        )
        .otherwise(F.col("raw_name"))
        .alias("stripped"),
    )


# ---------------------------------------------------------------------------
# F2 — index-prefix strip (lib/transform.js:23,26–30).
# ---------------------------------------------------------------------------
@query(
    "f2_index_prefix_strip",
    oracle="""
    WITH named AS (
      SELECT
        p_partkey,
        CASE p_partkey % 4
          WHEN 0 THEN CAST(p_partkey AS VARCHAR) || ') ' || p_name
          WHEN 1 THEN '  ' || CAST(p_partkey AS VARCHAR) || ')  ' || p_name
          WHEN 2 THEN 'b ' || CAST(p_partkey AS VARCHAR) || ') ' || p_name
          ELSE CAST(p_partkey AS VARCHAR) || ')' || p_name
        END AS raw_name
      FROM part
    )
    SELECT
      p_partkey,
      raw_name,
      CASE WHEN regexp_matches(raw_name, '^\\s*(\\d+\\))\\s+')
           THEN TRIM(regexp_replace(raw_name, '^\\s*(\\d+\\))\\s+', ''))
           ELSE raw_name
      END AS cleaned
    FROM named
    """,
)
def f2_index_prefix_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored prefix strip; cases 2 and 3 must pass through untouched."""
    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    ks = k.cast("string")
    raw = (
        F.when(k % 4 == 0, F.concat(ks, F.lit(") "), "p_name"))
        .when(k % 4 == 1, F.concat(F.lit("  "), ks, F.lit(")  "), "p_name"))
        .when(k % 4 == 2, F.concat(F.lit("b "), ks, F.lit(") "), "p_name"))
        .otherwise(F.concat(ks, F.lit(")"), "p_name"))
    )
    named = part.select("p_partkey", raw.alias("raw_name"))
    return named.select(
        "p_partkey",
        "raw_name",
        text.strip_index_prefix(F.col("raw_name")).alias("cleaned"),
    )


# ---------------------------------------------------------------------------
# F3 — 50-char title/desc split (lib/transform.js:43–60) on documents.
# Oracle reproduces the fold closed-form with window cumulative sums.
# ---------------------------------------------------------------------------
@query(
    "f3_title_split",
    oracle="""
    WITH words AS (
      SELECT
        doc_id,
        unnest(str_split_regex(text, '\\s')) AS w,
        generate_subscripts(str_split_regex(text, '\\s'), 1) AS i
      FROM documents
    ),
    cum AS (
      SELECT
        doc_id, w, i,
        COALESCE(SUM(LENGTH(w) + 1) OVER (
          PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ), 0) AS len_before
      FROM words
    ),
    agg AS (
      SELECT
        doc_id,
        COUNT(*) AS n,
        COUNT(*) FILTER (WHERE len_before < 50) AS k,
        STRING_AGG(w, ' ' ORDER BY i) FILTER (WHERE len_before < 50) AS head_join,
        STRING_AGG(w, ' ' ORDER BY i) FILTER (WHERE len_before >= 50) AS tail_join
      FROM cum
      GROUP BY doc_id
    )
    SELECT
      doc_id,
      CASE WHEN k >= n THEN head_join || ' '
           ELSE TRIM(head_join) || '...'
      END AS title,
      CASE WHEN k >= n THEN ''
           ELSE TRIM(COALESCE(tail_join, ''))
      END AS "desc"
    FROM agg
    """,
)
def f3_title_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native higher-order fold (no UDF) computing the greedy word split.

    The scan is parallelism-guarded (SCALE.md lesson 38): the fold is
    compute-heavy narrow work chained directly on the scan, and a
    single-row-group file otherwise runs it on one task (measured at
    sf1: 2.2 s unguarded vs 0.65 s guarded)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    split = text.split_title_desc(F.col("text"))
    return docs.select(
        "doc_id",
        split["title"].alias("title"),
        split["desc"].alias("desc"),
    )


# ---------------------------------------------------------------------------
# F5/F6/F18 — issue-body template, checkbox render, namespaced keys.
# ---------------------------------------------------------------------------
@query(
    "f5_issue_body_render",
    oracle="""
    SELECT
      o_orderkey,
      'meta:card:' || CAST(o_orderkey AS VARCHAR) AS state_key,
      'Imported from <https://orders.example/' || CAST(o_orderkey AS VARCHAR)
        || '>.' || chr(10) || chr(10) || '> ' || o_orderpriority AS body,
      CASE WHEN o_orderstatus = 'F' THEN '- [x] #' ELSE '- [ ] #' END
        || CAST(o_orderkey AS VARCHAR) AS check_line
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
)
def f5_issue_body_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template rendering (F5), checkbox line (F6), KV key (F18)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    url = F.concat(F.lit("https://orders.example/"), F.col("o_orderkey").cast("string"))
    closed_state = F.when(F.col("o_orderstatus") == "F", F.lit("closed")).otherwise(
        F.lit("open")
    )
    return orders.select(
        "o_orderkey",
        text.kv_key("meta:card", F.col("o_orderkey")).alias("state_key"),
        text.issue_body(url, F.col("o_orderpriority")).alias("body"),
        text.render_check_line(closed_state, F.col("o_orderkey")).alias("check_line"),
    )


# ---------------------------------------------------------------------------
# F10 — task-type derivation (lib/transform.js:294–295).
# ---------------------------------------------------------------------------
@query(
    "f10_task_type",
    oracle="""
    SELECT DISTINCT
      p_type AS checklist_name,
      regexp_replace(p_type || ' Tasks', '\\s*Tasks?\\s*', '') || ' Task' AS task_type
    FROM part
    """,
)
def f10_task_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence 'Tasks?' strip + ' Task' suffix (JS non-global)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_type").alias("checklist_name"),
        text.task_type(F.concat("p_type", F.lit(" Tasks"))).alias("task_type"),
    ).distinct()


# ---------------------------------------------------------------------------
# F8/F9/F12/F16 — case-folding, @-strip, padding, trim on customer names.
# ---------------------------------------------------------------------------
@query(
    "f9_username_normalize",
    oracle="""
    SELECT
      c_custkey,
      LOWER(regexp_replace('@' || c_name, '^@', '')) AS normalized,
      RPAD(c_mktsegment, 12, ' ') AS padded,
      TRIM('  ' || c_name || '  ') AS trimmed
    FROM customer
    WHERE c_custkey % 7 = 0
    """,
)
def f9_username_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy-match key pipeline: @-strip + lower (+ rpad/trim F12/F16)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 == 0)
    return cust.select(
        "c_custkey",
        text.normalize_username(F.concat(F.lit("@"), "c_name")).alias("normalized"),
        F.rpad(F.col("c_mktsegment"), 12, " ").alias("padded"),
        F.trim(F.concat(F.lit("  "), "c_name", F.lit("  "))).alias("trimmed"),
    )


# ---------------------------------------------------------------------------
# F11 — env-DSL parse "A:B, C:D" → map → rows (lib/transform.js:89–94).
# ---------------------------------------------------------------------------
@query(
    "f11_env_dsl_parse",
    oracle="""
    WITH pairs AS (
      SELECT unnest(str_split_regex(
        'Concepts:Pending, None:Considering Specification:Specification  Production:In-Progress,QA:QA',
        '[,\\s]+')) AS pair
    )
    SELECT
      split_part(pair, ':', 1) AS card_type,
      split_part(pair, ':', 2) AS status
    FROM pairs
    """,
)
def f11_env_dsl_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """str_to_map over the reference's status-mapping mini-DSL."""
    dsl = (
        "Concepts:Pending, None:Considering Specification:Specification"
        "  Production:In-Progress,QA:QA"
    )
    df = spark.range(1).select(text.parse_env_dsl(F.lit(dsl)).alias("m"))
    return df.select(F.explode("m").alias("card_type", "status"))


# ---------------------------------------------------------------------------
# F13/F14 — JSON field extraction + numeric parse (lib/gh.js:66,487–494).
# ---------------------------------------------------------------------------
@query(
    "f14_json_props_parse",
    oracle="""
    SELECT
      event_id,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
      event_type
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    """,
)
def f14_json_props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded-JSON parse (F14) + numeric cast/guard (F13) + filter."""
    events = load_table(spark, sf_dir, "events")
    k_val = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events.select("event_id", k_val.alias("k_value"), "event_type")
        .filter(F.col("k_value") >= 50)
    )


# ---------------------------------------------------------------------------
# F14 variant path: Spark 4 VARIANT for schema-flexible semi-structured
# data — parse once, extract typed fields lazily (no up-front schema,
# unlike from_json). The reference's JSON.parse of `settings`
# (lib/gh.js:66) is exactly this shape: opaque JSON whose fields are
# pulled out typed at use sites.
# ---------------------------------------------------------------------------
@query(
    "f15_variant_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(k_value) AS BIGINT) AS sum_k,
           MAX(k_value) AS max_k
    FROM (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
      FROM events
    ) t
    WHERE k_value >= 50
    GROUP BY event_type
    """,
)
def f15_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT parse + typed path extraction + aggregation over the
    shredded field. ``try_variant_get`` returns NULL on path-miss or
    cast failure (the F13 guard semantics); the binary variant
    encoding keeps repeated extraction cheap vs re-parsing strings."""
    events = load_table(spark, sf_dir, "events")
    k_val = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        events.select("event_type", k_val.alias("k_value"))
        .filter(F.col("k_value") >= 50)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k_value").alias("sum_k"),
            F.max("k_value").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# Full composite: parseChecklistItem (lib/transform.js:25–70).
# ---------------------------------------------------------------------------
@query(
    "f_parse_check_item_pipeline",
    oracle="""
    WITH named AS (
      SELECT
        doc_id,
        CASE doc_id % 3
          WHEN 0 THEN CAST(doc_id AS VARCHAR) || ') ' || text || ' (1.5 Dash)'
          WHEN 1 THEN text || ' ( .5 DASH )  '
          ELSE text
        END AS raw_name
      FROM documents WHERE doc_id % 2 = 0
    ),
    stripped AS (
      SELECT
        doc_id,
        CASE WHEN regexp_matches(raw_name, '^\\s*(\\d+\\))\\s+')
             THEN TRIM(regexp_replace(raw_name, '^\\s*(\\d+\\))\\s+', ''))
             ELSE raw_name END AS no_prefix
      FROM named
    ),
    parsed AS (
      SELECT
        doc_id,
        NULLIF(regexp_extract(no_prefix, '(?i)\\s+\\(\\s*((\\d+)?(\\.\\d+)?)\\s*Dash\\s*\\)\\s*', 1), '') AS amount,
        CASE WHEN regexp_matches(no_prefix, '(?i)\\s+\\(\\s*((\\d+)?(\\.\\d+)?)\\s*Dash\\s*\\)\\s*')
             THEN TRIM(regexp_replace(no_prefix, '(?i)\\s+\\(\\s*((\\d+)?(\\.\\d+)?)\\s*Dash\\s*\\)\\s*', ''))
             ELSE no_prefix END AS clean_name
      FROM stripped
    ),
    words AS (
      SELECT doc_id, unnest(str_split_regex(clean_name, '\\s')) AS w,
             generate_subscripts(str_split_regex(clean_name, '\\s'), 1) AS i
      FROM parsed
    ),
    cum AS (
      SELECT doc_id, w, i,
        COALESCE(SUM(LENGTH(w) + 1) OVER (
          PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS len_before
      FROM words
    ),
    sp AS (
      SELECT doc_id,
        COUNT(*) AS n,
        COUNT(*) FILTER (WHERE len_before < 50) AS k,
        STRING_AGG(w, ' ' ORDER BY i) FILTER (WHERE len_before < 50) AS head_join,
        STRING_AGG(w, ' ' ORDER BY i) FILTER (WHERE len_before >= 50) AS tail_join
      FROM cum GROUP BY doc_id
    )
    SELECT
      p.doc_id,
      p.amount,
      CASE WHEN sp.k >= sp.n THEN sp.head_join || ' '
           ELSE TRIM(sp.head_join) || '...' END AS title,
      CASE
        WHEN p.amount IS NULL THEN
          CASE WHEN sp.k >= sp.n THEN '' ELSE TRIM(COALESCE(sp.tail_join, '')) END
        ELSE
          CASE WHEN sp.k >= sp.n OR TRIM(COALESCE(sp.tail_join, '')) = ''
               THEN 'Bounty: ' || p.amount || ' Dash'
               ELSE TRIM(COALESCE(sp.tail_join, '')) || chr(10) || chr(10)
                    || 'Bounty: ' || p.amount || ' Dash'
          END
      END AS "desc"
    FROM parsed p JOIN sp USING (doc_id)
    """,
)
def f_parse_check_item_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end parseChecklistItem on constructed document names."""
    from trello_github_etl_spark.functions.checklist import with_parsed_check_item

    # parallelism-guarded: the parse pipeline is regex-heavy narrow
    # compute on the scan (same starved-scan exposure as f3)
    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents")
    ).filter(F.col("doc_id") % 2 == 0)
    raw = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("doc_id").cast("string"), F.lit(") "), "text", F.lit(" (1.5 Dash)")),
        )
        .when(F.col("doc_id") % 3 == 1, F.concat("text", F.lit(" ( .5 DASH )  ")))
        .otherwise(F.col("text"))
    )
    parsed = with_parsed_check_item(docs.select("doc_id", raw.alias("name")), "name", "p")
    return parsed.select(
        "doc_id",
        F.col("p.amount").alias("amount"),
        F.col("p.title").alias("title"),
        F.col("p.desc").alias("desc"),
    )
