"""Owner / fallback-owner resolution (SURVEY.md §2.3 J6/J7).

Re-expresses `_getCardOwners` (lib/transform.js:331–385) and
`trelloUsernameToId` (:189–211) as native DataFrame operators:

- ordered first-match over the card's member array via array
  ``filter`` + ``element_at`` (no UDF — the JS loop is a scan over a
  per-row array, which higher-order functions express directly);
- the fuzzy predicate is a per-row ``regexp_like`` with a dynamic
  pattern, matching the reference's ``String.match(rawFallback)``
  (which treats the fallback text as a regex);
- the exact-match rescue against the full member dimension
  (transform.js:372–377) is a broadcast left join.

Deviation from the reference (documented): when the rescue path hits,
the reference returns the member *object* where every other path
returns a username string (a latent type bug, see SURVEY.md §3 E3);
we normalize to the username string.

Scale note: per-card member arrays are tiny (≤10s), so the array scan
is O(members) per row with no shuffle; the only join is the broadcast
rescue against the member dim. For a huge member dim the rescue join
key `lower(username)` is an equi-key, so it shuffles cleanly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OWNER_SENTINEL = "!Owner"
FALLBACK_SENTINEL = "!Fallback"


def resolve_owners(
    cards: DataFrame,
    members_dim: DataFrame,
    members_col: str = "member_usernames",
    raw_fallback_col: str = "raw_fallback",
    username_col: str = "username",
) -> DataFrame:
    """Add ``owner`` and ``fallback_owner`` columns.

    ``cards[members_col]`` must be the ordered array of member
    usernames (order = Trello's idMembers order, which drives the
    first-match rules). ``raw_fallback`` is the custom-field text with
    ``@`` already stripped; null = no fallback field.
    """
    members = F.col(members_col)
    rf = F.col(raw_fallback_col)
    rf_l = F.lower(rf)

    # owner: first member NOT matching the fallback pattern
    # (all members qualify when there is no fallback) — transform.js:346–353
    owner = F.try_element_at(
        F.filter(
            members,
            lambda m: F.when(rf.isNull(), F.lit(True)).otherwise(
                ~F.regexp_like(F.lower(m), rf_l)
            ),
        ),
        F.lit(1),
    )

    with_owner = cards.withColumn("owner", owner)

    # fallback: first member matching the pattern, never the owner
    # (case-insensitive guard) — transform.js:356–368
    fb_sub = F.when(
        rf.isNotNull(),
        F.try_element_at(
            F.filter(
                F.col(members_col),
                lambda m: (
                    F.when(F.col("owner").isNull(), F.lit(True)).otherwise(
                        F.lower(m) != F.lower(F.col("owner"))
                    )
                    & F.regexp_like(F.lower(m), F.lower(F.col(raw_fallback_col)))
                ),
            ),
            F.lit(1),
        ),
    )
    with_fb = with_owner.withColumn("_fb_sub", fb_sub)

    # exact-match rescue in the full member dim — transform.js:369–377
    rescue = F.broadcast(
        members_dim.select(
            F.lower(F.col(username_col)).alias("_rescue_key"),
            F.col(username_col).alias("_rescue_username"),
        ).dropDuplicates(["_rescue_key"])
    )
    joined = with_fb.join(
        rescue,
        (F.col("_fb_sub").isNull())
        & F.col(raw_fallback_col).isNotNull()
        & (F.lower(F.col(raw_fallback_col)) == F.col("_rescue_key")),
        "left",
    )

    return joined.withColumn(
        "fallback_owner", F.coalesce(F.col("_fb_sub"), F.col("_rescue_username"))
    ).drop("_fb_sub", "_rescue_key", "_rescue_username")


def with_owner_sentinels(df: DataFrame) -> DataFrame:
    """`owners[i] || sentinel` — JS `||` also swallows empty strings
    (transform.js:279–281)."""
    return df.withColumn(
        "owner", F.coalesce(F.nullif("owner", F.lit("")), F.lit(OWNER_SENTINEL))
    ).withColumn(
        "fallback_owner",
        F.coalesce(
            F.nullif("fallback_owner", F.lit("")), F.lit(FALLBACK_SENTINEL)
        ),
    )


def fuzzy_username_to_id(
    queries: DataFrame,
    members_dim: DataFrame,
    order_col: str,
    query_col: str = "query_username",
) -> DataFrame:
    """`trelloUsernameToId` (transform.js:189–211) as a set operator.

    Case-folds and @-strips the query, then finds the FIRST board
    member whose username contains it, "first" in ``order_col`` order
    (the board array's JSON order; Spark has no stable physical order
    to stand in for it). Nulls propagate as no-match, mirroring the
    reference's early return + warn.
    """
    from pyspark.sql.window import Window

    q = F.lower(F.regexp_replace(F.col(query_col), r"^@", ""))
    dim = F.broadcast(
        members_dim.select(
            F.col(order_col).alias("_ord"),
            F.col("id").alias("member_id"),
            F.col("username").alias("member_username"),
        )
    )
    matched = queries.withColumn("_q", q).join(
        dim, F.instr(F.lower(F.col("member_username")), F.col("_q")) > 0, "left"
    )
    w = Window.partitionBy(query_col).orderBy(F.col("_ord").asc_nulls_last())
    return (
        matched.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_q", "_ord", "_rn")
    )
