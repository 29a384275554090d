"""Composite check-item parser: the full `parseChecklistItem` pipeline.

Reference: lib/transform.js:25–70 — strip index prefix, extract+strip
bounty, split title/desc at 50 chars, append bounty footer. All
native columns, staged: each step adds its own named column, so a
later step reads an earlier one's value instead of inlining its
expression, and every regex appears once in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trello_github_etl_spark.functions import text


def with_parsed_check_item(df: DataFrame, name_col: str, out_col: str) -> DataFrame:
    """Add ``out_col``: ``name_col`` → struct<clean_name, amount, title, desc>.

    Mirrors the reference's mutation order: the index prefix is
    stripped before the bounty (so ``"1) task (1 Dash)"`` parses
    both), and the title split runs on the fully-stripped name. The
    bounty strip is JS's first-match ``replace``: a split at the first
    match, rejoined and trimmed; a name without a match stays as is.
    """
    steps = [f"_{out_col}_{s}" for s in ("name", "amount", "parts", "clean", "split")]
    name, amount, parts, clean, split = steps
    c = F.col
    staged = (
        df.withColumn(name, text.strip_index_prefix(c(name_col)))
        .withColumn(amount, text.extract_bounty_amount(c(name)))
        .withColumn(parts, F.split(c(name), text.BOUNTY_RE, 2))
        .withColumn(
            clean,
            F.when(F.size(parts) == 1, c(name)).otherwise(F.trim(F.array_join(parts, ""))),
        )
        .withColumn(split, text.split_title_desc(c(clean)))
        .withColumn(
            out_col,
            F.struct(
                c(clean).alias("clean_name"),
                c(amount).alias("amount"),
                c(split)["title"].alias("title"),
                # NB: bracket access — `.desc` would resolve to Column.desc() (sort).
                text.append_bounty_footer(c(split)["desc"], c(amount)).alias("desc"),
            ),
        )
    )
    return staged.drop(*steps)
