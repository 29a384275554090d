"""Scalar text/parse functions (SURVEY.md §2.6 F1–F18) as native columns.

Faithful re-expressions of the reference's inline JS string handling
(`lib/transform.js`), built from JVM-side `pyspark.sql.functions` so
they stay inside whole-stage codegen — no Python in the hot path.

Fidelity notes (quirks reproduced on purpose, pinned by golden tests):
- JS ``String.replace(regex-without-/g)`` replaces only the FIRST
  match; Spark's ``regexp_replace`` is global. ``replace_first``
  reproduces first-only semantics with a limit-2 ``split``.
- The title splitter (`lib/transform.js:43–60`) leaves a trailing
  space on titles that never overflow 50 chars, and emits ``" "`` for
  an empty name. Reproduced exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Bounty amount capture — lib/transform.js:16; golden pairs
# tests/dash-parser-re.js:5–13. Group 1 may capture "".
BOUNTY_RE = r"(?i)\s+\(\s*((\d+)?(\.\d+)?)\s*Dash\s*\)\s*"

# Leading "1) " index prefix — lib/transform.js:23.
INDEX_RE = r"^\s*(\d+\))\s+"

TITLE_MAX = 50  # lib/transform.js:52


def replace_first(col: Column, pattern: str) -> Column:
    """Remove the FIRST regex match from ``col`` (JS non-global replace).

    ``split`` with limit 2 cuts at the first match only; joining the
    two halves with "" splices that match out, and the pattern appears
    in the plan once.
    """
    return F.array_join(F.split(col, pattern, 2), "")


def extract_bounty_amount(name: Column) -> Column:
    """F1 capture: ``'Some task (1 DASH)' → '1'``; null when absent/empty."""
    return F.nullif(F.regexp_extract(name, BOUNTY_RE, 1), F.lit(""))


def strip_bounty(name: Column) -> Column:
    """F1 strip: remove the first bounty match, then trim (transform.js:37)."""
    return F.trim(replace_first(name, BOUNTY_RE))


def strip_index_prefix(name: Column) -> Column:
    """F2: drop a leading ``"1) "`` prefix then trim; untouched otherwise.

    The reference trims only when the prefix matched
    (transform.js:26–30), so non-matching names keep their whitespace.
    """
    return F.when(
        name.rlike(INDEX_RE), F.trim(F.regexp_replace(name, INDEX_RE, ""))
    ).otherwise(name)


def split_title_desc(name: Column) -> Column:
    """F3 (lib/transform.js:43–60): struct<title,desc> via the 50-char
    greedy word accumulator.

    The JS loop is a pure fold, so it runs as ONE JVM higher-order
    ``aggregate`` over the words — no UDF, and a small expression tree
    (an earlier closed form with slices/joins quadrupled every
    sub-expression and blew up codegen).

    Loop invariant from the reference: once a word lands in desc, desc
    is non-empty forever (every append adds at least the trailing
    space), so ``desc != ''`` doubles as the overflow flag.
    """
    words = F.split(name, r"\s")
    acc0 = F.struct(F.lit("").alias("title"), F.lit("").alias("desc"))
    space = F.lit(" ")

    def step(acc: Column, w: Column) -> Column:
        grow_desc = F.struct(
            acc["title"].alias("title"),
            F.concat(acc["desc"], w, space).alias("desc"),
        )
        grow_title = F.struct(
            F.concat(acc["title"], w, space).alias("title"),
            acc["desc"].alias("desc"),
        )
        overflow = F.struct(
            F.concat(F.trim(acc["title"]), F.lit("...")).alias("title"),
            F.concat(acc["desc"], w, space).alias("desc"),
        )
        return (
            F.when(acc["desc"] != "", grow_desc)
            .when(F.length(acc["title"]) < TITLE_MAX, grow_title)
            .otherwise(overflow)
        )

    return F.aggregate(
        words,
        acc0,
        step,
        lambda acc: F.struct(
            acc["title"].alias("title"), F.trim(acc["desc"]).alias("desc")
        ),
    )


def append_bounty_footer(desc: Column, amount: Column) -> Column:
    """F4 (transform.js:62–67): append ``Bounty: X Dash`` when extracted."""
    footer = F.concat(F.lit("Bounty: "), amount, F.lit(" Dash"))
    return F.when(amount.isNull(), desc).otherwise(
        F.when(desc == "", footer).otherwise(F.concat(desc, F.lit("\n\n"), footer))
    )


def issue_body(url: Column, desc: Column) -> Column:
    """F5 (transform.js:75–77): ``Imported from <url>.\n\n> desc``."""
    return F.concat(F.lit("Imported from <"), url, F.lit(">.\n\n> "), desc)


def render_check_line(state: Column, number: Column) -> Column:
    """F6 (transform.js:179–187): ``- [x] #N`` when closed else ``- [ ] #N``."""
    box = F.when(state == "closed", F.lit("- [x] #")).otherwise(F.lit("- [ ] #"))
    return F.concat(box, number.cast("string"))


def strip_at(username: Column) -> Column:
    """F9 (transform.js:194,344): drop a single leading ``@``."""
    return F.regexp_replace(username, r"^@", "")


def normalize_username(username: Column) -> Column:
    """F8+F9: case-fold and @-strip, the fuzzy-match key (transform.js:194)."""
    return F.lower(strip_at(username))


def task_type(checklist_name: Column) -> Column:
    """F10 (transform.js:294–295): strip first ``Tasks?`` word, append ' Task'."""
    return F.concat(
        replace_first(checklist_name, r"\s*Tasks?\s*"), F.lit(" Task")
    )


def parse_env_dsl(pairs: Column) -> Column:
    """F11 (transform.js:89–94): ``"A:B, C:D"`` → map<string,string>."""
    return F.str_to_map(pairs, F.lit(r"[,\s]+"), F.lit(":"))


def kv_key(namespace: str, entity_id: Column) -> Column:
    """F18 (etl.js:33–39): ``meta:card:{id}`` namespaced state keys."""
    return F.concat(F.lit(namespace + ":"), entity_id.cast("string"))
