"""Gopher/MassiveText-style document quality rules (Rae et al. 2021,
"Scaling Language Models: ... Gopher", §A1.1 — public paper; same
rule family as the reference pipeline's quality gates would feed).

Each rule is a narrow, JVM-side boolean column over (tokens, text) —
no UDFs, no shuffles: at 100 TB this is a pure map stage that
whole-stage-codegens into the scan. The thresholds are module
constants so the Spark implementation and the DuckDB oracle SQL in
queries/llm_q.py derive from ONE definition (the PQ_DSUB lesson from
ADVICE r3: a tunable that appears in two places will desync).

Ratio determinism note: every ratio here is a single int/int -> double
division (IEEE-exact, engine-independent); no float accumulations.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Gopher §A1.1 thresholds (word-count bounds, mean-word-length
# bounds, max symbol-to-word ratio, max bullet-start / ellipsis-end
# line fractions, min fraction of words containing an alphabetic
# char, min count of distinct "required" stopwords present).
MIN_WORDS = 50
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 3.0
MAX_MEAN_WORD_LEN = 10.0
MAX_SYMBOL_WORD_RATIO = 0.1
MAX_BULLET_LINE_RATIO = 0.9
MAX_ELLIPSIS_LINE_RATIO = 0.3
MIN_ALPHA_WORD_RATIO = 0.8
MIN_REQUIRED_STOPWORDS = 2
REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

_ELLIPSIS_RE = r"\.\.\."


def rule_word_count(toks: Column) -> Column:
    n = F.size(toks)
    return (n >= MIN_WORDS) & (n <= MAX_WORDS)


def rule_mean_word_length(toks: Column) -> Column:
    n = F.size(toks)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean = total.cast("double") / n
    return F.when(n == 0, F.lit(False)).otherwise(
        (mean >= MIN_MEAN_WORD_LEN) & (mean <= MAX_MEAN_WORD_LEN)
    )


def rule_symbol_ratio(text: Column, toks: Column) -> Column:
    """(# occurrences of '#' + non-overlapping '...') / n_words."""
    n = F.size(toks)
    syms = F.regexp_count(text, F.lit("#")) + F.regexp_count(
        text, F.lit(_ELLIPSIS_RE)
    )
    return F.when(n == 0, F.lit(False)).otherwise(
        syms.cast("double") / n <= MAX_SYMBOL_WORD_RATIO
    )


def _lines(text: Column) -> Column:
    return F.split(text, "\n")


def rule_bullet_lines(text: Column) -> Column:
    lines = _lines(text)
    n = F.size(lines)
    bullets = F.size(
        F.filter(
            lines,
            lambda ln: ln.startswith("- ") | ln.startswith("* "),
        )
    )
    # a text always splits to >= 1 line, so no zero guard needed
    return bullets.cast("double") / n <= MAX_BULLET_LINE_RATIO


def rule_ellipsis_lines(text: Column) -> Column:
    lines = _lines(text)
    n = F.size(lines)
    ell = F.size(F.filter(lines, lambda ln: ln.endswith("...")))
    return ell.cast("double") / n <= MAX_ELLIPSIS_LINE_RATIO


def rule_alpha_words(toks: Column) -> Column:
    n = F.size(toks)
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    return F.when(n == 0, F.lit(False)).otherwise(
        alpha.cast("double") / n >= MIN_ALPHA_WORD_RATIO
    )


def rule_required_stopwords(toks: Column) -> Column:
    req = F.array(*[F.lit(s) for s in REQUIRED_STOPWORDS])
    hits = F.size(F.filter(req, lambda s: F.array_contains(toks, s)))
    return hits >= MIN_REQUIRED_STOPWORDS


RULE_COLS = (
    "r_word_count",
    "r_mean_len",
    "r_symbol",
    "r_bullet",
    "r_ellipsis",
    "r_alpha",
    "r_stop",
)


def gopher_rules(toks: Column, text: Column) -> dict[str, Column]:
    """All rule booleans, keyed by output column name; ``keep`` is
    their conjunction. Callers project ``tokens(text)`` ONCE and pass
    the array (SCALE.md lesson 38 — HOF projections get no
    subexpression elimination)."""
    rules = {
        "r_word_count": rule_word_count(toks),
        "r_mean_len": rule_mean_word_length(toks),
        "r_symbol": rule_symbol_ratio(text, toks),
        "r_bullet": rule_bullet_lines(text),
        "r_ellipsis": rule_ellipsis_lines(text),
        "r_alpha": rule_alpha_words(toks),
        "r_stop": rule_required_stopwords(toks),
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else keep & c
    rules["keep"] = keep
    return rules
