"""Text analysis expressions: token counts and a composite quality score.

Training-data-pipeline operators beyond the reference's own surface:
token counting (whitespace + a BPE-ish regex, the ``token_counts``
query) and a composite quality score (the ``quality_score`` query) —
all pure JVM expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.textmetrics import words_expr

# GPT-2-style pretokenizer shape (public pattern): contractions, letter
# runs, digit runs, punctuation runs — approximated without lookaheads so
# it is portable to both Spark and the DuckDB oracle.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def whitespace_token_count(text: Column) -> Column:
    return F.size(words_expr(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Count of BPE-ish pretokens (upper-bounds real BPE token count)."""
    return F.when(
        text.isNotNull(),
        F.coalesce(
            F.size(F.regexp_extract_all(text, F.lit(f"({BPE_ISH_PATTERN})"), 1)), F.lit(0)
        ).cast("long"),
    )


def quality_score_expr() -> Column:
    """Composite [0,1] quality score from the metric columns — a cheap,
    monotone summary used for ranking/sampling (not for the verdict,
    which stays an auditable flag conjunction).

    NULL whenever any input metric is NULL (round-6 review): Spark's
    ``greatest``/``least`` SKIP NULL arguments, so without the guard an
    all-NULL-metrics doc (NULL/empty text) clamps to a PERFECT 1.0 and
    ranks top in quality-based sampling and dedup representative
    election — the opposite of the missing-is-never-a-pass invariant."""
    inputs = ("stopword_density", "alpha_word_ratio", "symbol_ratio", "dup_line_frac")
    defined = F.lit(True)
    for c in inputs:
        defined = defined & F.col(c).isNotNull()
    clamp = lambda c: F.greatest(F.lit(0.0), F.least(F.lit(1.0), c))  # noqa: E731
    return F.when(
        defined,
        clamp(
            0.25 * clamp(F.col("stopword_density") / 0.4)
            + 0.25 * clamp(F.col("alpha_word_ratio"))
            + 0.25 * clamp(1.0 - F.col("symbol_ratio") / 0.2)
            + 0.25 * clamp(1.0 - F.col("dup_line_frac"))
        ),
    )
