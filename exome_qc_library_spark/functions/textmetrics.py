"""Per-document text metrics as pure DataFrame expressions.

Analog of the reference's composite per-row QC metrics struct
``hl.variant_qc(mt)`` → {call_rate, AC, AF, n_het, p_value_hwe, ...}
(``/root/reference/shared/variant_qc.py:539``) — here the per-document
Gopher/C4-style heuristics: word count, mean word length, symbol ratio,
duplicate-line fraction, stopword density, bullet/ellipsis line ratios.

Everything is a JVM-side Column expression (split / higher-order array
functions / regexp) so the whole metric block compiles into one
whole-stage-codegen projection — no Python on the data path, no shuffle.
NULL text yields NULL metrics (→ ``missing_*`` flags downstream), never
a silent default, mirroring the reference's pervasive ``hl.is_defined``
guards (``shared/variant_qc.py:137-144``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .memo import per_jvm

# Small English stopword lexicon (public, standard closed-class words).
EN_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "a", "in", "that", "have", "i",
    "it", "for", "not", "on", "with", "he", "as", "you", "do", "at",
    "this", "but", "his", "by", "from", "they", "we", "say", "her", "she",
    "or", "an", "will", "my", "one", "all", "would", "there", "their", "is",
    "was", "are", "been", "has", "had", "were", "which", "when", "who", "what",
)


def _multilingual_stopwords() -> tuple[str, ...]:
    """Union of EN stopwords + every language lexicon — the low-pass
    stopword-density heuristic must be language-agnostic (it runs BEFORE
    language-ID, like the reference's low-pass QC runs before imputation
    stages, ``exome_qc/exome_qc.py:166-198`` vs ``:335-393``)."""
    from .lexicons import LEXICONS

    out = set(EN_STOPWORDS)
    for words in LEXICONS.values():
        out.update(words)
    return tuple(sorted(out))


STOPWORD_SET: tuple[str, ...] = _multilingual_stopwords()

BULLET_PREFIXES = ("-", "*", "•", "‣", "◦")


def words_expr(text: Column) -> Column:
    """Whitespace tokenization; empty/whitespace-only text → empty array.

    NULL text propagates to NULL (missing-metric semantics).
    """
    return F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != "")


def lines_expr(text: Column) -> Column:
    """Non-empty trimmed lines.

    Splits on ``\\r?\\n`` and trims ALL whitespace per line (round-6
    review): a bare ``\\n`` split left CRLF text with a trailing ``\\r``
    on every line — ``endswith('...')`` never matched and every
    line-based heuristic saw phantom suffixes — and ``F.trim`` strips
    only spaces, so tab-only lines counted as content."""
    return F.filter(
        F.transform(
            F.split(text, r"\r?\n"),
            lambda line: F.regexp_replace(line, r"^\s+|\s+$", ""),
        ),
        lambda line: line != "",
    )


def text_metrics(text: Column) -> dict[str, Column]:
    """All per-doc metrics as a dict of named Column expressions.

    Computed off two shared sub-expressions (words, lines) so Catalyst
    common-subexpression elimination keeps the projection cheap.
    """
    ws = words_expr(text)
    lns = lines_expr(text)
    n_words = F.size(ws)
    n_chars = F.length(text)
    total_word_chars = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_lines = F.size(lns)
    lower_words = F.transform(ws, lambda w: F.lower(w))
    n_stop = F.size(F.filter(lower_words, lambda w: w.isin(*STOPWORD_SET)))
    n_alpha_words = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    # Unicode letter/number classes, not [A-Za-z0-9] (round-6 review):
    # ASCII-only classes count every accented Latin letter and all CJK as
    # "symbols", failing legitimate multilingual docs at the 0.10-0.12
    # thresholds. \p{L}\p{N} is supported identically by Java regex and
    # the DuckDB oracle's RE2.
    n_sym = F.length(F.regexp_replace(text, r"[\p{L}\p{N}\s]", ""))
    n_ellipsis = F.size(F.filter(lns, lambda line: line.endswith("...")))
    n_bullet = F.size(
        F.filter(
            lns,
            lambda line: F.substring(line, 1, 1).isin(*BULLET_PREFIXES),
        )
    )
    safe_words = F.when(n_words > 0, n_words.cast("double"))
    safe_lines = F.when(n_lines > 0, n_lines.cast("double"))
    safe_chars = F.when(n_chars > 0, n_chars.cast("double"))
    return {
        "n_chars": n_chars.cast("long"),
        "word_count": n_words.cast("long"),
        "line_count": n_lines.cast("long"),
        "mean_word_len": total_word_chars / safe_words,
        "symbol_ratio": n_sym / safe_chars,
        "dup_line_frac": F.when(
            n_lines > 0, 1.0 - F.size(F.array_distinct(lns)) / safe_lines
        ),
        "stopword_density": n_stop / safe_words,
        "alpha_word_ratio": n_alpha_words / safe_words,
        "ellipsis_line_frac": n_ellipsis / safe_lines,
        "bullet_line_frac": n_bullet / safe_lines,
        "max_word_len": F.array_max(F.transform(ws, lambda w: F.length(w))).cast("long"),
    }


METRIC_NAMES: tuple[str, ...] = (
    "n_chars",
    "word_count",
    "line_count",
    "mean_word_len",
    "symbol_ratio",
    "dup_line_frac",
    "stopword_density",
    "alpha_word_ratio",
    "ellipsis_line_frac",
    "bullet_line_frac",
    "max_word_len",
)


@per_jvm
def _text_column_metrics() -> dict[str, Column]:
    """:func:`text_metrics` of the ``text`` column."""
    return text_metrics(F.col("text"))


def with_text_metrics(df: DataFrame) -> DataFrame:
    """Annotate all metrics of ``text`` in ONE ``withColumns`` projection
    (annotate-don't-drop)."""
    return df.withColumns(_text_column_metrics())
