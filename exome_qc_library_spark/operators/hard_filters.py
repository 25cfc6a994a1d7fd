"""S3/S9 — Gopher/C4-style heuristic quality rules → fail-flag columns.

This is the target analog of the reference's two-pass variant QC:
``find_failing_vars`` appends ``failing_*`` tags per rule at *low-pass*
(lenient) and *final* (strict) thresholds
(``/root/reference/shared/variant_qc.py:527-725``, flags appended at
``:568-628``), with missing metrics tagged ``missing_*`` (``:573-575``)
and threshold dicts recorded as run metadata (``:767-781``).

All rules are pure Column expressions over the metric columns produced
by :mod:`..functions.textmetrics` — one codegen'd projection, no Python.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.flags import apply_flags, flag_update
from ..functions.memo import per_jvm
from ..functions.textmetrics import METRIC_NAMES, with_text_metrics


@dataclass(frozen=True)
class QualityThresholds:
    """One threshold set (the reference keeps a low-pass and a final dict)."""

    min_word_count: int = 50
    max_word_count: int = 200_000
    min_mean_word_len: float = 2.0
    max_mean_word_len: float = 12.0
    max_symbol_ratio: float = 0.12
    max_dup_line_frac: float = 0.50
    min_stopword_density: float = 0.05
    min_alpha_word_ratio: float = 0.70
    max_ellipsis_line_frac: float = 0.40
    max_bullet_line_frac: float = 0.90
    max_word_len: int = 60


LOW_PASS = QualityThresholds()
FINAL = QualityThresholds(
    min_word_count=60,
    max_symbol_ratio=0.10,
    max_dup_line_frac=0.30,
    min_stopword_density=0.10,
    min_alpha_word_ratio=0.80,
    max_ellipsis_line_frac=0.30,
)


def quality_rules(t: QualityThresholds) -> dict[str, object]:
    """tag → predicate. Predicates are True = failing (flag appended)."""
    c = F.col
    return {
        "word_count": (c("word_count") < t.min_word_count)
        | (c("word_count") > t.max_word_count),
        "mean_word_len": (c("mean_word_len") < t.min_mean_word_len)
        | (c("mean_word_len") > t.max_mean_word_len),
        "symbol_ratio": c("symbol_ratio") > t.max_symbol_ratio,
        "dup_line_frac": c("dup_line_frac") > t.max_dup_line_frac,
        "stopword_density": c("stopword_density") < t.min_stopword_density,
        "alpha_word_ratio": c("alpha_word_ratio") < t.min_alpha_word_ratio,
        "ellipsis_line_frac": c("ellipsis_line_frac") > t.max_ellipsis_line_frac,
        "bullet_line_frac": c("bullet_line_frac") > t.max_bullet_line_frac,
        "max_word_len": c("max_word_len") > t.max_word_len,
    }


def _missing_inputs() -> dict[str, list]:
    """Every rule's inputs, for missing_* tagging. A NULL metric (NULL or
    unextractable text) yields ``missing_<rule>``, never a silent pass.

    Derived from the rules table — every rule's tag IS its single input
    column; a hand-written second copy would drift when a rule is added
    or renamed (round-6 review)."""
    return {tag: [F.col(tag)] for tag in quality_rules(LOW_PASS)}


@per_jvm
def _quality_flags(flag_col: str, t: QualityThresholds):
    """The :func:`flag_update` of every rule at thresholds ``t``."""
    return flag_update(flag_col, quality_rules(t), _missing_inputs())


def apply_hard_filters(
    df: DataFrame,
    flag_col: str = "low_pass_failing_qc",
    thresholds: QualityThresholds = LOW_PASS,
    compute_metrics: bool = True,
) -> DataFrame:
    """Annotate ``text``'s metrics (if absent) + append one flag per violated rule.

    Row count and key set are preserved; thresholds are recorded by the
    checkpoint manifest (the Hail-globals analog) by the pipeline runner.
    """
    if compute_metrics and not set(METRIC_NAMES).issubset(df.columns):
        df = with_text_metrics(df)
    return apply_flags(df, flag_col, _quality_flags(flag_col, thresholds))


def thresholds_metadata(t: QualityThresholds) -> dict:
    return asdict(t)
