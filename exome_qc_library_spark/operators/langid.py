"""S7 — language identification (+ claimed-label mismatch flag).

Analog of ``hl.impute_sex`` — a per-record classifier derived from
aggregate signals, thresholded into flags
(``/root/reference/shared/samples_qc.py:539-562``, K2/K3 in SURVEY.md).

Two scorers, for two different jobs:

* :func:`langid_expr` — **expression-based** stopword-density argmax
  (JVM-side, codegen'd, zero Python; also exactly mirrorable in the
  DuckDB oracle). Used by the registry queries only.
* :func:`_score_batch` — **fastText-style** hashed char-trigram
  multinomial Naive Bayes, the pipeline's production scorer. It runs
  inside the fused s9 UDF :func:`~.perplexity.score_text_udf` (one Arrow
  shipment of ``text`` for language-ID and perplexity; model built once
  per executor process). The model is trained at import time from the
  embedded lexicons: deterministic, no external files.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.flags import apply_flags, flag_update
from ..functions.lexicons import LANGS, LEXICONS
from ..functions.memo import per_jvm
from ..functions.textmetrics import words_expr

# ---------------------------------------------------------------- expression


def lang_density_expr(lower_words: Column, lang: str) -> Column:
    """Fraction of ``lower_words`` (a doc's lower-cased words) that are in
    ``lang``'s stopword lexicon."""
    n = F.size(lower_words)
    hits = F.size(F.filter(lower_words, lambda w: w.isin(*LEXICONS[lang])))
    return F.when(n > 0, hits / n.cast("double"))


def langid_expr(text: Column) -> Column:
    """struct<lang_id, lang_conf>: argmax over per-language densities,
    earlier LANGS entry wins exact ties (deterministic).

    NOTE on alternatives tried: a single-pass word→languages map lookup is
    SLOWER (53s vs 23s at 50k docs) because Spark's MapType ``element_at``
    is a linear scan over ArrayBasedMapData, not a hash lookup — ``isin``
    over literal lists compiles to an InSet hash check. The production path
    is the NB pandas UDF anyway (3.4× faster than either, see perplexity
    module); this expression form exists for the SQL oracle and small data.
    """
    # one lower-cased word array for every language: the densities share
    # one subtree, lambda variable included, so codegen's subexpression
    # elimination may evaluate it once per row (a copy built per language
    # would carry its own lambda variable, so no two copies would be equal)
    lower_words = F.transform(words_expr(text), lambda w: F.lower(w))
    # max of (density, -position) is the argmax with earlier-wins ties;
    # each density appears once, so the tree is linear in len(LANGS)
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    lang_density_expr(lower_words, lang).alias("lang_conf"),
                    F.lit(-i).alias("rank"),
                    F.lit(lang).alias("lang_id"),
                )
                for i, lang in enumerate(LANGS)
            ]
        )
    )
    # no signal at all (empty/NULL text) → NULL prediction
    return F.when(
        best["lang_conf"].isNotNull(),
        F.struct(best["lang_id"].alias("lang_id"), best["lang_conf"].alias("lang_conf")),
    )


# ----------------------------------------------------------------- NB model

_N_BUCKETS = 4096
_MODEL: tuple[np.ndarray, list[str]] | None = None


def _trigram_buckets(s: str) -> np.ndarray:
    b = s.encode("utf-8", errors="replace")
    if len(b) < 3:
        b = b + b"___"
    # polynomial byte-trigram hash — pure arithmetic, platform-independent
    arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
    tri = arr[:-2] * 65536 + arr[1:-1] * 256 + arr[2:]
    return (tri * 2654435761 % (2**31)) % _N_BUCKETS


def _build_model() -> tuple[np.ndarray, list[str]]:
    """Per-lang log-prob table over hashed trigram buckets, Laplace-smoothed,
    trained on a deterministic pseudo-corpus spun from the lexicons."""
    counts = np.ones((len(LANGS), _N_BUCKETS), dtype=np.float64)  # +1 smoothing
    for li, lang in enumerate(LANGS):
        words = LEXICONS[lang]
        # deterministic corpus: every bigram of lexicon words, space-joined
        corpus = " ".join(f"{a} {b}" for a in words for b in words)
        bk, cnt = np.unique(_trigram_buckets(corpus.lower()), return_counts=True)
        counts[li, bk] += cnt
    logp = np.log(counts / counts.sum(axis=1, keepdims=True))
    return logp, list(LANGS)


def _model() -> tuple[np.ndarray, list[str]]:
    global _MODEL
    if _MODEL is None:
        _MODEL = _build_model()
    return _MODEL


def _score_batch(texts: pd.Series) -> pd.DataFrame:
    logp, langs = _model()
    ids: list[str | None] = []
    confs: list[float | None] = []
    for t in texts:
        if t is None or not str(t).strip():
            ids.append(None)
            confs.append(None)
            continue
        bk = _trigram_buckets(str(t)[:2000].lower())
        scores = logp[:, bk].sum(axis=1)
        scores = scores - scores.max()
        p = np.exp(scores)
        p /= p.sum()
        i = int(np.argmax(p))
        ids.append(langs[i])
        confs.append(float(p[i]))
    return pd.DataFrame({"lang_id": ids, "lang_conf": confs})


# ------------------------------------------------------------------- flags


@per_jvm
def _lang_mismatch_flags():
    """The :func:`~..functions.flags.flag_update` of :func:`flag_lang_mismatch`."""
    pred = (
        F.col("lang_id").isNotNull()
        & F.col("lang").isNotNull()
        & (F.col("lang_id") != F.col("lang"))
        & (F.col("lang_conf") > 0.0)
    )
    rules = {"lang_mismatch": pred}
    missing = {"lang_mismatch": [F.col("lang_id")]}
    return flag_update("final_failing_qc", rules, missing)


def flag_lang_mismatch(df: DataFrame) -> DataFrame:
    """Append ``lang_mismatch`` to ``final_failing_qc`` when a confident
    prediction disagrees with a non-NULL claimed ``lang``;
    ``missing_lang_mismatch`` when no prediction
    exists (the ``missing_<tag>`` convention of
    :func:`~..functions.flags.add_flags`; mirrors imputed-vs-reported sex
    discordance flags, ``shared/samples_qc.py:548-562``).

    The confidence gate is STRICT (``lang_conf > 0``): with no
    stopword evidence at all the argmax deterministically returns the
    first lexicon language at conf 0.0, and ``>=`` flagged every stopword-free doc (numbers, code) whose claimed lang
    differed from that arbitrary pick — zero-evidence predictions must
    never fail a doc (round-6 review)."""
    return apply_flags(df, "final_failing_qc", _lang_mismatch_flags())
