"""S9 — character-trigram LM perplexity scoring (KenLM-style analog).

Analog of ``hl.impute_sex``'s aggregate-statistic classifier and the
HWE p-value computation (``/root/reference/shared/variant_qc.py:547``,
K3/A12 in SURVEY.md): a per-record score from a trained model,
thresholded into a fail flag.

The model is a deterministic backoff char-trigram LM trained at import
time from an embedded seed corpus spun from the language lexicons —
no external files (public-knowledge rule). Scoring runs as a vectorized
**iterator pandas UDF** (Arrow batches; numpy vectorized inner loop;
model built once per executor process), per the input_hint's
"vectorized pandas/Arrow UDFs (no per-row Python)" mandate.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.flags import apply_flags, flag_update
from ..functions.lexicons import LEXICONS
from ..functions.memo import per_jvm

_N_BUCKETS = 1 << 15
_MODEL: np.ndarray | None = None


def _bucketize(b: np.ndarray) -> np.ndarray:
    """byte trigrams → hashed buckets (pure arithmetic, platform-stable)."""
    tri = b[:-2].astype(np.int64) * 65536 + b[1:-1].astype(np.int64) * 256 + b[2:]
    return (tri * 2654435761 % (2**31)) % _N_BUCKETS


def _train() -> np.ndarray:
    """Laplace-smoothed log-prob per hashed trigram bucket over a
    deterministic multilingual pseudo-corpus (all lexicon word bigrams)."""
    counts = np.ones(_N_BUCKETS, dtype=np.float64)
    for words in LEXICONS.values():
        corpus = " ".join(f"{a} {b}" for a in words for b in words)
        arr = np.frombuffer(corpus.encode("utf-8"), dtype=np.uint8)
        bk, cnt = np.unique(_bucketize(arr), return_counts=True)
        counts[bk] += cnt
    return np.log(counts / counts.sum())


def _model() -> np.ndarray:
    global _MODEL
    if _MODEL is None:
        _MODEL = _train()
    return _MODEL


# a doc is scored on its first 4000 UTF-8 bytes
_MAX_BYTES = 4000


def _ppl_batch(texts: pd.Series) -> pd.Series:
    logp = _model()
    out: list[float | None] = []
    for t in texts:
        if t is None:
            out.append(None)
            continue
        # char pre-slice bounds the encode work, byte post-slice enforces
        # the actual byte budget (chars alone overshoot up to 4× on CJK —
        # round-6 review); a torn trailing codepoint is harmless, the
        # kernel buckets raw bytes
        b = np.frombuffer(
            str(t)[:_MAX_BYTES].lower().encode("utf-8")[:_MAX_BYTES], dtype=np.uint8
        )
        if len(b) < 3:
            out.append(None)
            continue
        bk = _bucketize(b)
        out.append(float(np.exp(-logp[bk].mean())))
    return pd.Series(out, dtype="float64")


@per_jvm
def score_text_udf() -> Column:
    """Combined model-scoring kernel: ONE Arrow transport of ``text`` for
    both language-ID (NB trigram, :func:`~.langid._score_batch`) and
    perplexity (:func:`_ppl_batch`). At 50k docs two separate UDFs cost
    two full text shipments (~10s); combined, one (~7s). Built, and its
    function pickled, once per JVM."""
    from .langid import _model as _lid_model, _score_batch as _lid_score

    @F.pandas_udf("lang_id string, lang_conf double, perplexity double")
    def _udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        _lid_model()
        _model()
        for texts in it:
            lid = _lid_score(texts)
            lid["perplexity"] = _ppl_batch(texts)
            yield lid

    return _udf


@per_jvm
def _text_score_cols() -> tuple[Column, dict[str, Column]]:
    """The scorer's struct over ``text`` and the three columns taken from it."""
    cols = {
        "lang_id": F.col("__sc.lang_id"),
        "lang_conf": F.col("__sc.lang_conf"),
        "perplexity": F.col("__sc.perplexity"),
    }
    return score_text_udf()(F.col("text")), cols


def with_text_scores(df: DataFrame) -> DataFrame:
    # the ArrowEvalPython scorer fuses into its input's stage, whose width the
    # caller owns (CheckpointStore.read is core-wide; raw scans use spread_scan)
    s, cols = _text_score_cols()
    return df.withColumn("__sc", s).withColumns(cols).drop("__sc")


@per_jvm
def _perplexity_flags(max_perplexity: float, flag_col: str):
    """The :func:`~..functions.flags.flag_update` of :func:`flag_high_perplexity`."""
    rules = {"perplexity": F.col("perplexity") > max_perplexity}
    missing = {"perplexity": [F.col("perplexity")]}
    return flag_update(flag_col, rules, missing)


def flag_high_perplexity(
    df: DataFrame,
    max_perplexity: float,
    flag_col: str = "final_failing_qc",
) -> DataFrame:
    """Threshold ``perplexity`` into a flag; NULL perplexity →
    ``missing_perplexity`` (mirrors the two-threshold sex-imputation flags,
    ``shared/samples_qc.py:548-562`` / ``parse_arguments.py:145-146``)."""
    return apply_flags(df, flag_col, _perplexity_flags(max_perplexity, flag_col))
