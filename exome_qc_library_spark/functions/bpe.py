"""Deterministic byte-pair-encoding token counts (round-5 VERDICT #6).

``token_budget_sample`` / ``assign_packing_bins`` consume whatever weight
column they are given, but until round 6 the only in-repo token weight
was the whitespace / BPE-ish-regex estimate — a real mixing or packing
run wants actual subword counts. This module supplies them with zero
external files (public-knowledge rule): a tiny classic BPE (Sennrich
et al. 2016 — iteratively merge the most frequent adjacent symbol pair)
trained at import time from the same embedded multilingual lexicon
corpus the perplexity model uses, fully deterministic (frequency ties
break lexicographically, corpus order is sorted), with the merge table
serializable/round-trippable so a deployment can pin or swap it.

Scoring is word-memoized (natural text reuses a small working set of
word types, so the per-word merge loop runs once per TYPE per executor,
not once per token) and ships through the same iterator-pandas-UDF /
Arrow pattern as every other Python-side scorer here; the one entry
point is :func:`~..operators.tokenize.with_bpe_token_count`.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd

from .lexicons import LEXICONS

# same pretokenizer shape as tokenize.BPE_ISH_PATTERN (GPT-2-style,
# lookahead-free); BPE runs per pretoken, never across whitespace
_PRETOKEN = re.compile(r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+")
_EOW = "</w>"
_DEFAULT_MERGES = 256
_RANKS: dict[tuple[str, str], int] | None = None


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> dict[tuple[str, str], int]:
    counts: dict[tuple[str, str], int] = {}
    for word, n in vocab.items():
        for a, b in zip(word, word[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + n
    return counts


def _merge_word(word: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(word):
        if i + 1 < len(word) and (word[i], word[i + 1]) == pair:
            out.append(word[i] + word[i + 1])
            i += 2
        else:
            out.append(word[i])
            i += 1
    return tuple(out)


def train_bpe(corpus: list[str], n_merges: int = _DEFAULT_MERGES) -> list[tuple[str, str]]:
    """Classic BPE training (public algorithm): symbol vocabulary starts
    as characters + an end-of-word marker; each step merges the globally
    most frequent adjacent pair. DETERMINISTIC: ties on frequency break
    on the lexicographically smallest pair, so the same corpus always
    yields the same merge table on any platform."""
    vocab: dict[tuple[str, ...], int] = {}
    for text in corpus:
        for m in _PRETOKEN.finditer(text.lower()):
            w = tuple(m.group(0)) + (_EOW,)
            vocab[w] = vocab.get(w, 0) + 1
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts = _pair_counts(vocab)
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < 2:
            break  # nothing repeats — further merges are noise
        merges.append(best)
        vocab = {_merge_word(w, best): n for w, n in vocab.items()}
    return merges


def merges_to_lines(merges: list[tuple[str, str]]) -> list[str]:
    """Serialize a merge table (one ``left<TAB>right`` line per merge, in
    rank order) — the pinnable artifact a deployment ships instead of
    retraining. Symbols never contain tabs (pretokens are \\S runs)."""
    return [f"{a}\t{b}" for a, b in merges]


def lines_to_merges(lines: list[str]) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    for ln in lines:
        a, b = ln.split("\t")
        out.append((a, b))
    return out


def default_merges() -> list[tuple[str, str]]:
    """Import-time-trainable default table over the embedded lexicon
    corpus (sorted languages → deterministic), cached per process. Words
    carry a Zipf-like synthetic frequency (rank-ordered repetition) so
    pair statistics resemble natural text and the merge budget is
    actually spent — a flat one-count-per-word corpus exhausts repeating
    pairs after a few dozen merges."""
    corpus = [
        " ".join(w for i, w in enumerate(LEXICONS[lang]) for _ in range(max(1, 24 - i)))
        for lang in sorted(LEXICONS)
    ]
    return train_bpe(corpus)


def _ranks() -> dict[tuple[str, str], int]:
    global _RANKS
    if _RANKS is None:
        _RANKS = {p: i for i, p in enumerate(default_merges())}
    return _RANKS


@lru_cache(maxsize=1 << 18)
def _encode_word_len(word: str) -> int:
    """Subword count of one pretoken under the default merge table —
    greedy lowest-rank merging, memoized per word TYPE per process."""
    ranks = _ranks()
    syms = list(word) + [_EOW]
    # merge EVERY occurrence of the chosen pair per pass (classic BPE
    # encode, O(L·merges)); one-occurrence-per-pass rescanning is O(L²)
    # on pathological repetitive pretokens. Output-identical: a pair
    # created by merging (a,b) always ranks after (a,b) in the trained
    # table, so no later occurrence could have preferred a new pair.
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for a, b in zip(syms, syms[1:]):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (a, b)
        if best_pair is None:
            break
        a, b = best_pair
        merged, out, i, n = a + b, [], 0, len(syms)
        while i < n:
            if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


def count_tokens_batch(texts: pd.Series, max_chars: int = 20000) -> pd.Series:
    """Per-text BPE token count (Int64, NULL-safe). ``max_chars`` bounds
    the per-row Python cost the same way the perplexity scorer bounds its
    byte window — a budget/packing weight needs proportionality, not an
    unbounded scan of a pathological 100 MB row."""
    out: list[int | None] = []
    for t in texts:
        if t is None:
            out.append(None)
            continue
        out.append(
            sum(
                _encode_word_len(m.group(0))
                for m in _PRETOKEN.finditer(str(t)[:max_chars].lower())
            )
        )
    return pd.Series(out, dtype="Int64")
