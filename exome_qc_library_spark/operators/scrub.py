"""S11/K11 — PII + toxicity regex scrub over surviving text.

Analog of the reference's fixed-order regex munging
(``/root/reference/annotation_munging/expand_ensembl_annotations.py:12-55``)
and of keyed annotation resources applied as broadcast lookups
(``shared/variant_annotation.py:357-441``).

Byte-stability contract (BASELINE.json): the scrub is a fixed, ordered
chain of ``F.regexp_replace`` calls — JVM-side, no Python, no locale
dependence — so ``scrubbed_text`` is byte-identical per url across runs
and parallelism levels. Patterns are ordered most-specific-first and the
order is part of the engine contract (tested against golden fixtures).

Per BASELINE.json the scrub applies only to records still in the keep
set; dropped records carry NULL ``scrubbed_text`` (they are never
exported as training text).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.memo import per_jvm


@dataclass(frozen=True)
class ScrubRule:
    pattern_id: str
    regex: str
    replacement: str
    # cheap prefilter (round 7, guide §1.2 "per-task work"): a regex such
    # that NO text failing it can match ``regex`` — e.g. a pattern with a
    # mandatory digit cannot fire on a digit-free document. When every
    # rule in a chain carries one, the expensive backtracking patterns are
    # gated behind a single cheap character-class scan; on the bench
    # corpus only ~8.5% of docs contain a digit at all, so ~92% of rows
    # skip the 5 digit patterns entirely. ``None`` = always evaluate
    # (exactly the pre-round-7 behavior; custom rule sets without gates
    # lose nothing but gain nothing).
    gate: str | None = None


_DIGIT = r"[0-9]"

# fixed order: long/specific patterns before short/general ones
PII_RULES: tuple[ScrubRule, ...] = (
    ScrubRule(
        "email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>", gate="@"
    ),
    ScrubRule(
        "credit_card",
        r"\b\d(?:[ -]?\d){12,18}\b",
        "<CARD>",
        gate=_DIGIT,
    ),
    ScrubRule("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>", gate=_DIGIT),
    ScrubRule(
        # every digit-run entry point carries a leading anchor (literal '+'
        # or \b) — without one the pattern matched a SUFFIX of longer digit
        # runs (e.g. a 13-digit record id), scrubbing non-phone identifiers
        # and leaving stray lead digits (round-6 review). \b (not
        # lookbehind) because the DuckDB oracle mirror runs RE2. The paren
        # branch needs no anchor: '(' itself terminates any digit run.
        "phone",
        r"(?:(?:\+|\b)\d{1,2}[ .-]?)?(?:\(\d{3}\)[ .-]?|\b\d{3}[ .-])\d{3}[ .-]\d{4}\b",
        "<PHONE>",
        gate=_DIGIT,
    ),
    ScrubRule("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>", gate=_DIGIT),
)

# tiny demonstration lexicon; a production deployment swaps in a real one.
TOXICITY_RULES: tuple[ScrubRule, ...] = (
    ScrubRule("slur_stub", r"(?i)\b(?:badslur1|badslur2)\b", "<TOX>", gate="(?i)badslur"),
)

DEFAULT_RULES: tuple[ScrubRule, ...] = PII_RULES + TOXICITY_RULES


def scrub_expr(text: Column) -> Column:
    """``text`` with every ``DEFAULT_RULES`` span replaced, in rule order."""
    return _scrub_chain(text, DEFAULT_RULES)


def _scrub_chain(text: Column, rules: tuple[ScrubRule, ...]) -> Column:
    out = text
    for r in rules:
        out = F.regexp_replace(out, r.regex, r.replacement)
    gates = [r.gate for r in rules]
    if gates and all(g is not None for g in gates):
        # one cheap pass decides whether the whole fixed-order replace
        # chain can possibly fire; gating on the ORIGINAL text is exact
        # because when no rule's gate matches, no replacement happens at
        # any point in the chain (replacement tokens like <CARD> cannot
        # re-introduce a gated character mid-chain since nothing ran).
        # The gate is per-CHAIN, not per-rule: a per-rule when/otherwise
        # would reference the accumulated chain twice per rule and blow
        # the expression tree up 2^rules-fold. Each gate is wrapped in its
        # own group so an inline flag such as (?x) or (?i) stays scoped to
        # the gate that carries it instead of leaking into later ones.
        gate = "|".join(f"(?:{g})" for g in dict.fromkeys(gates))
        return F.when(text.rlike(gate), out).otherwise(text)
    return out


def pii_hits_expr(text: Column) -> Column:
    """Total count of ``DEFAULT_RULES`` spans (metric column, pre-scrub).

    ``regexp_count`` rather than ``size(regexp_extract_all(...))``: the
    count of non-overlapping matches is identical, but the counting form
    never materializes the matched substrings or the array holding them —
    this column is computed over EVERY document (keepers and dropped), so
    per-match allocations are pure garbage at corpus scale."""
    return _pii_count(text, DEFAULT_RULES)


def _pii_count(text: Column, rules: tuple[ScrubRule, ...]) -> Column:
    total = F.lit(0)
    for r in rules:
        cnt = F.coalesce(F.regexp_count(text, F.lit(r.regex)), F.lit(0))
        if r.gate is not None:
            # per-rule gating is safe here (unlike scrub_expr's chain):
            # every branch references the same raw ``text``, so the tree
            # stays linear. The 5 digit rules share one literal gate
            # expression, which codegen subexpression elimination
            # evaluates once per row.
            cnt = F.when(text.rlike(r.gate), cnt).otherwise(F.lit(0))
        total = total + cnt
    return F.when(text.isNotNull(), total.cast("long"))


@per_jvm
def _text_scrub_cols(rules: tuple[ScrubRule, ...]) -> tuple[Column, Column, Column]:
    """Over ``text`` under ``rules``: the scrub, the scrub of keepers only,
    and the span count."""
    scrubbed = _scrub_chain(F.col("text"), rules)
    return scrubbed, F.when(F.col("keep"), scrubbed), _pii_count(F.col("text"), rules)


def apply_scrub(df: DataFrame) -> DataFrame:
    """``scrubbed_text``: scrub ``text`` of keepers only when a ``keep``
    column exists (survivor-gated, per north rule); annotate-don't-drop."""
    scrubbed, keepers, _ = _text_scrub_cols(DEFAULT_RULES)
    return df.withColumn("scrubbed_text", keepers if "keep" in df.columns else scrubbed)


def with_pii_hits(df: DataFrame) -> DataFrame:
    return df.withColumn("pii_hits", _text_scrub_cols(DEFAULT_RULES)[2])
