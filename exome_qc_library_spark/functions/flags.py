"""Fail-flag accumulator combinators — the engine's signature semantic.

The reference accumulates per-record failure reasons into
``array<string>`` columns instead of dropping rows:

* instantiate with an empty array and conditionally ``.append(tag)``
  (``/root/reference/shared/variant_qc.py:557,568-628``);
* missing inputs get their own ``missing_*`` tag rather than a silent
  pass (``shared/variant_qc.py:573-575``, ``shared/samples_qc.py:374-377``);
* the final keep decision is "flag array is empty"
  (``shared/samples_qc.py:76-77``);
* per-flag accounting is logged after every stage
  (``shared/variant_qc.py:638-723``) — here :func:`flag_count_df`, one
  explode + aggregate instead of one full scan per flag (the pipeline
  runner folds it into the checkpoint write via observed metrics and
  records the counts in the stage's checkpoint manifest).

All combinators are pure Column expressions: no UDFs, no shuffles.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .memo import per_jvm


@per_jvm
def empty_flags() -> Column:
    """A typed empty ``array<string>`` accumulator (``hl.empty_array(hl.tstr)`` analog)."""
    return F.array().cast(T.ArrayType(T.StringType(), containsNull=False))


def with_flag_column(df: DataFrame, flag_col: str) -> DataFrame:
    """Ensure ``flag_col`` exists as an empty flag accumulator."""
    if flag_col in df.columns:
        return df
    return df.withColumn(flag_col, empty_flags())


def flag_entry(tag: str, pred: Column, inputs: Iterable[Column] | None = None) -> Column:
    """One rule → a nullable string: ``missing_<tag>`` if any input NULL,
    ``tag`` if pred, else NULL. Linear-size building block for
    :func:`add_flags` (a folded array_append would double the expression
    tree per rule and blow the 64 KB whole-stage-codegen method limit)."""
    expr = F.when(F.coalesce(pred, F.lit(False)), F.lit(tag))
    if inputs:
        any_missing = None
        for c in inputs:
            cond = c.isNull()
            any_missing = cond if any_missing is None else (any_missing | cond)
        expr = F.when(any_missing, F.lit(f"missing_{tag}")).otherwise(expr)
    return expr


VOCAB_KEY = "flag_vocab"


def flag_vocab(df: DataFrame, flag_col: str) -> list[str] | None:
    """The statically-known tag vocabulary of a flag column, or None.

    :func:`add_flags` records every tag it can emit as column metadata
    (parquet round-trips preserve it), so downstream accounting can count
    all flags with fixed aggregate expressions — e.g. inside the
    checkpoint-write job via ``df.observe`` — instead of a second full
    scan (``plans/pipeline.py``)."""
    try:
        md = df.schema[flag_col].metadata
    except KeyError:
        return None
    vocab = md.get(VOCAB_KEY)
    return list(vocab) if vocab is not None else None


def flag_update(
    flag_col: str,
    rules: dict[str, Column],
    missing_inputs: dict[str, list[Column]] | None = None,
) -> tuple[Column, tuple[str, ...]]:
    """The expression half of :func:`add_flags`: the new value of
    ``flag_col`` and every tag it can emit, in vocabulary order. It does
    not depend on a DataFrame, so a stage whose rules are constants builds
    it once (:func:`~.memo.per_jvm`) and applies it with
    :func:`apply_flags`.

    ``rules`` maps tag → boolean predicate. ``missing_inputs`` optionally
    maps tag → the metric columns whose NULL-ness yields ``missing_<tag>``.

    All rules are evaluated as independent nullable entries of a single
    array literal, NULLs filtered out, then concatenated onto the existing
    accumulator — O(rules) expression size, one ``withColumn``.
    """
    missing_inputs = missing_inputs or {}
    entries = [flag_entry(t, p, missing_inputs.get(t)) for t, p in rules.items()]
    new_flags = F.filter(F.array(*entries), lambda x: x.isNotNull())
    # coalesce the accumulator: a NULL flag array (e.g. rows introduced by
    # an outer join after the column existed) would NULL-propagate through
    # concat, silently swallowing every flag appended from then on AND
    # making size(flags)==0 keep-checks evaluate NULL (round-6 review)
    acc = F.coalesce(F.col(flag_col), F.array().cast("array<string>"))
    tags: list[str] = []
    for t in rules:
        tags.append(t)
        if missing_inputs.get(t):
            tags.append(f"missing_{t}")
    return F.concat(acc, new_flags), tuple(tags)


def apply_flags(df: DataFrame, flag_col: str, update: tuple[Column, tuple[str, ...]]) -> DataFrame:
    """The per-DataFrame half of :func:`add_flags`: set ``flag_col`` to a
    :func:`flag_update` and append its tags to the column's
    ``flag_vocab`` metadata."""
    expr, tags = update
    df = with_flag_column(df, flag_col)
    out = df.withColumn(flag_col, expr)
    md = dict(df.schema[flag_col].metadata)
    vocab = list(md.get(VOCAB_KEY, []))
    vocab += [t for t in dict.fromkeys(tags) if t not in vocab]
    md[VOCAB_KEY] = vocab
    return out.withMetadata(flag_col, md)


def add_flags(df: DataFrame, flag_col: str, rules: dict[str, Column]) -> DataFrame:
    """Apply many flag rules in ONE projection (single codegen stage):
    :func:`apply_flags` of :func:`flag_update`, for rules built per call.

    Every tag this call can emit is appended to the column's
    ``flag_vocab`` metadata — the auditable rule inventory that lets
    per-stage accounting run as observed metrics of the materialization
    job itself (see :func:`flag_vocab`).
    """
    return apply_flags(df, flag_col, flag_update(flag_col, rules))


@per_jvm
def keep_expr(*flag_cols: str) -> Column:
    """Final verdict: conjunction of empty flag arrays (README.md:51-53 invariant)."""
    out = F.lit(True)
    for c in flag_cols:
        out = out & (F.size(F.col(c)) == 0)
    return out


def flag_count_df(df: DataFrame, flag_col: str) -> DataFrame:
    """Distributed per-flag accounting table.

    Analog of the per-stage ``count_failing`` reports
    (``shared/variant_qc.py:638-723``). The pipeline runner records the
    same multiset in each stage's checkpoint manifest, scanning with this
    table only when the observed counts cannot be used.
    """
    return (
        df.select(F.explode_outer(flag_col).alias("flag"))
        .groupBy("flag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
