"""Deterministic stratified sampling — domain/language mixing quotas.

A first-class training-data-pipeline operator (task brief §additions):
down-sample each stratum (language, source domain, quality band) to a
target fraction, deterministically. The gate is the same high-bit
multiplicative hash used by the ``sample_rows`` query (Knuth constant,
``>> 16`` so the mod sees mixed bits, 31-bit mask so the int64 product
can never overflow) — NOT an RNG stream, so the sample is:

* partition-layout-independent (same keys kept at any parallelism /
  any file split — the determinism gate the scaling study requires);
* resumable (re-running after a checkpoint restore picks the same keys);
* exactly reproducible in ANSI SQL (the ``stratified_sample`` oracle).

Reference analog: ``mt.sample_rows`` downsampling before the O(n²)
stages (``/root/reference/shared/variant_qc.py:29-63`` caps via
deterministic subset), generalized to per-stratum quotas like the
reference's per-batch stratification (``shared/samples_qc.py:408-486``).

Scale shape: one pure-expression filter — no shuffle, no RNG state, no
per-stratum jobs; the fraction lookup is a literal CASE chain (strata
counts are small: languages × sources).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.flags import add_flags

_KNUTH = 2654435761
_MASK31 = 2147483647
_BPS = 10_000  # basis points: fractions quantized to 0.01% so the gate
# compares integers — no float-threshold drift between engines
_BUCKETS = 256  # hash buckets of the two-phase running-total kernel


def _mix(key: Column) -> Column:
    """Fold the high 33 bits into the low 31 before the Knuth mix. The
    31-bit mask below is deliberate overflow protection (Spark wraps the
    int64 product silently where DuckDB raises, so an unguarded multiply
    diverges between engines) — but a bare mask discards all key entropy
    above bit 30, aliasing ids that differ only in high bits (e.g.
    ``monotonically_increasing_id``'s partition field at bits 33+, which
    would collapse every partition's row #j onto one gate value). XOR-
    folding keeps the product overflow-free AND every key bit live."""
    return F.shiftright(key, 31).bitwiseXOR(key)


def _mix_sql(key_expr: str) -> str:
    """DuckDB-verbatim mirror of :func:`_mix` (``xor`` is a function in
    DuckDB; ``^`` is exponentiation there)."""
    return f"xor({key_expr} >> 31, {key_expr})"


def hash_gate(key: Column) -> Column:
    """Uniform pseudo-random bucket in [0, 10000) from an integer key."""
    return F.pmod(
        F.shiftright(_mix(key).bitwiseAND(F.lit(_MASK31)) * F.lit(_KNUTH), 16),
        F.lit(_BPS),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep ~``fractions[stratum]`` of each stratum's rows, deterministically.

    A stratum absent from ``fractions`` keeps ``default_fraction``.
    NULL strata use ``default_fraction`` too (no silent keep-all).
    """
    threshold: Column = F.lit(int(round(default_fraction * _BPS)))
    for value, frac in sorted(fractions.items()):
        threshold = F.when(
            F.col(strata_col) == F.lit(value), F.lit(int(round(frac * _BPS)))
        ).otherwise(threshold)
    return df.filter(hash_gate(F.col(key_col)) < threshold)


def stratified_sample_sql_gate(key_expr: str = "doc_id") -> str:
    """The DuckDB-verbatim mirror of :func:`hash_gate` (oracle helper)."""
    return f"((({_mix_sql(key_expr)} & {_MASK31}) * {_KNUTH}) >> 16) % {_BPS}"


def sample_to_token_budget(
    df: DataFrame,
    budgets: Mapping[str, int],
    strata_col: str = "lang",
    weight_col: str = "n_tokens",
    default_budget: int = 0,
) -> DataFrame:
    """Keep, per stratum, the maximal pseudo-random prefix of documents
    whose cumulative ``weight_col`` stays within ``budgets[stratum]`` —
    the data-mixing primitive ("2T tokens of English, 300B of German")
    of a training-data pipeline.

    Documents are ordered by the deterministic total order
    ``(bucket, h, doc_id)`` where ``h`` is the same Knuth multiplicative
    hash as :func:`hash_gate` (full-resolution, no modulus) and
    ``bucket = h mod _BUCKETS`` — an RNG-free shuffle order that is
    partition-layout-independent, resumable, and mirrorable verbatim in
    ANSI SQL. A row is kept iff its inclusive running total ≤ budget;
    weights are non-negative so the kept set is a true prefix (no
    knapsack back-fill: byte-identical to "shuffle then take until the
    budget is hit", the semantics data-mixing recipes specify).

    Scale shape — the naive form (one cumulative window per stratum)
    funnels each language through ONE task; a web corpus is exactly as
    skewed as its language mix, so this is the same trap
    :func:`flag_over_key_cap` avoids. Two phases instead:

    1. per-(stratum, bucket) weight totals — a ``#strata × _BUCKETS``
       aggregate with map-side combine;
    2. exclusive running offsets over that tiny table (broadcast back),
       plus a local cumulative window inside each (stratum, bucket)
       partition — bounded at ~1/``_BUCKETS`` of the stratum regardless
       of its popularity.

    Global cumsum = bucket offset + local cumsum, exactly equal to the
    naive single window (pinned in tests). Strata absent from
    ``budgets`` get ``default_budget``; NULL strata are always dropped
    (they match no offset row); NULL weights count 0.
    """
    budget: Column = F.lit(int(default_budget))
    for value, b in sorted(budgets.items()):
        budget = F.when(F.col(strata_col) == F.lit(value), F.lit(int(b))).otherwise(
            budget
        )
    return (
        _with_shuffle_cumsum(df, weight_col, strata_col)
        .filter(F.col("__cum") <= budget)
        .drop("__h", "__b", "__off", "__cum")
    )


def _with_shuffle_cumsum(df: DataFrame, weight_col: str, strata_col: str | None) -> DataFrame:
    """Shared skew-aware running-total kernel: adds ``__cum`` = the
    inclusive cumulative ``weight_col`` in the deterministic
    (bucket, h, doc_id) hash-shuffle order, per stratum when ``strata_col``
    is given, global otherwise. Two phases (per-bucket totals → tiny
    broadcast offsets → bounded local windows) so no stratum — and in the
    global case no single task — ever sees more than ~1/``_BUCKETS`` of
    the rows. Also leaves ``__h``/``__b``/``__off`` for the caller to
    drop."""
    from pyspark.sql import Window as W

    for c in ("__h", "__b", "__off", "__cum"):
        if c in df.columns:
            raise ValueError(f"input already carries reserved column {c!r}")
    part = [F.col(strata_col)] if strata_col else []
    keys = ([strata_col] if strata_col else []) + ["__b"]
    h = F.shiftright(
        _mix(F.col("doc_id")).bitwiseAND(F.lit(_MASK31)) * F.lit(_KNUTH), 16
    )
    w = F.coalesce(F.col(weight_col).cast("long"), F.lit(0))
    base = df.withColumn("__h", h).withColumn("__b", F.pmod(F.col("__h"), F.lit(_BUCKETS)))
    stats = base.groupBy(*keys).agg(F.sum(w).alias("__bw"))
    w_off = (
        W.partitionBy(*part).orderBy("__b").rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = stats.select(
        *keys, F.coalesce(F.sum("__bw").over(w_off), F.lit(0)).alias("__off")
    )
    w_loc = W.partitionBy(*part, "__b").orderBy("__h", "doc_id")
    return base.join(F.broadcast(offsets), keys, "left").withColumn(
        "__cum", F.col("__off") + F.sum(w).over(w_loc)
    )


def assign_packing_bins(df: DataFrame, seq_len: int, weight_col: str = "n_tokens") -> DataFrame:
    """Sequence packing: place documents end-to-end in the deterministic
    hash-shuffle order and assign each to its training bin of
    ``seq_len`` weight units — the "pack documents into context windows"
    step that turns a curated corpus into model input.

    Adds three columns: ``bin_id`` (the bin the doc STARTS in),
    ``bin_offset`` (its start position inside that bin) and
    ``spans_boundary`` (True when the doc crosses into the next bin — a
    tokenizer either splits it there or re-pads, downstream's choice;
    this operator keeps the bookkeeping exact instead of hiding it).
    Documents are keyed by ``doc_id``; bins run over the whole input.
    Bin arithmetic subtracts the modulus before dividing
    (``excl - excl mod L`` divides exactly), so the one double division
    is of exactly-divisible integers — exact for any total weight below
    2^53 ≈ 9 peta-units, an order of magnitude past a 10^12-doc corpus
    at ~10^3 tokens/doc; NULL weights count 0; row count preserved.

    Scale shape: identical to :func:`sample_to_token_budget` (the shared
    two-phase cumsum kernel) — the global order costs one bounded window
    per hash bucket plus a 256-row offset table, never a single-task
    global sort.
    """
    out = _with_shuffle_cumsum(df, weight_col, None)
    w = F.coalesce(F.col(weight_col).cast("long"), F.lit(0))
    excl = F.col("__cum") - w
    L = F.lit(int(seq_len))
    off = F.pmod(excl, L)
    return (
        out.withColumn("bin_id", ((excl - off) / L).cast("long"))
        .withColumn("bin_offset", off.cast("long"))
        .withColumn("spans_boundary", (off + w) > L)
        .drop("__h", "__b", "__off", "__cum")
    )


def token_budget_sql_order(key_expr: str = "doc_id") -> str:
    """DuckDB-verbatim mirror of the operator's total order (oracle
    helper): ``h % _BUCKETS, h, key`` with the same full-resolution hash."""
    h = f"((({_mix_sql(key_expr)} & {_MASK31}) * {_KNUTH}) >> 16)"
    return f"{h} % {_BUCKETS}, {h}, {key_expr}"


def flag_over_key_cap(
    df: DataFrame,
    key_col: str,
    max_rows: int,
    order_cols: tuple[str, ...],
    id_col: str,
    salt_buckets: int = 16,
    flag_col: str = "low_pass_failing_qc",
) -> DataFrame:
    """Cap rows per key (docs per host/domain): keep the first ``max_rows``
    by ``order_cols`` (ties broken by ``id_col`` — a total order), flag the
    rest ``over_key_cap``. Annotate-don't-drop; row count and id set
    preserved.

    Skew-aware two-phase top-N — a domain-heavy host must NOT funnel its
    10⁸ docs through one window partition:

    1. phase 1 ranks within (key, salt-of-id): the hot key spreads over
       ``salt_buckets`` uniform partitions, each keeping its local
       ``max_rows`` head — the union is a superset of the global head
       (each survivor beats ``max_rows`` rows in its own bucket, so the
       true top-``max_rows`` always survive);
    2. phase 2 ranks the ≤ ``salt_buckets·max_rows`` survivors per key —
       a bounded-size window regardless of key popularity.

    The kept-id set joins back onto the full table (uniform id shuffle),
    so the wide doc rows never pass through either window. Result is
    EXACTLY equal to the naive single-window form (pinned in tests).
    """
    from pyspark.sql import Window as W

    order = [F.col(c) for c in order_cols] + [F.col(id_col)]
    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(salt_buckets))
    narrow = df.select(key_col, id_col, *order_cols)
    w1 = W.partitionBy(F.col(key_col), salt).orderBy(*order)
    survivors = (
        narrow.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= max_rows)
        .drop("__r1")
    )
    w2 = W.partitionBy(key_col).orderBy(*order)
    kept = (
        survivors.withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") <= max_rows)
        .select(id_col)
        .withColumn("__kept", F.lit(True))
    )
    out = df.join(kept, id_col, "left")
    return add_flags(
        out, flag_col, {"over_key_cap": ~F.coalesce(F.col("__kept"), F.lit(False))}
    ).drop("__kept")
