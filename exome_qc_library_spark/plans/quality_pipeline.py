"""The flagship web-text QC pipeline — the 11-step exome_qc.py analog.

Stage map (SURVEY.md §7.1; execution order below — near-dup runs right
after the ingest snapshot so its sketch job scans the checkpoint
column-pruned, and cheap expression stages fuse lazily into the next
materialization):

  S0 ingest        html → extracted text (byte-identical), lineage cols  [ckpt]
  S1 enrich        host-metadata broadcast join + spam flags   [optional, lazy]
  S2 blocklist     url/host anti-list + substring flags        [optional, lazy]
  S5 near_dedup    MinHash-LSH → clusters → near_duplicate flags        [ckpt]
  S3 hard_filters  Gopher/C4 heuristics → low_pass_failing_qc            [lazy]
  S4 exact_dedup   sha2 content groups → exact_duplicate flags           [lazy]
  S9 scoring       fused langid+perplexity UDF → mismatch/ppl flags
                   + strict thresholds → final_failing_qc               [ckpt]
  S6 iter_outliers iterative global mean±kσ trim on the metric columns   [lazy]
  S10 segment_qc   per-language-segment stopword-density outliers        [lazy]
  S8 host_qc       per-host batch-stratified outlier flags               [lazy]
  S11 verdict      keep = all flag arrays empty; scrub keepers          [ckpt]

The map is the reference's, step for step. S1 and S2 run when a
deployment supplies their data inputs (host metadata; a blocklist or URL
substrings); every other stage runs on every invocation.

S6/S10 complete the reference's 11-step map (round-2 VERDICT #1): the
iterative PCA-outlier stage (``shared/samples_qc.py:131-257``, run on
every invocation at ``exome_qc/exome_qc.py:293-333`` step 6) and the
phenotype-stratified QC (``shared/variant_qc.py:902-981``, step 10).
Both read the s9 checkpoint column-pruned: S6's loop aggregates a
measures-only projection (never the text), S10 is one tiny groupBy over
the language segment broadcast back.

Every stage preserves row count and the url key set (README.md:51-53
invariant); every stage writes a resumable checkpoint with manifest
(the reference's checkpoint-per-step, ``exome_qc/exome_qc.py:113,...``).
The pipeline itself never down-samples: training-mix quotas and token
budgets are the ``operators.sampling`` operators (registry queries
``stratified_sample`` and ``token_budget_sample``), run on the final
table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.blocklist import flag_blocklisted, flag_substring_matches
from ..operators.dedup import NEAR_DUP_THRESHOLD, flag_exact_duplicates, flag_near_duplicates
from ..operators.hard_filters import FINAL, LOW_PASS, apply_hard_filters, thresholds_metadata
from ..operators.ingest import ingest_pages
from ..operators.langid import flag_lang_mismatch
from ..operators.outliers import (
    OUTLIER_K_SIGMA,
    OUTLIER_MAX_ITER,
    OUTLIER_MEASURES,
    flag_iterative_outliers,
)
from ..operators.perplexity import flag_high_perplexity, with_text_scores
from ..operators.host_qc import flag_host_outliers
from ..operators.segment_qc import MIN_SEGMENT_N, SEGMENT_K_SIGMA, flag_segment_outliers
from ..operators.scrub import apply_scrub, with_pii_hits
from ..operators.verdict import with_verdict
from ..sources.checkpoint import CheckpointStore
from .pipeline import Pipeline, Stage

DEFAULT_MAX_PERPLEXITY = 5000.0


def quality_stages(
    blocklist: DataFrame | None = None,
    host_metadata: DataFrame | None = None,
    url_substrings: Sequence[str] = (),
    max_perplexity: float = DEFAULT_MAX_PERPLEXITY,
) -> list[Stage]:
    """The stage list that :func:`build_quality_pipeline` runs. Stage order
    puts the near-dup stage right after the ingest snapshot so its sketch
    job reads the checkpoint directly (column-pruned to url/text) instead
    of re-running upstream flag stages; the cheap expression stages are
    lazy (``materialize=False``) and fuse into the next checkpoint — 4
    materializations instead of 8. Checkpoints read back at core width
    (:meth:`CheckpointStore.read`); no stage spreads its own input.

    The per-row stages s0, s3, s9 and s11 are ``stateless``, so streaming
    runs them too (:func:`~..streaming.stream.streaming_quality_flags`);
    S1 and S2 are not marked (streaming runs without them).
    """

    stages: list[Stage] = [
        Stage(
            "s0_ingest",
            # html is the dominant payload; downstream stages never read it
            # and it stays recoverable from the source snapshot (lineage
            # columns) — the reference's drop-heavy-fields pattern (P6,
            # exome_qc.py:587)
            lambda df: ingest_pages(df).drop("html"),
            {"extractor": "body_p_v1", "keep_html": False},
            stateless=True,
        ),
    ]
    if host_metadata is not None:
        from ..operators.enrich import (
            MAX_SPAM_SCORE,
            enrich_with_host_metadata,
            flag_spam_hosts,
        )

        stages.append(
            Stage(
                "s1_enrich",
                lambda df: flag_spam_hosts(enrich_with_host_metadata(df, host_metadata)),
                {"max_spam_score": MAX_SPAM_SCORE},
                materialize=False,
            )
        )
    if blocklist is not None or url_substrings:

        def _blk(df: DataFrame) -> DataFrame:
            if blocklist is not None:
                df = flag_blocklisted(df, blocklist)
            if url_substrings:
                df = flag_substring_matches(df, url_substrings)
            return df

        stages.append(
            Stage("s2_blocklist", _blk, {"substrings": list(url_substrings)}, materialize=False)
        )
    stages += [
        Stage(
            "s5_near_dedup",
            flag_near_duplicates,
            {"threshold": NEAR_DUP_THRESHOLD, "algo": "minhash"},
            account_flags="final_failing_qc",
        ),
        Stage(
            "s3_hard_filters",
            apply_hard_filters,
            thresholds_metadata(LOW_PASS),
            materialize=False,
            stateless=True,
        ),
        Stage(
            "s4_exact_dedup",
            flag_exact_duplicates,
            {},
            materialize=False,
        ),
    ]
    stages += [
        Stage(
            "s9_scoring",
            lambda df: flag_high_perplexity(
                apply_hard_filters(
                    flag_lang_mismatch(with_text_scores(df)),
                    "final_failing_qc",
                    FINAL,
                    compute_metrics=False,
                ),
                max_perplexity,
            ),
            dict(
                thresholds_metadata(FINAL),
                max_perplexity=max_perplexity,
                scorer="nb_trigram_v1",
            ),
            account_flags="final_failing_qc",
            stateless=True,
        ),
        Stage(
            "s6_iterative_outliers",
            flag_iterative_outliers,
            {
                "measures": list(OUTLIER_MEASURES),
                "k_sigma": OUTLIER_K_SIGMA,
                "max_iter": OUTLIER_MAX_ITER,
            },
            materialize=False,
        ),
        Stage(
            "s10_segment_qc",
            flag_segment_outliers,
            {
                "segment_col": "lang_id",
                "measure": "stopword_density",
                "k_sigma": SEGMENT_K_SIGMA,
                "min_segment_n": MIN_SEGMENT_N,
            },
            materialize=False,
        ),
        Stage(
            "s8_host_qc",
            # batch-stratified when host metadata supplied the crawl_batch
            # column at s1 — the reference's per-batch sample-QC strata
            # (shared/samples_qc.py:432-486); global stats otherwise
            lambda df: flag_host_outliers(
                df, batch_col="crawl_batch" if host_metadata is not None else None
            ),
            {
                "k_sigma": 4.0,
                "batch_col": "crawl_batch" if host_metadata is not None else None,
            },
            materialize=False,
        ),
        Stage(
            "s11_verdict",
            lambda df: apply_scrub(with_pii_hits(with_verdict(df))),
            {},
            # final accounting covers BOTH flag arrays so the S6/S10/S8
            # final_failing_qc tags show up in the terminal report
            account_flags=("low_pass_failing_qc", "final_failing_qc"),
            stateless=True,
        ),
    ]
    return stages


def build_quality_pipeline(store: CheckpointStore, **kw) -> Pipeline:
    """``kw`` are :func:`quality_stages`' options."""
    return Pipeline(quality_stages(**kw), store)


def summarize_verdicts(df: DataFrame) -> DataFrame:
    """Flagship report: per-source keep rate + top fail reasons
    (SURVEY.md §7.2's 'one real query')."""
    return (
        df.select(
            "source_file",
            F.col("keep"),
            F.explode_outer(
                F.concat(F.col("low_pass_failing_qc"), F.col("final_failing_qc"))
            ).alias("flag"),
        )
        .groupBy("source_file", "flag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"))
        .orderBy(F.desc("n"), "flag")
    )
