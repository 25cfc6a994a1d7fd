"""De-novo content caller — trio-based probabilistic flag from joined priors.

Closes SURVEY §2 K8. The reference calls ``hl.de_novo`` over trios with
``pop_frequency_prior = max(gnomad_af, site_freq_gnomad_n)``
(``/root/reference/find_denovo_variants.py:213-239``): a variant seen in
the child but in neither parent is a de-novo candidate, scored by a
posterior that shrinks as the population prior (how common the allele is
anyway) grows, and bucketed into HIGH/MEDIUM/LOW confidence tiers. The
prior itself is assembled upstream (``find_denovo_variants.py:177-215``)
from (a) in-sample site frequency with the external panel's allele count
folded into the denominator, ``(n_alt-1)/(total+gnomad_AN)``, and (b) a
left-joined external panel frequency with missing→0
(``hl.or_else(mt.gnomad_af, 0)``, line 208).

Web-text analog — "original content" calling:

* variant            → content fingerprint (hash of the text)
* trio               → per-family (host/source) snapshot windows: two
                       parent windows + one child window; a family with
                       an EMPTY parent window is an incomplete trio and
                       produces no calls (hl.de_novo requires both
                       parental genotypes defined)
* de-novo candidate  → fingerprint carried by a child-window doc and by
                       NO doc in either parent window of the same family
* prior              → greatest(panel_af, site_freq_n) where
                       site_freq_n = max(n_copies-1, 0)/(total+ext_n)
                       and panel_af is left-joined, missing→0
* posterior          → p = (1-prior)/(1 + parent_exposure·prior): a
                       common fingerprint (high prior) or a family with
                       many parent docs that still never carried it is
                       more likely an ingest artifact than original
                       content — mirrors the caller's prior-weighted
                       shrinkage
* confidence         → HIGH if p>0.99 and site_freq_n<1e-3, MEDIUM if
                       p>0.5, else LOW (hl.de_novo's posterior cutoffs)

Scale shape (100 TB): one shuffle keyed by the uniform composite
(family, fingerprint) computes child/parent presence with map-side
combine; global fingerprint counts are a second uniform-key aggregate;
per-family parent exposure is a #families-row table whose join is
never hinted (families = hosts = 10^8+ at web scale — AQE decides, as
for the decontamination hit set); the single-row corpus total rides a
broadcast cross-join (same pattern as ``host_qc.py``); the panel join
is likewise AQE-decided. Candidates are rare, so the final join back onto child
docs moves only hits — no payload (text) ever rides a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: gnomad-AN analog: external panel allele count folded into the
#: site-frequency denominator (find_denovo_variants.py:184).
DEFAULT_EXT_N = 10_000

#: hl.de_novo posterior/frequency cutoffs, reused as-is.
_P_HIGH, _FREQ_HIGH, _P_MED = 0.99, 1e-3, 0.5


def call_denovo_content(docs: DataFrame, panel_af: DataFrame) -> DataFrame:
    """Call de-novo (original) content per child doc.

    ``docs`` needs (doc_id, family, snapshot∈{0,1,2}, fingerprint), the
    child window being snapshot 2 — fingerprint rows with NULLs are
    ignored. ``panel_af`` is the external reference-population table
    ``(fingerprint, panel_af)``;
    fingerprints absent from it get panel_af = 0 (the reference's
    ``or_else(gnomad_af, 0)``). Returns one row per child-window doc
    whose fingerprint is a de-novo candidate, with
    (doc_id, family, fingerprint, n_copies, site_freq_n, prior, p_denovo,
    confidence).

    The per-family exposure table is never hinted for broadcast:
    families map to hosts, and a web-scale corpus has 10^8+ of them — the
    same unbounded-broadcast trap as the decontamination hit set
    (``decontaminate.py``), so AQE decides.
    """
    present = docs.filter(
        F.col("family").isNotNull() & F.col("snapshot").isNotNull()
    )
    # NULL fingerprints can't carry calls, but the docs still exist for
    # trio completeness / exposure (a parent with unusable text is still
    # a parent — the reference requires the parent GENOTYPE defined at
    # the site, which maps to fingerprint presence, handled in fam_fp).
    d = present.filter(F.col("fingerprint").isNotNull())
    is_child = F.col("snapshot") == F.lit(2)

    # Per-(family, fingerprint) presence — ONE uniform-key shuffle.
    fam_fp = d.groupBy("family", "fingerprint").agg(
        F.sum(F.when(is_child, 1).otherwise(0)).alias("child_count"),
        F.sum(F.when(~is_child, 1).otherwise(0)).alias("parent_count"),
    )

    # Global fingerprint copy-count (site frequency numerator).
    fp_counts = d.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("n_copies"))

    # Corpus total: single-row broadcast cross-join (host_qc.py pattern).
    totals = d.agg(F.count(F.lit(1)).alias("total_docs"))

    # Trio completeness + parent exposure per family (tiny table).
    fam_stats = present.groupBy("family").agg(
        F.sum(F.when(F.col("snapshot") == 0, 1).otherwise(0)).alias("n_parent_a"),
        F.sum(F.when(F.col("snapshot") == 1, 1).otherwise(0)).alias("n_parent_b"),
    )

    candidates = (
        fam_fp.filter((F.col("child_count") > 0) & (F.col("parent_count") == 0))
        .join(fam_stats, "family")
        .filter((F.col("n_parent_a") > 0) & (F.col("n_parent_b") > 0))
        .join(fp_counts, "fingerprint")
        .crossJoin(F.broadcast(totals))
        .join(panel_af, "fingerprint", "left")
        .withColumn("panel_af", F.coalesce(F.col("panel_af"), F.lit(0.0)))
    )

    site_freq_n = F.greatest(F.col("n_copies") - 1, F.lit(0)) / (
        F.col("total_docs") + F.lit(DEFAULT_EXT_N)
    )
    prior = F.greatest(F.col("panel_af"), F.col("site_freq_n"))
    exposure = F.col("n_parent_a") + F.col("n_parent_b")
    p_denovo = (F.lit(1.0) - F.col("prior")) / (
        F.lit(1.0) + exposure * F.col("prior")
    )
    confidence = (
        F.when(
            (F.col("p_denovo") > _P_HIGH) & (F.col("site_freq_n") < _FREQ_HIGH),
            "HIGH",
        )
        .when(F.col("p_denovo") > _P_MED, "MEDIUM")
        .otherwise("LOW")
    )
    scored = (
        candidates.withColumn("site_freq_n", F.round(site_freq_n, 9))
        .withColumn("prior", F.round(prior, 9))
        .withColumn("p_denovo", F.round(p_denovo, 9))
        .withColumn("confidence", confidence)
    )

    # One row per CHILD doc carrying the candidate fingerprint — joining
    # the rare candidate set back onto the child docs moves only hits.
    children = d.filter(is_child).select(
        F.col("doc_id"), F.col("family"), F.col("fingerprint")
    )
    return children.join(
        scored.select(
            "family",
            "fingerprint",
            "n_copies",
            "site_freq_n",
            "prior",
            "p_denovo",
            "confidence",
        ),
        ["family", "fingerprint"],
    )
