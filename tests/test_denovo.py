"""De-novo content caller (K8 analog): trio semantics, prior math, tiers.

Mirrors the reference's caller contract (`find_denovo_variants.py:177-239`):
child-only presence, both parents required, prior = max(panel, site freq),
posterior shrinkage with exposure, HIGH/MEDIUM/LOW tiers.
"""

import pytest

from exome_qc_library_spark.operators.denovo import call_denovo_content


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, family string, snapshot int, fingerprint string"
    )


def _panel(spark, rows):
    return spark.createDataFrame(rows, "fingerprint string, panel_af double")


def test_child_only_fingerprint_called(spark):
    docs = _docs(
        spark,
        [
            (1, "h1", 0, "old"),  # parent window A
            (2, "h1", 1, "old"),  # parent window B
            (3, "h1", 2, "new"),  # child window: fingerprint absent above
            (4, "h1", 2, "old"),  # child carrying a parent fingerprint: NOT de novo
        ],
    )
    out = call_denovo_content(docs, _panel(spark, [])).collect()
    assert [(r.doc_id, r.fingerprint) for r in out] == [(3, "new")]
    row = out[0]
    # n_copies=1 → site_freq_n=0; panel missing → 0; prior=0 → p=1.0 → HIGH
    assert row.site_freq_n == 0.0 and row.prior == 0.0
    assert row.p_denovo == 1.0 and row.confidence == "HIGH"


def test_incomplete_trio_produces_no_calls(spark):
    # family h2 has no snapshot-1 (parent B) docs → trio incomplete.
    docs = _docs(spark, [(1, "h2", 0, "old"), (2, "h2", 2, "new")])
    assert call_denovo_content(docs, _panel(spark, [])).count() == 0


def test_presence_in_one_parent_blocks_call(spark):
    docs = _docs(
        spark,
        [
            (1, "h1", 0, "fp"),
            (2, "h1", 1, "other"),
            (3, "h1", 2, "fp"),  # seen in parent A → inherited, not de novo
        ],
    )
    assert call_denovo_content(docs, _panel(spark, [])).count() == 0


def test_prior_is_max_of_panel_and_site_freq(spark):
    # "new" appears in two families' child windows → n_copies=2 →
    # site_freq_n = 1/(6+ext_n); panel gives it a larger af → panel wins.
    docs = _docs(
        spark,
        [
            (1, "h1", 0, "a"),
            (2, "h1", 1, "b"),
            (3, "h1", 2, "new"),
            (4, "h2", 0, "c"),
            (5, "h2", 1, "d"),
            (6, "h2", 2, "new"),
        ],
    )
    out = call_denovo_content(docs, _panel(spark, [("new", 0.25)])).collect()
    assert len(out) == 2
    for r in out:
        assert r.n_copies == 2
        assert r.site_freq_n == pytest.approx(1 / 10_006, abs=1e-9)
        assert r.prior == 0.25  # panel_af > site_freq_n
        # exposure = 2 parents → p = 0.75 / (1 + 2*0.25) = 0.5 → LOW (not >0.5)
        assert r.p_denovo == pytest.approx(0.5, abs=1e-9)
        assert r.confidence == "LOW"


def test_medium_tier_and_exposure_shrinkage(spark):
    # prior small but nonzero, single-parent-pair exposure → MEDIUM band.
    docs = _docs(
        spark,
        [(1, "h1", 0, "a"), (2, "h1", 1, "b"), (3, "h1", 2, "new")],
    )
    out = call_denovo_content(docs, _panel(spark, [("new", 0.1)])).collect()
    (row,) = out
    # p = 0.9/(1+2*0.1) = 0.75 → MEDIUM; HIGH blocked by p<=0.99
    assert row.p_denovo == pytest.approx(0.75, abs=1e-9)
    assert row.confidence == "MEDIUM"


def test_null_fingerprints_ignored(spark):
    docs = spark.createDataFrame(
        [(1, "h1", 0, None), (2, "h1", 1, "x"), (3, "h1", 2, "y")],
        "doc_id bigint, family string, snapshot int, fingerprint string",
    )
    out = call_denovo_content(docs, _panel(spark, [])).collect()
    assert [(r.doc_id, r.fingerprint) for r in out] == [(3, "y")]


def test_plan_has_no_cartesian_and_broadcasts_family_stats(spark):
    docs = _docs(
        spark,
        [(1, "h1", 0, "a"), (2, "h1", 1, "b"), (3, "h1", 2, "new")],
    )
    out = call_denovo_content(docs, _panel(spark, [("a", 0.5)]))
    out.collect()  # AQE-final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
