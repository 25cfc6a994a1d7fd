"""Language-ID scorers: the expression scorer and the NB scorer inside the
fused s9 UDF agree on clear inputs; mismatch flags mirror
imputed-vs-reported discordance."""

import pyspark.sql.functions as F

from exome_qc_library_spark.operators.langid import flag_lang_mismatch, langid_expr
from exome_qc_library_spark.operators.perplexity import with_text_scores

SENTENCES = [
    ("en", "the cat is in the house and it was a good day for all of that"),
    ("de", "der hund ist nicht zu haus und die katze auf dem ein dach mit der"),
    ("fr", "le chat est dans la maison et il est un bon jour pour les amis avec"),
    ("es", "el gato es en la casa y es un buen dia por los amigos que no se"),
    ("zh", "wo shi ni hao ma ta zai you hen bu men zhe na ge shang xia lai qu"),
]


def with_langid_expr(df):
    """The registry's expression scorer as the s9 scorer's two columns."""
    s = langid_expr(F.col("text"))
    return df.withColumns({"lang_id": s["lang_id"], "lang_conf": s["lang_conf"]})


def test_expr_scorer_identifies_all(spark):
    # "der the": one German and one English stopword, an exact density tie
    # that the earlier LANGS entry ("de" before "en") wins
    tie = ("tie", "der the")
    df = spark.createDataFrame(SENTENCES + [tie], "lang string, text string")
    got = {r["lang"]: (r["lang_id"], r["lang_conf"]) for r in with_langid_expr(df).collect()}
    assert got.pop("tie") == ("de", 0.5)
    assert {k: v[0] for k, v in got.items()} == {lang: lang for lang, _ in SENTENCES}


def test_langid_expr_grows_linearly_with_languages(spark, monkeypatch):
    """Each language's density appears once in the expression tree: a
    chain that references the running best twice per level doubles the
    tree with every language (5 languages were ~44x one)."""
    from exome_qc_library_spark.functions.lexicons import LANGS
    from exome_qc_library_spark.operators import langid

    def size(k):
        monkeypatch.setattr(langid, "LANGS", LANGS[:k])
        return len(str(langid.langid_expr(F.col("text"))))

    assert size(5) <= 6 * size(1)


def test_udf_scorer_identifies_all(spark):
    df = spark.createDataFrame(SENTENCES, "lang string, text string")
    got = {r["lang"]: r["lang_id"] for r in with_text_scores(df).collect()}
    assert got == {lang: lang for lang, _ in SENTENCES}


def test_null_and_empty_text(spark):
    df = spark.createDataFrame([("a", None), ("b", ""), ("c", "   ")], "id string, text string")
    for impl in (with_langid_expr, with_text_scores):
        for r in impl(df).collect():
            assert r["lang_id"] is None and r["lang_conf"] is None


def test_mismatch_flag(spark):
    df = spark.createDataFrame(
        [("u1", "en", SENTENCES[1][1]), ("u2", "de", SENTENCES[1][1]), ("u3", None, SENTENCES[0][1])],
        "url string, lang string, text string",
    )
    out = flag_lang_mismatch(with_langid_expr(df))
    flags = {r["url"]: r["final_failing_qc"] for r in out.collect()}
    assert flags["u1"] == ["lang_mismatch"]
    assert flags["u2"] == []
    assert flags["u3"] == []  # NULL claimed label → no mismatch


def test_synth_accuracy(spark, pages):
    out = with_langid_expr(pages.filter("text is not null and lang is not null"))
    stats = out.select(
        F.avg((F.col("lang") == F.col("lang_id")).cast("int")).alias("acc")
    ).collect()[0]
    # class-4 wrong-label docs (~5%) + short docs are expected misses
    assert stats["acc"] > 0.85


def test_zero_confidence_prediction_never_flags_mismatch(spark):
    """Round-6 review: with no stopword evidence the argmax returns the
    first lexicon language at conf 0.0; such zero-evidence predictions
    must not fail a doc whose claimed lang differs."""
    df = spark.createDataFrame(
        [("u1", "999 777 xkcd qwrt", "en")], "url string, text string, lang string"
    )
    out = flag_lang_mismatch(with_langid_expr(df))
    row = out.collect()[0]
    assert row["lang_conf"] == 0.0
    assert "lang_mismatch" not in row["final_failing_qc"]
