"""Byte-identity contract of the extraction stage (BASELINE.json input_hint)."""

import re

import pyspark.sql.functions as F

from exome_qc_library_spark.operators.ingest import ingest_pages

# canonical body markers written by the synthesizer / upstream crawler;
# DOTALL so embedded newlines survive byte-for-byte
_BODY_RE = re.compile(rb"<p>(.*)</p>", re.DOTALL)


def extract_text_bytes(html: bytes | None) -> str | None:
    """Byte-level reference extractor: page bytes → extracted text (or None).

    Deterministic and normalization-free: the matched byte span is UTF-8
    decoded exactly once; no re-encoding round trip.
    """
    if html is None:
        return None
    m = _BODY_RE.search(html)
    if m is None:
        return None
    return m.group(1).decode("utf-8", errors="replace")


def test_extract_pure_function():
    assert extract_text_bytes(b"<html><body><p>hi there</p></body></html>") == "hi there"
    assert extract_text_bytes(None) is None
    assert extract_text_bytes(b"<html>no body</html>") is None
    # embedded newlines survive byte-for-byte (DOTALL)
    assert extract_text_bytes(b"<p>a\nb</p>") == "a\nb"


def test_unicode_byte_identity():
    import unicodedata

    nfc = unicodedata.normalize("NFC", "café résumé")
    nfd = unicodedata.normalize("NFD", nfc)
    for s in (nfc, nfd, "emoji 😀🚀 text"):
        html = f"<p>{s}</p>".encode("utf-8")
        out = extract_text_bytes(html)
        assert out == s
        assert out.encode("utf-8") == s.encode("utf-8")


def test_ingest_matches_source_text(spark, pages):
    out = ingest_pages(pages)
    mism = out.filter(
        F.col("text").isNotNull() & (F.col("extracted_text") != F.col("text"))
    ).count()
    assert mism == 0
    assert out.count() == pages.count()
    assert "source_file" in out.columns and "stage_id" in out.columns


def test_ingest_null_html(spark):
    df = spark.createDataFrame(
        [("u1", None, None, None, None)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    row = ingest_pages(df).collect()[0]
    assert row["extracted_text"] is None and row["was_extracted"] is False


def test_ingest_matches_byte_reference(spark):
    # the JVM extractor agrees with the byte-level reference on valid UTF-8
    import unicodedata

    nfc = unicodedata.normalize("NFC", "café résumé")
    texts = (nfc, unicodedata.normalize("NFD", nfc), "emoji 😀🚀 text")
    payloads = [
        b"<html><body><p>hi there</p></body></html>",
        b"<html>no body</html>",
        b"<p></p>",
        b"<p>a\nb</p>",
        b"<p>x</p> tail <p>y</p>",
        None,
    ] + [f"<p>{s}</p>".encode("utf-8") for s in texts]
    df = spark.createDataFrame(
        [(f"u{i}", p) for i, p in enumerate(payloads)], "url string, html binary"
    )
    got = {r["url"]: r["extracted_text"] for r in ingest_pages(df).collect()}
    assert got == {f"u{i}": extract_text_bytes(p) for i, p in enumerate(payloads)}
