"""S0 ingest — HTML → canonical extracted text, byte-identical per url.

Analog of ``hl.split_multi_hts`` + import normalization (K1 in SURVEY.md
§2.9; ``/root/reference/vcf_import/import_vcf_vep_annotate.py:138``):
one raw page in → one canonical text record out, with a ``was_extracted``
marker (mirrors ``was_split``), never dropping rows.

Extraction contract (BASELINE.json input_hint): the extracted text must
be **byte-identical per url** across runs, parallelism levels, and
partition boundaries. The extractor is a decode plus an anchored regexp
over the body paragraph, in pure JVM expressions — binary in, string
out — with NO locale- or normalization-dependent calls (no trimming, no
NFC normalization), so bytes survive untouched. ``tests/test_ingest.py``
holds a byte-level Python reference extractor and pins the two equal
on valid UTF-8.

Lineage columns (``source_file``, ``stage_id``) mirror
``annotate_cols(input_file=vcf)`` (``shared/utils.py:191``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ingest_pages(df: DataFrame) -> DataFrame:
    """Extract text from ``html`` where present; keep upstream ``text`` as
    the reference label column (used by the byte-identity invariant test).

    Output adds: ``extracted_text``, ``was_extracted``, ``source_file``
    (``"pages"``), ``stage_id`` (``"S0"``). Row count and url set are
    preserved (annotate-don't-drop, README.md:51-53).

    Zero Python/Arrow traffic: at 10^12 docs the extraction is part of
    the scan's codegen stage. A ``mapInPandas`` extractor measured ~5×
    slower at 50k docs, because it must round-trip EVERY column through
    Arrow.
    """
    # cast(binary AS string), NOT decode(..., 'UTF-8'): under Spark 4's
    # default ANSI mode decode THROWS on any malformed byte, aborting
    # the whole ingest stage for one bad crawl record (round-6 review,
    # reproduced). The cast decodes identically on valid UTF-8 and
    # substitutes U+FFFD on invalid sequences.
    decoded = F.col("html").cast("string")
    # rlike guard: regexp_extract returns '' on no-match, but a page
    # without a body must be NULL (an empty <p></p> is a real "" text)
    out = df.withColumn(
        "extracted_text",
        F.when(decoded.rlike("(?s)<p>.*</p>"), F.regexp_extract(decoded, r"(?s)<p>(.*)</p>", 1)),
    )
    return out.withColumns(
        {
            "was_extracted": F.col("extracted_text").isNotNull(),
            "source_file": F.lit("pages"),
            "stage_id": F.lit("S0"),
        }
    )
