"""Deterministic synthesis of the `pages` input table (no external data).

Builds the authoritative input shape (BASELINE.json input_hint):
``url:string, warc_ts:timestamp, html:binary, text:string, lang:string``
with the edge-case taxonomy of FIXTURES.md §1: skewed heavy-host tail,
too-short docs, high symbol ratio, repeated lines, low stopword density,
wrong/NULL lang labels, PII strings, exact + near duplicate clusters,
unicode NFC/NFD pairs, >64 KB docs.

Scale path: the bulk of the table is generated **distributed** with pure
expressions keyed on ``xxhash64(seed, id)`` — `spark.range(n)` scales to
any n with zero driver memory, and the content of row *i* is a pure
function of (seed, i), so the table is identical at any parallelism
(FIXTURES.md §7.5 determinism gate). A small driver-side block of
hand-written edge cases is unioned on top.

Analog of the reference's `--test` subset synthesis
(``/root/reference/shared/utils.py:409-426``, S12) — deterministic small
inputs standing in for the production corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.lexicons import LANGS, LEXICONS, TOPIC_WORDS

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

PII_SENTENCE = (
    "contact john.doe@example.com or call 555-123-4567 ssn 123-45-6789 "
    "visa 4111 1111 1111 1111 ip 192.168.1.100"
)

_EPOCH = 1700000000  # fixed base instant — no wall-clock dependence


def _h(tag: str, key: Column, seed: int) -> Column:
    """Deterministic 64-bit stream: xxhash64(seed:tag:key)."""
    return F.xxhash64(F.concat(F.lit(f"{seed}:{tag}:"), key.cast("string")))


def _u(tag: str, key: Column, seed: int, m: int) -> Column:
    """Uniform integer in [0, m)."""
    return F.pmod(_h(tag, key, seed), F.lit(m))


def _lang_of(key: Column, seed: int) -> Column:
    """60% en, 10% each of de/fr/es/zh."""
    r = _u("lang", key, seed, 10)
    return (
        F.when(r <= 5, F.lit("en"))
        .when(r == 6, F.lit("de"))
        .when(r == 7, F.lit("fr"))
        .when(r == 8, F.lit("es"))
        .otherwise(F.lit("zh"))
    )


def _lexicon_map() -> Column:
    pairs: list[Column] = []
    for lang in LANGS:
        pairs.append(F.lit(lang))
        pairs.append(F.array(*[F.lit(w) for w in LEXICONS[lang]]))
    return F.create_map(*pairs)


def _base_words(key: Column, lang: Column, n_words: Column, seed: int, stop_pct: int = 45) -> Column:
    """Word array: position i draws a language stopword with prob stop_pct%,
    else a topic word — all derived from xxhash64, fully deterministic."""
    lex = _lexicon_map()[lang]
    topics = F.array(*[F.lit(w) for w in TOPIC_WORDS])
    k = key.cast("string")

    def word_at(i: Column) -> Column:
        pos = F.concat(k, F.lit(":"), i.cast("string"))
        r = F.pmod(F.xxhash64(F.concat(F.lit(f"{seed}:w:"), pos)), F.lit(100))
        stop_i = (F.pmod(F.xxhash64(F.concat(F.lit(f"{seed}:ws:"), pos)), F.size(lex)) + 1).cast(
            "int"
        )
        topic_i = (
            F.pmod(F.xxhash64(F.concat(F.lit(f"{seed}:wt:"), pos)), F.size(topics)) + 1
        ).cast("int")
        return F.when(r < stop_pct, F.element_at(lex, stop_i)).otherwise(
            F.element_at(topics, topic_i)
        )

    return F.transform(F.sequence(F.lit(1), n_words), word_at)


def _to_lines(words: Column) -> Column:
    """``words`` as lines of 12 words."""
    n_lines = F.ceil(F.size(words) / 12).cast("int")
    return F.concat_ws(
        "\n",
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.concat_ws(" ", F.slice(words, i * 12 + 1, 12)),
        ),
    )


def synthesize_pages(
    spark: SparkSession,
    n_docs: int = 10_000,
    seed: int = 42,
    with_edge_cases: bool = True,
) -> DataFrame:
    """The pages table: ~60% clean docs over 100 hosts + labeled failure
    classes, in as many partitions as the default parallelism.

    Failure classes by ``pmod(hash, 20)``:
    0 too-short · 1 high-symbol · 2 repeated-lines · 3 low-stopword ·
    4 wrong-lang-label · 5 PII-laced · 6 exact-duplicate · 7 near-duplicate ·
    8-19 clean.
    """
    df = spark.range(0, n_docs, 1, spark.sparkContext.defaultParallelism)
    doc_id = F.col("id")
    # window ANCHORS (id % 7 == 0) are forced clean (round-6 review): a
    # dup-classed doc copies base_text(anchor), and an anchor whose own
    # class rewrites its text (short/symbol/...) rendered ~1/3 of labeled
    # "exact duplicates" partnerless — label noise for any dedup-recall
    # evaluation. With clean anchors every class-6 doc has a byte-exact
    # partner and every class-7 doc a true near partner.
    cls = F.when(F.pmod(doc_id, F.lit(7)) == 0, F.lit(8)).otherwise(
        _u("class", doc_id, seed, 20)
    )

    # duplicate classes copy the content of a cluster anchor (id rounded down
    # to a multiple of 7), which the rule above guarantees renders base_text
    anchor = doc_id - F.pmod(doc_id, F.lit(7))
    ckey = F.when(cls.isin(6, 7), anchor).otherwise(doc_id)

    lang = _lang_of(ckey, seed)
    n_words = (F.lit(60) + _u("len", ckey, seed, 190)).cast("int")
    base = _base_words(ckey, lang, n_words, seed)
    base_text = _to_lines(base)

    short_text = F.concat_ws(" ", F.slice(base, 1, 3 + _u("shortlen", doc_id, seed, 8).cast("int")))
    # symbol block scales with the doc (round-6 review): a fixed 150-char
    # block diluted below the 0.12 low-pass threshold on long docs, so
    # ~20% of the labeled high-symbol class never tripped its own filter
    symbol_reps = F.greatest(F.lit(15), F.ceil(F.size(base) / 6)).cast("int")
    symbol_text = F.concat(
        base_text, F.lit(" "), F.repeat(F.lit("@#$%^&*() "), symbol_reps)
    )
    repline_text = F.concat_ws(
        "\n", F.array_repeat(F.concat_ws(" ", F.slice(base, 1, 12)), 10)
    )
    lowstop_text = _to_lines(_base_words(doc_id, lang, n_words, seed + 1, stop_pct=2))
    pii_text = F.concat(base_text, F.lit("\n"), F.lit(PII_SENTENCE))
    neardup_text = F.concat(base_text, F.lit(" edit"), doc_id.cast("string"))

    text = (
        F.when(cls == 0, short_text)
        .when(cls == 1, symbol_text)
        .when(cls == 2, repline_text)
        .when(cls == 3, lowstop_text)
        .when(cls == 5, pii_text)
        .when(cls == 7, neardup_text)
        .otherwise(base_text)  # 4 (wrong label), 6 (exact dup), clean
    )

    # label: usually the body language; class 4 rotates it; 3% NULL
    lang_idx = F.array_position(F.array(*[F.lit(x) for x in LANGS]), lang)
    rotated = F.element_at(
        F.array(*[F.lit(x) for x in LANGS]), (F.pmod(lang_idx, F.lit(len(LANGS))) + 1).cast("int")
    )
    label = F.when(cls == 4, rotated).otherwise(lang)
    label = F.when(_u("langnull", doc_id, seed, 100) < 3, F.lit(None).cast("string")).otherwise(
        label
    )

    # skewed host distribution: cube of a uniform → host 0 is domain-heavy
    r = _u("host", doc_id, seed, 1000).cast("double") / 1000.0
    host_id = F.floor(F.pow(r, F.lit(3.0)) * 100).cast("int")
    url = F.concat(
        F.lit("https://h"), host_id.cast("string"), F.lit(".example.com/page/"), doc_id.cast("string")
    )
    warc_ts = F.timestamp_seconds(F.lit(_EPOCH) + _u("ts", doc_id, seed, 86400 * 365))

    html = F.encode(
        F.concat(
            F.lit("<!DOCTYPE html><html><head><title>Doc "),
            doc_id.cast("string"),
            F.lit("</title></head><body><p>"),
            text,
            F.lit("</p></body></html>"),
        ),
        "UTF-8",
    )

    out = df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        label.alias("lang"),
    )
    if with_edge_cases:
        out = out.unionByName(edge_case_pages(spark, start_id=n_docs))
    return out


def edge_case_pages(spark: SparkSession, start_id: int = 10_000_000) -> DataFrame:
    """Hand-written pathological rows (FIXTURES.md §1): NULL/empty/whitespace
    text, NFC/NFD unicode pair, emoji, >64 KB doc, boilerplate, PII variants."""

    def page(i: int, text: str | None, lang: str | None = "en", host: str = "edge") -> tuple:
        url = f"https://{host}.example.com/page/{start_id + i}"
        html = (
            None
            if text is None
            else (
                "<!DOCTYPE html><html><head><title>Edge %d</title></head><body><p>%s</p></body></html>"
                % (start_id + i, text)
            ).encode("utf-8")
        )
        import datetime

        ts = datetime.datetime.fromtimestamp(_EPOCH + i, tz=datetime.timezone.utc).replace(
            tzinfo=None
        )
        return (url, ts, html, text, lang)

    nfc = "café résumé the and of to a in is was for with on that"
    nfd = "café résumé the and of to a in is was for with on that"
    long_text = " ".join(
        ("the quick brown fox jumps over the lazy dog and it was a fine day for all of us " * 120).split()
    )
    long_text = (long_text + " ") * 60  # > 64 KB
    boiler = "\n".join(["Copyright 2026 Example Corp. All rights reserved."] * 8)
    rows = [
        page(0, None, lang=None),
        page(1, ""),
        page(2, "   \n\t  "),
        page(3, nfc),
        page(4, nfd),
        page(5, "the cat sat on the mat with a hat and that is that 😀 🚀 emoji line here to pad words out a bit more for the filters"),
        page(6, long_text.strip()),
        page(7, boiler),
        page(8, "reach me at alice@mail.example.org or +1 (800) 555-0199; my ssn is 987-65-4321 and card 4012-8888-8888-1881 " + "the and of to a in is was for with " * 8),
        page(9, "the and of to a in is was for with on that this it as are be at by from " * 6, lang="en"),
        page(10, "der die das und ist nicht ich zu mit ein auf den sie " * 8, lang="en"),  # wrong label
    ]
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)

