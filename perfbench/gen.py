"""Seeded, single-process generator of `pages` shards (numpy + pyarrow).

The benchmark owns its inputs: nothing here calls Spark, so input
generation stays outside every timed region and costs well under a second
per shard. Words come from ``functions.lexicons`` (the same tables the
engine's language-ID and stopword metrics read), so the engine sees the
language mix it was built for.

A :class:`Profile` fixes the properties the engine's cost depends on:
duplicate share (s5 and s4 work), digit and PII share (how many docs pass
the s11 scrub gate and how many carry real hits), document length (s9
and s5 per-doc cost), host skew (s8 and hash-partition balance) and the
language mix (s9 and s10). :func:`measured_shares` reads the realised
shares back from the generated table, so a later property-dependent claim
can cite them.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from exome_qc_library_spark.functions.lexicons import LANGS, LEXICONS, TOPIC_WORDS

EPOCH_S = 1_700_000_000  # fixed base instant: no wall-clock dependence
WORDS_PER_LINE = 12

SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


@dataclass(frozen=True)
class Profile:
    """Shares are fractions of the shard; the remainder is clean text."""

    exact_dup: float = 0.05
    near_dup: float = 0.05
    pii: float = 0.05
    # independent of the class: docs whose words include a date, a price,
    # a count and a percentage (digits without PII)
    digits: float = 0.03
    wrong_label: float = 0.05
    null_label: float = 0.03
    short: float = 0.05
    symbol: float = 0.05
    repeated_lines: float = 0.05
    low_stopword: float = 0.05
    min_words: int = 60
    max_words: int = 250
    n_hosts: int = 100
    host_skew: float = 3.0  # host = floor(u**skew * n_hosts): cubic by default
    langs: dict[str, float] = field(
        default_factory=lambda: {"en": 0.6, "de": 0.1, "fr": 0.1, "es": 0.1, "zh": 0.1}
    )


# the `synth` mix: ~60% clean, a few percent of every failure class
CRAWL = Profile()
# rerun-from-s9 shard: most docs carry numbers, ~20% real PII, so the s11
# scrub gate passes most rows and its regex chain does real work
DIGIT_RICH = Profile(pii=0.20, digits=0.70, exact_dup=0.03, near_dup=0.03)

_CLASSES = (
    "exact_dup",
    "near_dup",
    "pii",
    "short",
    "symbol",
    "repeated_lines",
    "low_stopword",
)


def _draw_words(rng: np.random.Generator, lang: str, n: int, stop_pct: float) -> list[str]:
    lex = LEXICONS[lang]
    is_stop = rng.random(n) < stop_pct
    stop_i = rng.integers(0, len(lex), n)
    topic_i = rng.integers(0, len(TOPIC_WORDS), n)
    return [lex[s] if f else TOPIC_WORDS[t] for f, s, t in zip(is_stop, stop_i, topic_i)]


def _lines(words: list[str]) -> str:
    return "\n".join(
        " ".join(words[i : i + WORDS_PER_LINE]) for i in range(0, len(words), WORDS_PER_LINE)
    )


def _numbers(rng: np.random.Generator) -> list[str]:
    y, m, d = rng.integers(1995, 2026), rng.integers(1, 13), rng.integers(1, 29)
    return [
        f"{y}-{m:02d}-{d:02d}",
        f"${rng.integers(1, 999)}.{rng.integers(0, 100):02d}",
        str(rng.integers(2, 10_000)),
        f"{rng.integers(1, 100)}%",
    ]


def _pii(rng: np.random.Generator, i: int) -> str:
    a, b, c = rng.integers(200, 999), rng.integers(100, 999), rng.integers(1000, 9999)
    card = " ".join(f"{rng.integers(1000, 9999)}" for _ in range(4))
    ip = ".".join(str(rng.integers(1, 255)) for _ in range(4))
    return (
        f"contact user{i}@mail.example.org or call {a}-{b}-{c} "
        f"ssn {rng.integers(100, 999)}-{rng.integers(10, 99)}-{rng.integers(1000, 9999)} "
        f"card {card} ip {ip}"
    )


def _with_numbers(rng: np.random.Generator, words: list[str]) -> list[str]:
    out = list(words)
    for tok in _numbers(rng):
        out.insert(int(rng.integers(0, len(out) + 1)), tok)
    return out


def make_pages(
    n_docs: int, seed: int, profile: Profile = CRAWL, ts_span_s: int = 86_400 * 365
) -> pa.Table:
    """One shard of ``n_docs`` pages; the same (n_docs, seed, profile)
    always gives the same table. ``warc_ts`` rises with the row index over
    ``ts_span_s`` seconds, so slicing the table in order yields
    time-ordered files."""
    rng = np.random.default_rng(seed)
    p = profile
    shares = np.array([getattr(p, c) for c in _CLASSES])
    cls = rng.choice(len(_CLASSES) + 1, size=n_docs, p=[*shares, 1.0 - shares.sum()])
    digits = rng.random(n_docs) < p.digits
    lang_names = list(p.langs)
    lang_of = rng.choice(len(lang_names), size=n_docs, p=list(p.langs.values()))
    n_words = rng.integers(p.min_words, p.max_words + 1, n_docs)
    hosts = np.floor(rng.random(n_docs) ** p.host_skew * p.n_hosts).astype(np.int64)
    ts = EPOCH_S + np.sort(rng.integers(0, ts_span_s, n_docs))

    texts: list[str] = []
    langs: list[str | None] = []
    clean_idx: list[int] = []  # docs a duplicate may copy (already rendered)
    for i in range(n_docs):
        kind = _CLASSES[cls[i]] if cls[i] < len(_CLASSES) else "clean"
        lang = lang_names[lang_of[i]]
        if kind in ("exact_dup", "near_dup") and clean_idx:
            src = clean_idx[int(rng.integers(0, len(clean_idx)))]
            text, lang = texts[src], langs[src]
            if kind == "near_dup":
                ws = text.split(" ")
                ws[int(rng.integers(0, len(ws)))] = "revised"
                text = " ".join(ws) + " updated"
        else:
            if kind == "low_stopword":
                words = _draw_words(rng, lang, int(n_words[i]), 0.02)
            else:
                words = _draw_words(rng, lang, int(n_words[i]), 0.45)
            if digits[i]:
                words = _with_numbers(rng, words)
            if kind == "short":
                text = " ".join(words[: int(rng.integers(3, 11))])
            elif kind == "symbol":
                reps = max(15, len(words) // 6)
                text = _lines(words) + " " + "@#$%^&*() " * reps
            elif kind == "repeated_lines":
                text = "\n".join([" ".join(words[:WORDS_PER_LINE])] * 10)
            elif kind == "pii":
                text = _lines(words) + "\n" + _pii(rng, i)
            else:
                text = _lines(words)
                clean_idx.append(i)
        texts.append(text)
        langs.append(lang)

    # label noise: rotated labels, then NULL labels, drawn independently of
    # the text class
    rotate = rng.random(n_docs) < p.wrong_label
    null = rng.random(n_docs) < p.null_label
    labels: list[str | None] = []
    for i, lang in enumerate(langs):
        if null[i]:
            labels.append(None)
        elif rotate[i]:
            labels.append(LANGS[(LANGS.index(lang) + 1) % len(LANGS)])
        else:
            labels.append(lang)

    urls = [f"https://h{h}.example.com/page/{seed}-{i}" for i, h in enumerate(hosts)]
    html = [
        f"<!DOCTYPE html><html><head><title>Doc {i}</title></head><body><p>{t}</p></body></html>".encode()
        for i, t in enumerate(texts)
    ]
    return pa.table(
        {
            "url": urls,
            "warc_ts": pa.array(ts * 1_000_000, type=pa.timestamp("us")),
            "html": html,
            "text": texts,
            "lang": labels,
        },
        schema=SCHEMA,
    )


def write_shard(table: pa.Table, path: str, row_groups: int) -> str:
    """One parquet file with ``row_groups`` row groups, so a scan splits
    into at least that many tasks."""
    os.makedirs(path, exist_ok=True)
    rg = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, os.path.join(path, "part-00000.parquet"), row_group_size=rg)
    return path


def write_stream_files(
    table: pa.Table, path: str, n_files: int, late_frac: float, seed: int
) -> str:
    """Slice a time-ordered shard into ``n_files`` files (names sort in
    arrival order) and move ``late_frac`` of each later file's rows 1-3
    hours back in event time, so some rows land in windows that earlier
    micro-batches already counted."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed + 1)
    per = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * per, per)
        if k > 0 and part.num_rows:
            ts = part.column("warc_ts").cast(pa.int64()).to_numpy().copy()
            late = rng.random(len(ts)) < late_frac
            ts[late] -= rng.integers(3_600, 3 * 3_600, int(late.sum())) * 1_000_000
            part = part.set_column(
                part.schema.get_field_index("warc_ts"),
                "warc_ts",
                pa.array(ts, type=pa.timestamp("us")),
            )
        pq.write_table(part, os.path.join(path, f"batch-{k:04d}.parquet"))
    return path


# the registry tables the ``QUERIES`` entries read, at the row counts of the
# smallest test scale (sf0.001)
REGISTRY_ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 10,
    "customer": 150,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "documents": 500,
    "embeddings": 500,
    "events": 1000,
}
EMBED_DIM = 64
_DAY_US = 86_400 * 1_000_000
_DATE0_US = 788_918_400 * 1_000_000  # 1995-01-01


def _registry_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = REGISTRY_ROWS
    ts = pa.timestamp("us")

    def pick(options, k):
        return [options[i] for i in rng.integers(0, len(options), k)]

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def dates(k, days):
        return pa.array(_DATE0_US + rng.integers(0, days, k) * _DAY_US, type=ts)

    t = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(n["region"]), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(n["nation"]), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(n["nation"])],
                "n_regionkey": pa.array([i % n["region"] for i in range(n["nation"])], pa.int32()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                "s_nationkey": pa.array(rng.integers(0, n["nation"], n["supplier"]), pa.int32()),
                "s_acctbal": money(-999, 9999, n["supplier"]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(n["customer"]), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                "c_nationkey": pa.array(rng.integers(0, n["nation"], n["customer"]), pa.int32()),
                "c_acctbal": money(-999, 9999, n["customer"]),
                "c_mktsegment": pick(
                    ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n["customer"]
                ),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(range(n["part"]), pa.int64()),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        pick(("blue", "cold", "hot", "large", "new", "old", "small"), n["part"]),
                        pick(("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"), n["part"]),
                    )
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
                "p_type": pick(("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n["part"]),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
                "p_retailprice": np.round(900 + np.arange(n["part"]) * 0.1, 2),
            }
        ),
    }
    # every customer but about a third has orders (the anti-join finds some)
    buyers = rng.choice(n["customer"], size=2 * n["customer"] // 3, replace=False)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.choice(buyers, n["orders"]), pa.int64()),
            "o_orderstatus": pick(("F", "O", "P"), n["orders"]),
            "o_totalprice": money(1000, 500_000, n["orders"]),
            "o_orderdate": dates(n["orders"], 2400),
            "o_orderpriority": pick(
                ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n["orders"]
            ),
        }
    )
    k = n["lineitem"]
    qty = rng.integers(1, 51, k).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, k), 2),
            "l_discount": np.round(rng.integers(0, 11, k) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, k) / 100, 2),
            "l_returnflag": pick(("A", "N", "R"), k),
            "l_linestatus": pick(("F", "O"), k),
            "l_shipdate": dates(k, 2500),
        }
    )
    # documents: single-line texts of 15-80 words, 20 sources, ~5% exact
    # and ~5% near copies so the dedup and pair queries find pairs
    k = n["documents"]
    langs = pick(LANGS, k)
    texts: list[str] = []
    for i in range(k):
        r = rng.random()
        if i > 10 and r < 0.05:
            text = texts[int(rng.integers(0, i))]
        elif i > 10 and r < 0.10:
            ws = texts[int(rng.integers(0, i))].split(" ")
            ws[int(rng.integers(0, len(ws)))] = "revised"
            text = " ".join(ws)
        else:
            text = " ".join(_draw_words(rng, langs[i], int(rng.integers(15, 81)), 0.35))
        texts.append(text)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(k), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(scale=0.8, size=(k, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(k), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    k = n["events"]
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(k), pa.int64()),
            "ts": pa.array(
                1_704_067_200 * 1_000_000 + np.sort(rng.integers(0, 30 * _DAY_US, k)), type=ts
            ),
            "user_id": pa.array(rng.integers(0, 15, k), pa.int64()),
            "event_type": pick(("click", "error", "purchase", "signup", "view"), k),
            "value": money(0, 330, k),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        }
    )
    return t


def write_registry(path: str, seed: int) -> str:
    """The registry tables, one parquet file each with a single row group
    (the layout the test-data generator writes), under ``path``."""
    os.makedirs(path, exist_ok=True)
    for name, table in _registry_tables(np.random.default_rng(seed)).items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"), row_group_size=table.num_rows)
    return path


def measured_shares(table: pa.Table) -> dict[str, float]:
    """Realised input properties: share of docs with a digit, share of docs
    whose text is an exact copy of another doc's, and the largest host's
    share of docs."""
    texts = table.column("text").to_pylist()
    n = table.num_rows
    hosts = Counter(u.split("/", 3)[2] for u in table.column("url").to_pylist())
    return {
        "digit_share": sum(any(c.isdigit() for c in t) for t in texts) / n,
        "exact_dup_share": (len(texts) - len(set(texts))) / n,
        "top_host_share": max(hosts.values()) / n,
    }
