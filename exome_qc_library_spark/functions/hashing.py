"""Shingling, MinHash, SimHash, rolling-hash fingerprints — all JVM expressions.

These are the web-text analogs of the reference's pairwise-similarity
kernels: ``hl.king`` all-pairs kinship (``/root/reference/shared/
samples_qc.py:778``, K4) and ``hl.ld_prune`` windowed redundancy pruning
(``shared/variant_qc.py:100``, K5). Instead of a BlockMatrix we use
hash-sketch columns computed row-locally (zero shuffle), then a single
groupBy on band keys to surface candidate near-duplicate pairs — the
LSH strategy that scales to 10^12 docs because the only shuffle key is
the (band, bandhash) pair, never the O(n²) pair space.

Hash primitive: ``F.xxhash64`` (seeded per permutation via string
prefixing) — stable across Spark versions, partitions, and parallelism
levels, so sketches are deterministic (FIXTURES.md §7.5).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .textmetrics import words_expr


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the lower-cased document
    (array<string>); case folds like the cross-doc-line normalization.

    Documents shorter than ``n`` words yield a single shingle of the whole
    text so short docs still participate in dedup.

    IMPLEMENTATION NOTE (scale-critical): built as a chain of shifted
    ``zip_with``s, NOT ``transform(sequence(...), i -> slice(ws, i, n))``.
    A lambda body may only reference its lambda variables — any outer
    expression subtree (like the words array) is RE-EVALUATED PER ELEMENT
    by Spark's higher-order-function interpreter, turning shingling into
    O(words²) on long documents. The zip_with chain is O(n · words).
    """
    ws = words_expr(F.lower(text))
    k = F.size(ws)
    grams = ws
    for i in range(1, n):
        shifted = F.slice(ws, i + 1, F.greatest(k - i, F.lit(1)))
        # concat (not concat_ws): NULL tail-partner nulls the gram out
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    full_grams = F.filter(grams, lambda g: g.isNotNull())
    whole = F.array(F.concat_ws(" ", ws))
    return F.array_distinct(
        F.when(k >= n, full_grams).when(k > 0, whole).otherwise(F.array().cast("array<string>"))
    )


_MH_PRIME = 2147483647  # 2^31 - 1


def _mh_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MH_PRIME), rng.randrange(0, _MH_PRIME)) for _ in range(num_perm)]


def shingle_hashes(shingles: Column) -> Column:
    """One xxhash64 per shingle, folded into [0, 2^31): the base hashes all
    permutations derive from. Hash each shingle ONCE — permutations are
    cheap affine maps, not fresh string hashes."""
    return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME)))


def minhash_signature(base_hashes: Column, num_perm: int = 64) -> Column:
    """MinHash signature via universal hashing: sig_p = min((a_p·h + b_p) mod P).

    Row-local, O(perm × shingles) integer multiply-adds (no string ops).
    h < 2^31 and a_p < 2^31 keep a_p·h + b_p inside int64 — no overflow.
    """
    def affine(a: int, b: int):
        # PySpark infers lambda arity from the signature — keep it unary
        return lambda h: (h * a + b) % _MH_PRIME

    return F.array(
        *[
            F.array_min(F.transform(base_hashes, affine(a, b)))
            for a, b in _mh_params(num_perm)
        ]
    )


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Band the signature: array of (band_id, bucket-key) structs.

    Two docs sharing ANY band key are candidate pairs — the classic
    MinHash-LSH banding scheme; ``bands × rows_per_band`` must equal the
    signature length. The bucket key is xxhash64 of the comma-joined band
    slice (an 8-byte shuffle key). The ``minhash_pairs`` oracle keys its
    buckets on the comma-joined slice itself: barring a 64-bit hash
    collision, equal slice ⇔ equal key, so its buckets and pairs are the
    same.

    Bands whose slice runs past the signature end are DROPPED per row
    (round-6 review): an out-of-range slice yields an empty join key
    shared by every document, which would silently co-bucket the whole
    corpus in that band — an O(n²) cross product at scale. Misconfigured
    direct callers now just lose the uncovered bands' recall;
    ``sketch_pairs`` rejects such configs outright.
    """

    def bucket(b: int) -> Column:
        band_slice = F.slice(signature, b * rows_per_band + 1, rows_per_band)
        return F.xxhash64(F.concat_ws(",", band_slice))

    keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                bucket(b).alias("bucket"),
                F.lit((b + 1) * rows_per_band).alias("__end"),
            )
            for b in range(bands)
        ]
    )
    covered = F.filter(keys, lambda k: k["__end"] <= F.size(signature))
    return F.transform(
        covered, lambda k: F.struct(k["band"].alias("band"), k["bucket"].alias("bucket"))
    )


POLY_BASE = 257
POLY_MOD = 1_000_000_007


def poly_hash_expr(s: Column) -> Column:
    """Char-code polynomial fold of a string → [0, POLY_MOD) in base ``POLY_BASE``.

    The SQL-reproducible hash primitive (plain modular arithmetic over
    codepoints — DuckDB mirrors it verbatim, unlike xxhash64), used by the
    oracle-checkable variants of fingerprint / MinHash / SimHash. Chars via
    sequence+substring (not split("")) so both engines index identically.
    POLY_MOD < 2^31 keeps every intermediate product inside int64.
    """
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.ascii(F.substring(s, i, F.lit(1))).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * POLY_BASE + c) % POLY_MOD,
    )


def poly_shingle_hashes(shingles: Column) -> Column:
    """Polynomial hash per shingle: the SQL-mirrorable alternative to
    :func:`shingle_hashes` (xxhash64) for oracle-checked sketches."""
    return F.transform(shingles, lambda s: poly_hash_expr(s))


def rolling_fingerprint(text: Column) -> Column:
    """Polynomial rolling-hash document fingerprint over words.

    fp = (hashless) fold: fp = (fp*base + word_poly(word)) % mod, with
    word_poly a char-code fold — fully deterministic, reproducible in ANSI
    SQL (the DuckDB oracle mirrors the same arithmetic), unlike xxhash64.
    """
    ws = words_expr(F.lower(text))
    return F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * POLY_BASE + poly_hash_expr(w)) % POLY_MOD,
    )


def simhash_poly(text: Column) -> Column:
    """SQL-reproducible SimHash sketch: 30-bit sign-vote sketch over word
    bigrams hashed with the polynomial primitive (< 2^31, so 30 usable
    bits): for each bit j, sum +1/−1 over the shingles' bit j, then set bit
    j iff the sum is positive. The base hash is arithmetic so both engines
    compute it — the registry's ``simhash_sketch`` query and its DuckDB
    oracle are built on this function (VERDICT.md next-step #3)."""
    bits = 30
    sh = word_shingles(text, 2)
    hashes = F.transform(sh, lambda s: poly_hash_expr(s))

    def bit_votes(h: Column) -> Column:
        return F.array(
            *[
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                for j in range(bits)
            ]
        )

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(acc, bit_votes(h), lambda a, v: a + v),
    )
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    return F.aggregate(
        F.zip_with(votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def exact_content_hash(text: Column) -> Column:
    """sha2-256 of raw text for exact dedup (K5 'dropDuplicates on content
    hash' path in SURVEY.md §7.1/S4)."""
    return F.sha2(F.coalesce(text, F.lit("")), 256)
