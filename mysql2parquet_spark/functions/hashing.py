"""Hashing / sketching expression builders for dedup operators.

All JVM-side built-ins: ``F.hash`` (Murmur3, seedable by mixing a literal
column), ``xxhash64``, ``md5``. No Python in the per-row path — at 100 TB
these run inside whole-stage codegen as pure projections.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str, pattern: str = r"\s+") -> Column:
    """Whitespace tokenizer → array<string>."""
    return F.split(F.trim(_c(text)), pattern)


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of a text column → array<string>.

    Built from built-ins only: tokenize, then for each start offset i join
    tokens[i, i+n). Documents shorter than n tokens yield a single shingle
    of all their tokens (so they still participate in dedup).
    """
    toks = tokens(text)

    def build(t: Column) -> Column:
        n_sh = F.greatest(F.size(t) - F.lit(n - 1), F.lit(1))
        idx = F.sequence(F.lit(0), n_sh - F.lit(1))
        return F.transform(
            idx,
            lambda i: F.array_join(F.slice(t, i + F.lit(1), F.lit(n)), " "),
        )

    # Bind the token array to a lambda variable before slicing. Naming
    # `toks` directly inside the per-offset lambda embeds the whole
    # split() expression there, and higher-order functions re-evaluate
    # embedded subtrees PER ELEMENT — O(tokens²) per document (measured
    # 51s for 100k docs; ~2s with the binding). transform(array(x), f)[0]
    # evaluates x exactly once and exposes it as a real variable.
    return F.transform(F.array(toks), build)[0]


def minhash_signature(shingle_arr: Column | str, num_hashes: int = 32) -> Column:
    """MinHash signature: array of ``num_hashes`` ints, element j =
    min over shingles of hash_j(shingle).

    The REFERENCE definition. The dedup operators build signatures with
    ``operators.dedup.minhash_signature_relation``, which computes the
    same values bit for bit (parity-tested) as codegen'd relational
    operators; this per-row fold pins what those values are.

    Built as ONE fold over the shingle array (each shingle hashed with
    every hash function, running element-wise min via zip_with) — the
    naive `array(array_min(transform(...)) for each seed)` form embeds
    the shingle expression num_hashes times and re-evaluates it per
    seed.

    Hash family: each 64-bit xxhash64(seed_j, shingle) is SPLIT into
    its two 32-bit halves (high half first), yielding two independent
    full-width hash functions per evaluation — num_hashes components
    cost ceil(num_hashes/2) hash calls. Unlike a Kirsch-Mitzenmacher
    family (h1 + j·h2 — linearly dependent functions share argmins and
    planted-dup recall collapsed to ~0.5), the halves of one xxhash64
    carry independent bits. Both halves are extracted with
    shiftleft/shiftright sign-extension (not a raw long→int cast, which
    throws under ANSI mode).
    """
    arr = _c(shingle_arr)
    int_max = 2147483647
    n_longs = (num_hashes + 1) // 2

    def pieces(s: Column) -> Column:
        h64 = F.transform(
            F.sequence(F.lit(0), F.lit(n_longs - 1)),
            lambda j: F.xxhash64(j, s),
        )
        both = F.flatten(
            F.transform(
                h64,
                lambda x: F.array(
                    F.shiftright(x, 32).cast("int"),
                    F.shiftright(F.shiftleft(x, 32), 32).cast("int"),
                ),
            )
        )
        return F.slice(both, 1, num_hashes)

    return F.aggregate(
        arr,
        F.array_repeat(F.lit(int_max), num_hashes),
        lambda acc, s: F.zip_with(acc, pieces(s), lambda a, b: F.least(a, b)),
    )


def band_hashes(signature: str, bands: int, rows_per_band: int) -> Column:
    """LSH banding: split the signature column ``signature`` (a column
    name) into ``bands`` groups of ``rows_per_band`` and hash each
    group → array<int> of band keys. Two docs sharing ANY band key
    become a candidate pair.

    Each band key is one multi-argument murmur3 ``hash(band, c0..ck)``
    over the group's signature components DIRECTLY — no intermediate
    string form, so no per-doc int→string casts or concats. Equal band
    groups yield equal keys; a cross-group 32-bit hash collision only
    adds a false candidate pair, which the est_jaccard threshold filter
    discards. Built as one SQL expression string (one driver call, not
    a column tree per component)."""
    keys = ", ".join(
        "hash({}, {})".format(
            b,
            ", ".join(
                f"{signature}[{b * rows_per_band + i}]"
                for i in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return F.expr(f"array({keys})")


def simhash_long(token_arr: Column | str) -> Column:
    """SimHash of a token array packed into ONE signed 64-bit LONG.

    Each token hashes to 64 bits (xxhash64); bit k of the result is the
    majority vote of bit k across tokens. ONE fold over the tokens
    (per-token bits via getbit, element-wise count via zip_with) — a
    per-k loop would re-evaluate the hash array 64 times.

    Packed (vs an array<int> of bits) the dedup shuffle carries 8 bytes
    per doc instead of ~64×4, and Hamming distance collapses to two JVM
    intrinsics: ``bit_count(a ^ b)``. Packing is Horner-folded per
    32-bit HALF (each half stays < 2^33, so no ANSI-mode long overflow
    at bit 63), then recombined with shiftleft|or — both wrap-free
    bitwise ops.
    """
    num_bits = 64
    toks = _c(token_arr)
    h = F.transform(toks, lambda t: F.xxhash64(t))
    idx = F.sequence(F.lit(0), F.lit(num_bits - 1))
    counts = F.aggregate(
        h,
        F.array_repeat(F.lit(0), num_bits),
        lambda acc, x: F.zip_with(
            acc,
            F.transform(idx, lambda k: F.getbit(x, k).cast("int")),
            lambda a, b: a + b,
        ),
    )
    n = F.size(toks)
    bits = F.transform(
        counts,
        lambda c: F.when(F.lit(2) * c > n, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )

    def horner(msb_first: Column) -> Column:
        return F.aggregate(
            msb_first, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b
        )

    lo = horner(F.reverse(F.slice(bits, 1, 32)))  # bits 31..0
    hi = horner(F.reverse(F.slice(bits, 33, 32)))  # bits 63..32
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash_chunk(sig: Column | str, k: int, chunk_bits: int = 16) -> Column:
    """Chunk ``k`` (of ``64 / chunk_bits``) of a packed simhash — the
    pigeonhole blocking key."""
    mask = (1 << chunk_bits) - 1
    return (
        F.shiftrightunsigned(_c(sig), k * chunk_bits)
        .bitwiseAND(F.lit(mask))
        .cast("int")
    )


def hamming_long(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two packed 64-bit signatures:
    ``bit_count(a ^ b)`` — pure codegen intrinsics."""
    return F.bit_count(_c(a).bitwiseXOR(_c(b)))
