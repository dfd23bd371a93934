"""Hash-sketch column expressions: MinHash signatures, LSH band keys,
SimHash — built on ``md5`` so the DuckDB oracle can reproduce them
bit-for-bit (both engines expose identical md5).

MinHash trick: md5 hex strings are fixed-width lowercase, so the
*lexicographic* min over shingle hashes equals the numeric min — the
signature can stay a string and remain exactly SQL-reproducible. Seeded
permutations are ``md5(seed || '|' || shingle)``.

Everything is a Catalyst expression (transform/aggregate/md5) — at 100 TB
this is a single scan with no shuffle until the band-key groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .vector import ColumnOrName, _c

HEX_HIGH = ["8", "9", "a", "b", "c", "d", "e", "f"]


def minhash_signature(shingles_col: ColumnOrName, num_hashes: int = 16) -> Column:
    """array<string> of length ``num_hashes``; element i is
    ``min(md5(i || '|' || s) for s in shingles)`` (NULL for empty docs).

    NB: the seed must be captured via a closure factory, NOT a
    ``lambda x, i=i`` default argument — a two-parameter lambda is
    PySpark's (element, index) binary transform form, which silently
    rebinds ``i`` to the index column."""
    s = _c(shingles_col)

    def seeded_min(prefix: str) -> Column:
        return F.array_min(
            F.transform(s, lambda x: F.md5(F.concat(F.lit(prefix), x))))

    sig = F.array(*[seeded_min(f"{i}|") for i in range(num_hashes)])
    # Empty shingle set -> NULL (not a 16-element array of NULLs), matching
    # minhash_signature_udf so isNotNull() filters work on either form.
    return F.when(F.size(s) > 0, sig)


def lsh_band_keys(sig_col: ColumnOrName, bands: int, rows_per_band: int) -> Column:
    """array<string> of ``bands`` keys; band b hashes signature rows
    [b*r, (b+1)*r). Two docs sharing any band key are LSH candidates."""
    sig = _c(sig_col)
    return F.array(*[
        F.md5(F.concat_ws(",", F.lit(str(b)), F.slice(sig, b * rows_per_band + 1, rows_per_band)))
        for b in range(bands)
    ])


def simhash_from_hashes(hashes_col: ColumnOrName) -> Column:
    """SimHash bits from an md5-array expression, computed in a single
    aggregate pass with a 32-counter array accumulator — each token's md5
    is evaluated once (a per-bit outer transform would re-evaluate the
    hash array 32x)."""
    hashes = _c(hashes_col)
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 32),
        lambda acc, h: F.zip_with(
            acc, F.sequence(F.lit(1), F.lit(32)),
            lambda a, j: a + F.when(h.substr(j, F.lit(1)).isin(*HEX_HIGH), 1).otherwise(-1)),
    )
    bits = F.transform(counts, lambda c: F.when(c > 0, "1").otherwise("0"))
    return F.array_join(bits, "")


def simhash32(tokens_col: ColumnOrName) -> Column:
    """32-bit SimHash as a '0'/'1' bitstring.

    Bit j is set when sum over tokens of (+1 if the high bit of md5 hex
    nibble j is set else -1) is positive. String output keeps the oracle
    exact (no hex->int parsing needed on either engine).

    NB: prefer materializing the md5 array first (see
    ``simhash_from_hashes``) in hot paths."""
    return simhash_from_hashes(F.transform(_c(tokens_col), F.md5))
