"""Hash-family column expressions: LSH band keys, SimHash and the
signed-random-projection hyperplanes.

Built on ``xxhash64`` (JVM-side, codegen'd).  These back the
near-duplicate operators in ``operators.dedup``.

Literature: MinHash — Broder, "On the resemblance and containment of
documents" (SEQUENCES 1997); LSH banding — Leskovec/Rajaraman/Ullman,
Mining of Massive Datasets ch.3; SimHash — Charikar, "Similarity
estimation techniques from rounding algorithms" (STOC 2002).

Scale design: a MinHash signature is computed per-row with zero shuffle;
LSH banding turns near-dup detection into an equi-join on (band,
band_hash) — the shuffle key is small and uniformly distributed, so the
plan survives 100 TB (the classic MMDS ch.3 construction).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def lsh_band_keys_expr(
    sig_name: str, bands: int, rows_per_band: int
) -> Column:
    """array<struct<band:int, key:long>> — one LSH bucket key per band
    over a signature column ATTRIBUTE named ``sig_name``: two
    documents land in the same (band, key) bucket iff their signatures
    agree on every row of that band (key = xxhash64 of the band's
    comma-joined rows).

    Built as ONE parsed SQL expression — the equivalent
    Column-by-Column form costs ~8 py4j round-trips per band (~0.24 s
    of driver plan-build at 16 bands; the plan-build tax, CLAUDE.md)
    and was removed as dead code in r6 after both callers switched.
    Keys are golden-pinned."""
    parts = ",".join(
        f"struct({b} as band, xxhash64(concat_ws(',', "
        + ",".join(
            f"element_at(`{sig_name}`, {b * rows_per_band + r + 1})"
            for r in range(rows_per_band)
        )
        + ")) as key)"
        for b in range(bands)
    )
    return F.expr(f"array({parts})")


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit hashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit integer mix (splitmix64 finalizer — public
    PRNG construction) used to derive reproducible hyperplane signs
    without any runtime hashing."""
    mask = (1 << 64) - 1
    x = (x + 0x9E3779B97F4A7C15) & mask
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & mask
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & mask
    return x ^ (x >> 31)


def srp_signs(n_bits: int, dim: int, seed: int = 0x5EED) -> list[list[float]]:
    """±1 Rademacher hyperplane matrix for signed random projection,
    derived deterministically from ``seed`` (Charikar STOC'02 rounding
    scheme; Rademacher entries are a standard substitute for Gaussian —
    Achlioptas, JCSS 2003)."""
    return [
        [
            1.0 if _splitmix64(seed + i * dim + j) & 1 else -1.0
            for j in range(dim)
        ]
        for i in range(n_bits)
    ]


def srp_sign_masks(n_bits: int, dim: int, seed: int = 0x5EED) -> list[int]:
    """Per-dimension packed sign masks for the explode+groupBy SRP
    formulation: element j is a signed 64-bit long whose bit i is 1 iff
    hyperplane i has a +1 entry at dimension j (same ``srp_signs``
    matrix, transposed and bit-packed so one long literal carries all
    ``n_bits`` signs for a dimension)."""
    if n_bits > 64:
        raise ValueError("sign masks pack into one long: n_bits <= 64")
    signs = srp_signs(n_bits, dim, seed)
    masks = []
    for j in range(dim):
        m = 0
        for i in range(n_bits):
            if signs[i][j] > 0:
                m |= 1 << i
        if m >= 1 << 63:  # two's-complement into a signed long literal
            m -= 1 << 64
        masks.append(m)
    return masks
