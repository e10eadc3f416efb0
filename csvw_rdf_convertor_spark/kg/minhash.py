"""MinHash + LSH banding as pure column expressions.

Signature = per-permutation min of ``h1(shingle) + j * h2(shingle)`` (the
standard linear-combination permutation trick) — entirely JVM-side and
deterministic across retries. The (h1, h2) pair comes from a pluggable
hash family (``functions/phash.py``):

- ``'xxhash64'`` (default): native-codegen hashes — the production/bench
  path; the hash is the inner loop of a 100 TB dedup, so it must be cheap.
- ``'md5'``: engine-portable 52-bit digest halves — pinned by the
  oracle-gated queries so the DuckDB oracle computes bit-identical
  signatures, bands and pairs.

Both families obey the same <2^59 ANSI-overflow bound; a pytest property
asserts they yield identical verified pair sets (the algorithm is
hash-agnostic — only candidate *recall* could differ, and the exact-Jaccard
verification step makes the output threshold-exact either way).

LSH bands hash signature slices; candidate pairs come from an equi-join on
(band, band_key), which Catalyst executes as a shuffle hash join on a key
that is uniform by construction — no skew. Band rows carry ONLY the id
columns (never the shingle/signature arrays), so the 16× band fan-out
duplicates a few dozen bytes per row, not the document's shingle footprint.

These are the primitives entity-link blocking uses (``kg/linking.py``;
north rule: "broadcast alias dictionary + MinHash-LSH blocking").
Document-level near-dup detection (``ops/dedup.py``) builds on them
through ``ops/minhash.py``, which adds word shingles and the aggregate
signature form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.phash import FAMILIES, key_hash, pair52_from_hex, xx_pair52


def char_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-character shingles of a (lowercased) string."""
    s = F.lower(col)
    n = F.length(s)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(s, i, k)))


def shingle_hexes(shingles: Column) -> Column:
    """array<string>: one md5 hex digest per shingle (stage this)."""
    return F.transform(shingles, lambda s: F.md5(s))


def pairs_from_hexes(hexes: Column) -> Column:
    """array<struct<h1,h2>> of 52-bit digest halves (stage this too when
    the signature is built in a hot path — one substr/conv pass per
    shingle instead of one per permutation)."""
    return F.transform(hexes, pair52_from_hex)


def shingle_pairs(shingles: Column, hash_family: str = "xxhash64") -> Column:
    """array<struct<h1,h2>> per shingle in the given hash family.

    The xxhash64 path is two native hash calls per element — nothing to
    stage. md5 callers in hot paths should stage ``shingle_hexes`` in its
    own projection and use ``pairs_from_hexes`` (one digest per shingle).
    """
    if hash_family not in FAMILIES:
        raise ValueError(f"unknown hash family {hash_family!r}")
    if hash_family == "md5":
        return pairs_from_hexes(shingle_hexes(shingles))
    return F.transform(shingles, xx_pair52)


#: fold init for the per-permutation running min — above every perm value
#: (which stay < 65·2^52 < 2^59) but far below bigint overflow territory
_SIG_MAX = 1 << 62


def signature_from_pairs(pairs: Column, n_perm: int = 64) -> Column:
    """array<bigint> of length n_perm: sig[j] = min over shingles of
    (h1 + j*h2), j = 1..n_perm.

    Expressed as ONE ``aggregate`` fold over the pair array — per pair,
    compute its 64 permutation values and ``least`` them into the running
    min vector. Two earlier shapes both failed at scale:

    - unrolled ``F.array(*64 × array_min)``: duplicated the pair subtree
      64×; codegen compile alone added ~10s fixed per-stage cost.
    - ``transform(sequence(1,64), j -> array_min(transform(pairs, …)))``:
      constant-size tree, BUT ``pairs`` sits *inside* the outer lambda, so
      when CollapseProject inlines the staged pair/shingle projections
      (single static reference ⇒ always inlined), the whole shingle+hash
      chain is re-evaluated once per permutation at runtime — a silent 64×
      (measured: 204s vs 7s at sf0.1). HOFs are CodegenFallback, so no CSE
      rescues it.

    A fold is immune by construction: the expensive array is the
    aggregate's ARGUMENT, which Spark evaluates exactly once per row no
    matter how the optimizer collapses projections. The math is
    bit-identical (min via ``least`` with a +∞-like init), so the DuckDB
    oracle replicas are unchanged. Empty pair arrays yield the init vector
    — callers filter empty shingle sets before signing.

    r6: the inner step is ONE ``zip_with`` against a constant-folded
    permutation-index literal array — the previous
    ``zip_with(acc, transform(perms, …), least)`` paid a second HOF layer
    (one more 64-slot array allocation + 64 more interpreted lambda calls
    per shingle; HOFs are CodegenFallback). Measured 2.3× on the signature
    stage at sf0.1; values bit-identical (tests/test_hash_family.py and the
    md5 oracle gates replay them)."""
    perms = F.array(*[F.lit(j) for j in range(1, n_perm + 1)])
    return F.aggregate(
        pairs,
        F.array_repeat(F.lit(_SIG_MAX).cast("long"), n_perm),
        lambda acc, p: F.zip_with(
            acc, perms, lambda a, j: F.least(a, p["h1"] + j * p["h2"])))


def lsh_bands(df: DataFrame, sig_col: str, n_bands: int, rows_per_band: int,
              id_cols: list[str], hash_family: str = "xxhash64") -> DataFrame:
    """Explode a signature column into (id_cols..., band, band_key) rows.

    ``id_cols`` should be exactly the id columns needed to join back after
    the candidate-pair join — carrying arrays here multiplies them through
    the exchange ``n_bands`` times. The band key is hashed in the given
    family (xxhash64 for production joins; md5 when the oracle must replay
    the key values).
    """
    # higher-order form (constant-size expression tree — see
    # signature_from_pairs); identical band keys: slice(sig, b·r+1, r)
    # joined with "," equals the old per-band concat_ws of element_at calls
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            key_hash(F.array_join(
                F.transform(
                    F.slice(F.col(sig_col), b * rows_per_band + 1,
                            rows_per_band),
                    lambda v: v.cast("string")),
                ","), hash_family).alias("band_key")))
    return (df.select(*id_cols, F.explode(bands).alias("b"))
            .select(*id_cols, F.col("b.band").alias("band"),
                    F.col("b.band_key").alias("band_key")))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two array<string> columns (for candidate rescoring)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
