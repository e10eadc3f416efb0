"""Document-level MinHash: word shingles and the aggregate signature form.

The column primitives (character shingles, per-family hash pairs, the
signature fold, LSH bands, exact Jaccard) live in ``kg/minhash.py``, where
entity-link blocking uses them; they are re-exported here, so near-dup
detection over ``documents`` (``ops/dedup.py``) and the oracle-gated
queries reach one implementation under either module name.

Staging note (CLAUDE.md): callers materialize the md5-hex array as its own
projection (``withColumn``) before fanning out into the 64 per-permutation
mins — CollapseProject keeps non-cheap producer expressions staged, so each
shingle is digested exactly once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kg.minhash import (char_shingles, jaccard, lsh_bands,  # noqa: F401
                          pairs_from_hexes, shingle_hexes, shingle_pairs,
                          signature_from_pairs)


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles (for document-level near-dup).

    HOT-PATH WARNING: the token split lives inside this expression's
    transform lambda, where it re-evaluates once per shingle position at
    runtime (HOFs are CodegenFallback — no CSE). Fine for short strings
    and one-off plans; DataFrame pipelines should use
    :func:`with_word_shingles`, which stages tokens and shingles behind
    Generate barriers (measured 4× on the sf0.1 signature stage)."""
    words = F.split(F.lower(F.trim(col)), r"\s+")
    cnt = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    return F.array_distinct(F.transform(
        idx, lambda i: F.array_join(F.slice(words, i + 1, n), " ")))


def with_word_shingles(df: DataFrame, keep: list[str], *,
                       text_col: str = "text", n: int = 3,
                       out: str = "sh") -> DataFrame:
    """Leaf-staged word shingles: the token array and the shingle array
    each materialize behind a Generate barrier
    (``ops/staging.as_leaves``). The Column form
    (:func:`word_shingles`) carries its ``split`` INSIDE the transform
    lambda, where it re-evaluates once per shingle position at runtime —
    HOFs are CodegenFallback, no CSE — measured 4× on the sf0.1 minhash
    signature stage once everything downstream reads leaf attributes.
    Rows with null ``text_col`` are dropped (they have no shingles).
    """
    from .staging import as_leaves
    w = as_leaves(df.where(F.col(text_col).isNotNull()), keep,
                  _w=F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    idx = F.sequence(F.lit(0), F.greatest(F.size("_w") - n, F.lit(0)))
    sh = F.array_distinct(F.transform(
        idx, lambda i: F.array_join(F.slice(F.col("_w"), i + 1, n), " ")))
    return as_leaves(w, keep, **{out: sh})


def with_min_signature(df: DataFrame, id_cols: list[str], pr_col: str = "pr",
                       n_perm: int = 64, out: str = "sig") -> DataFrame:
    """(id_cols..., sig) via explode + ``n_perm`` compiled ``min`` aggregates
    — the DataFrame-level alternative to the narrow
    :func:`signature_from_pairs` fold.

    The fold is an interpreted higher-order function (HOFs are
    CodegenFallback): per shingle it pays ``n_perm`` interpreted lambda
    steps plus one ``n_perm``-slot array allocation. Exploding the pair
    array and taking ``min(h1 + j·h2)`` per permutation runs entirely in
    whole-stage codegen with map-side partial aggregation, so the exchange
    this adds carries ONE row of ``n_perm`` longs per id (each id lives in
    one input partition → the partial aggregate is already final-sized).
    Measured at sf0.1/2 cores (r6): signature stage 1.24 → 0.86 s, full
    ``minhash_near_duplicates`` row 2.62 → 2.36 s, signatures bit-identical
    (min over the same values in either order; the md5 oracle gates replay
    them — tests/test_hash_family.py + tests/test_minhash_sig_agg.py).

    Use when the caller's next step shuffles anyway (LSH banding);
    keep the narrow fold where an exchange is unaffordable or the frame is
    broadcast-sized (link_fuzzy's alias side). Rows whose ``pr_col`` is
    EMPTY disappear from the output (no exploded rows) — same contract as
    the fold's documented "callers filter empty shingle sets first";
    ``with_word_shingles`` never produces an empty shingle array.
    """
    ex = (df.select(*id_cols, F.explode(pr_col).alias("_p"))
          .select(*id_cols, F.col("_p.h1").alias("_h1"),
                  F.col("_p.h2").alias("_h2")))
    aggs = [F.min(F.col("_h1") + F.lit(j) * F.col("_h2")).alias(f"_m{j}")
            for j in range(1, n_perm + 1)]
    return (ex.groupBy(*id_cols).agg(*aggs)
            .select(*id_cols,
                    F.array(*[F.col(f"_m{j}")
                              for j in range(1, n_perm + 1)]).alias(out)))


def signature_from_hexes(hexes: Column, n_perm: int = 64) -> Column:
    """Signature straight from the staged md5-hex array."""
    return signature_from_pairs(pairs_from_hexes(hexes), n_perm)


def minhash_signature(shingles: Column, n_perm: int = 64) -> Column:
    """Convenience one-expression form. For hot paths, stage
    ``shingle_hexes`` in its own projection first (md5 once per shingle)."""
    return signature_from_hexes(shingle_hexes(shingles), n_perm)


def estimated_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """MinHash estimate: fraction of agreeing signature slots."""
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y),
                            lambda v: v))
    return agree.cast("double") / F.size(sig_a)
