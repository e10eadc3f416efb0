"""Leaf-staging barrier: make computed columns optimizer-proof leaves.

CLAUDE.md documents the CollapseProject hazard: a staged projection
referenced inside a higher-order-function lambda gets inlined into the
lambda body and re-evaluated PER ELEMENT (64× on the MinHash signature,
6× on decontamination grams, and an unbounded O(n²·k) blow-up measured on
the winnowing window mins — 54 s → 1.45 s after this fix). Multiple
static references do NOT protect the producer (measured: a 2-reference
hash array still inlined), and ``methodSplitThreshold`` can't help because
HOFs are CodegenFallback.

The robust fixes are positional:

1. expensive array as the ARGUMENT of one ``aggregate``/``transform``
   (arguments evaluate once per row) — kg/minhash.signature_from_pairs,
   ops/text.ngrams_fold; or
2. **this module**: pass the computed column through
   ``explode(array(struct(...)))``. CollapseProject cannot merge through a
   Generate, so the expression evaluates exactly once per row inside the
   generator and every downstream reference — including inside HOF
   lambdas — is a plain leaf attribute. A 1-element explode costs one
   Generate node per row (~nothing) and no shuffle.

Use (2) when a lambda must RANDOM-ACCESS the expensive array (window
slices, neighbor lookups) — shapes a linear fold can't express without
O(n²) accumulator copying.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def as_leaves(df: DataFrame, keep: list[str], **exprs: Column) -> DataFrame:
    """Return ``df`` with ``keep`` columns passed through and each named
    expression materialized as a LEAF attribute behind a single-row
    Generate barrier (see module docstring).

    Name collisions between ``keep``, the expression names, and the
    reserved ``_leaf`` alias would otherwise surface as a confusing
    ambiguous-column analysis error far from the call site (ADVICE r5) —
    reject them here."""
    clash = set(keep) & set(exprs)
    if clash:
        raise ValueError(f"as_leaves: names both kept and computed: {sorted(clash)}")
    if "_leaf" in keep or "_leaf" in exprs:
        raise ValueError("as_leaves: '_leaf' is a reserved alias")
    packed = F.explode(F.array(F.struct(
        *[e.alias(k) for k, e in exprs.items()]))).alias("_leaf")
    return (df.select(*keep, packed)
            .select(*keep, *[F.col(f"_leaf.{k}").alias(k) for k in exprs]))
