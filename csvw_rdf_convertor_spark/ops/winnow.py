"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003;
the MOSS algorithm).

Robust near-dup/plagiarism fingerprints with a guarantee the plain rolling
hash (ops/text.fingerprint) lacks: any shared substring of length
``k + w − 1`` produces at least one SHARED fingerprint, yet only ~2/(w+1)
of all k-gram hashes are kept. Pipeline per document:

    normalize (lowercase, collapse whitespace)
    → character k-grams → 60-bit hashes
    → sliding windows of w hashes → keep each window's MIN
    → distinct selected hashes = the fingerprint set

The whole per-document computation is ONE ``aggregate`` fold whose
ARGUMENT is the normalized character array — the CollapseProject-immune
shape this repo's CLAUDE.md mandates (HOF *arguments* evaluate once per
row; expressions referenced once inside HOF *lambdas* get inlined and
re-evaluated per element — measured 64× on the MinHash signature). The
fold carries (last k−1 chars, last w−1 k-gram hashes, selected mins) and
does O(k+w) array work per character. Narrow, zero shuffle, zero UDFs.

Beyond-reference op; gate ``winnow_fingerprints`` replays it in DuckDB
with straightforward list comprehensions (the oracle has no HOF-inlining
hazard — correctness only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.column import Column

from ..functions import phash

K_DEFAULT = 8   # k-gram length (characters)
W_DEFAULT = 4   # winnowing window (hashes)


def _norm(text: Column) -> Column:
    return F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))


def _fold_fps(chars: Column, k: int, w: int, hash_family: str) -> Column:
    """array<long> distinct winnowed fingerprints via one aggregate fold."""
    def hash_fn(s: Column) -> Column:
        if hash_family == "md5":
            return phash.phash60(s)
        if hash_family == "xxhash64":
            return F.xxhash64(s)
        raise ValueError(f"unknown hash family {hash_family!r}")

    empty_s = F.array().cast("array<string>")
    empty_l = F.array().cast("array<long>")
    init = F.struct(empty_s.alias("cb"), empty_l.alias("hb"),
                    empty_l.alias("fps"))

    def merge(acc: Column, x: Column) -> Column:
        cb = F.concat(acc["cb"], F.array(x))
        have_k = F.size(cb) == k
        # lazy CaseWhen: the hash only evaluates when a full k-gram exists
        hb = F.when(have_k,
                    F.concat(acc["hb"],
                             F.array(hash_fn(F.concat_ws("", cb))))) \
             .otherwise(acc["hb"])
        have_w = F.size(hb) == w
        fps = F.when(have_w,
                     F.concat(acc["fps"], F.array(F.array_min(hb)))) \
              .otherwise(acc["fps"])
        return F.struct(
            F.when(have_k, F.slice(cb, 2, k - 1)).otherwise(cb).alias("cb"),
            F.when(have_w, F.slice(hb, 2, w - 1)).otherwise(hb).alias("hb"),
            fps.alias("fps"))

    return F.aggregate(chars, init, merge,
                       lambda acc: F.array_distinct(acc["fps"]))


def seq1(stop: Column) -> Column:
    """[1..stop], EMPTY when stop < 1 — Spark's ``sequence(1, 0)`` would
    silently DESCEND to [1, 0] instead."""
    return F.when(stop >= 1, F.sequence(F.lit(1), stop)) \
            .otherwise(F.array().cast("array<int>"))


def _hash_fn(s: Column, hash_family: str) -> Column:
    if hash_family == "md5":
        return phash.phash60(s)
    if hash_family == "xxhash64":
        return F.xxhash64(s)
    raise ValueError(f"unknown hash family {hash_family!r}")


def winnow_fingerprints(docs: DataFrame, *, k: int = K_DEFAULT,
                        w: int = W_DEFAULT, text_col: str = "text",
                        id_col: str = "doc_id",
                        hash_family: str = "xxhash64") -> DataFrame:
    """One row per (document, selected fingerprint): ``(id_col, fp)``.
    Documents shorter than ``k + w − 1`` normalized characters produce no
    rows (no complete window exists).

    Implementation: normalized text and the k-gram hash array are each
    staged behind a ``ops/staging.as_leaves`` Generate barrier, so
    the window-min transform's ``slice`` lambda reads leaf attributes —
    without the barriers CollapseProject inlines the hash transform into
    the lambda and the plan goes O(n²·k) per document (measured 37×:
    54 s → 1.45 s at sf0.1; the one-fold variant stays available as
    ``_fold_fps`` and is equality-tested against this plan)."""
    if k < 2 or w < 1:
        raise ValueError(f"need k >= 2 and w >= 1, got {k=} {w=}")
    from .staging import as_leaves
    s1 = as_leaves(docs, [id_col], _nrm=_norm(F.col(text_col)))
    hs = F.transform(
        seq1(F.length("_nrm") - k + 1),
        lambda i: _hash_fn(F.col("_nrm").substr(i, F.lit(k)), hash_family))
    s2 = as_leaves(s1, [id_col], _hs=hs)
    mins = F.array_distinct(F.transform(
        seq1(F.size("_hs") - w + 1),
        lambda j: F.array_min(F.slice(F.col("_hs"), j, w))))
    return (s2.select(F.col(id_col), mins.alias("_fps"))
            .select(id_col, F.explode("_fps").alias("fp")))


def winnow_near_duplicates(docs: DataFrame, *, k: int = K_DEFAULT,
                           w: int = W_DEFAULT, min_shared: int = 3,
                           max_df: int = 100, text_col: str = "text",
                           id_col: str = "doc_id",
                           hash_family: str = "xxhash64") -> DataFrame:
    """The dedup DECISION on top of winnowing: pairs of documents sharing
    ≥ ``min_shared`` selected fingerprints, with
    ``overlap_ppm = n_shared·10⁶ div min(|fps_a|, |fps_b|)``.

    Scale posture: fingerprints with document frequency > ``max_df`` are
    dropped BEFORE the pair join — boilerplate fingerprints otherwise
    fan out quadratically (the same hub-token trade MOSS and PPJoin make;
    a recall trade, documented, not silent). The join keys on the uniform
    60-bit fingerprint; pair aggregation is an algebraic count on the
    (id_a, id_b) key. Returns
    ``(id_a, id_b, n_shared, n_a, n_b, overlap_ppm)``.
    """
    fps = winnow_fingerprints(docs, k=k, w=w, text_col=text_col,
                              id_col=id_col, hash_family=hash_family)
    # r6 shape: ONE evaluation of the (expensive, per-character-hashing)
    # fingerprint pipeline. The old rare-filter semi-join + fp self-join
    # referenced `fps` from five subtrees, and Spark re-evaluates the whole
    # upstream per reference (measured 9.7 s for ~4.3× the cost of the
    # fingerprints themselves). One groupBy(fp) collects each fingerprint's
    # id bucket; the df cap and pair emission both read that bucket —
    # id arrays are bounded by max_df BEFORE they are materialized
    # (F.slice on the sorted list), so hub fingerprints still never fan out.
    buckets = (fps.groupBy("fp")
               .agg(F.sort_array(F.collect_list(id_col)).alias("_ids"))
               .where((F.size("_ids") <= max_df) & (F.size("_ids") >= 1)))
    kept_ids = buckets.select(F.explode("_ids").alias(id_col))
    sizes = kept_ids.groupBy(id_col).agg(F.count("*").alias("n_fps"))
    pair_arr = F.flatten(F.transform(
        F.col("_ids"),
        lambda x, i: F.transform(
            F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    pairs = (buckets.where(F.size("_ids") > 1)
             .select(F.explode(pair_arr).alias("_p"))
             .select("_p.id_a", "_p.id_b")
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("n_shared"))
             .where(F.col("n_shared") >= min_shared))
    # attach both sizes with ONE join (two per-side joins would evaluate
    # the sizes subtree — and the fingerprints under it — twice more)
    roles = pairs.select(
        "id_a", "id_b", "n_shared",
        F.explode(F.array("id_a", "id_b")).alias(id_col))
    sized = (roles.join(sizes, id_col)
             .groupBy("id_a", "id_b", "n_shared")
             .agg(F.max(F.when(F.col(id_col) == F.col("id_a"),
                               F.col("n_fps"))).alias("n_a"),
                  F.max(F.when(F.col(id_col) == F.col("id_b"),
                               F.col("n_fps"))).alias("n_b")))
    return sized.select("id_a", "id_b", "n_shared", "n_a", "n_b",
                        F.expr("n_shared * 1000000 div least(n_a, n_b)")
                        .alias("overlap_ppm"))


def sql_winnow_near_duplicates(rel: str = "documents", *,
                               k: int = K_DEFAULT, w: int = W_DEFAULT,
                               min_shared: int = 3, max_df: int = 100,
                               text_col: str = "text",
                               id_col: str = "doc_id") -> str:
    """DuckDB oracle twin of :func:`winnow_near_duplicates` (md5)."""
    fps_sql = sql_winnow_fingerprints(rel, k=k, w=w, text_col=text_col,
                                      id_col=id_col)
    return rf"""
WITH fps AS MATERIALIZED ({fps_sql}),
rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {max_df}),
kept AS (SELECT * FROM fps WHERE fp IN (SELECT fp FROM rare)),
sizes AS (SELECT {id_col}, COUNT(*) AS n_fps FROM kept GROUP BY {id_col}),
p AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, COUNT(*) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.{id_col} < b.{id_col}
  GROUP BY a.{id_col}, b.{id_col}
  HAVING COUNT(*) >= {min_shared})
SELECT id_a, id_b, n_shared, sa.n_fps AS n_a, sb.n_fps AS n_b,
       n_shared * 1000000 // least(sa.n_fps, sb.n_fps) AS overlap_ppm
FROM p JOIN sizes sa ON sa.{id_col} = id_a
       JOIN sizes sb ON sb.{id_col} = id_b
"""


def winnow_fingerprints_fold(docs: DataFrame, *, k: int = K_DEFAULT,
                             w: int = W_DEFAULT, text_col: str = "text",
                             id_col: str = "doc_id",
                             hash_family: str = "xxhash64") -> DataFrame:
    """The single-aggregate-fold formulation (argument-position arrays,
    no Generate barriers) — kept as the semantic reference the barrier
    plan is equality-tested against."""
    if k < 2 or w < 1:
        raise ValueError(f"need k >= 2 and w >= 1, got {k=} {w=}")
    # split('', pattern='') leaves a trailing "" element — drop it, or the
    # last window would hash a spurious short k-gram
    chars = F.filter(F.split(_norm(F.col(text_col)), ""),
                     lambda x: x != "")
    return (docs
            .select(F.col(id_col), _fold_fps(chars, k, w, hash_family)
                    .alias("_fps"))
            .select(id_col, F.explode("_fps").alias("fp")))


def sql_winnow_fingerprints(rel: str = "documents", *, k: int = K_DEFAULT,
                            w: int = W_DEFAULT, text_col: str = "text",
                            id_col: str = "doc_id") -> str:
    """DuckDB oracle twin (md5 family)."""
    return rf"""
WITH d AS (
  SELECT {id_col},
         lower(regexp_replace(trim({text_col}), '\s+', ' ', 'g')) AS nrm
  FROM {rel}),
kh AS (
  SELECT {id_col},
         list_transform(range(1, len(nrm) - {k} + 2),
           i -> ('0x' || substr(md5(substr(nrm, i, {k})), 1, 15))::BIGINT)
           AS hs
  FROM d WHERE len(nrm) >= {k}),
mins AS (
  SELECT {id_col},
         list_distinct(list_transform(range(1, len(hs) - {w} + 2),
           j -> list_min(hs[j : j + {w} - 1]))) AS fps
  FROM kh WHERE len(hs) >= {w})
SELECT {id_col}, unnest(fps) AS fp FROM mins
"""
