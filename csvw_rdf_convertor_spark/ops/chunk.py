"""Document chunking: sliding token windows for training-data pipelines.

LLM pre-training and RAG indexing both need documents cut into
fixed-size token windows with overlap (context-length packing,
retrieval granularity). The operator is a pure narrow plan:

    tokens (staged)  →  window starts via ``sequence``  →  ``posexplode``
    →  ``slice`` + ``array_join`` per window

Zero shuffle, zero UDFs — every step is a native codegen expression, so a
100 TB corpus chunks at scan speed and the fan-out (≈ n_tokens / stride
rows per document) never concentrates on the driver. Beyond-reference op
(the reference repo has no corpus-chunking equivalent); the DuckDB oracle
replays it 1:1 with ``range`` + list slicing (gate ``text_chunk_windows``).

Staging rule (CLAUDE.md): ``toks`` is materialized as a real column BEFORE
the generator so CollapseProject cannot inline the split into per-window
expressions and re-tokenize once per chunk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.column import Column


def tokens_nonempty(text: Column) -> Column:
    """Whitespace tokens with empties dropped (mirrors DuckDB
    ``list_filter(string_split_regex(trim(x), '\\s+'), t -> t <> '')``)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def chunk_documents(docs: DataFrame, *, size: int = 16, overlap: int = 4,
                    text_col: str = "text", id_col: str = "doc_id",
                    ) -> DataFrame:
    """Cut each document into sliding windows of ``size`` tokens advancing
    by ``size - overlap`` tokens (the last window may be shorter; documents
    with zero tokens produce no chunks).

    Returns ``(id_col, chunk_idx, n_tokens, chunk_text)`` — one row per
    window, ``chunk_idx`` 0-based in document order.
    """
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap < size, got {overlap=} {size=}")
    stride = size - overlap
    staged = (docs
              .withColumn("_toks", tokens_nonempty(F.col(text_col)))
              .withColumn("_n", F.size("_toks"))
              .where(F.col("_n") > 0)
              # window start offsets 0, stride, 2*stride, ... < n
              .withColumn("_starts", F.sequence(
                  F.lit(0), F.col("_n") - 1, F.lit(stride))))
    return (staged
            .select(F.col(id_col),
                    F.posexplode("_starts").alias("chunk_idx", "_start"),
                    F.col("_toks"), F.col("_n"))
            .select(
                F.col(id_col),
                F.col("chunk_idx").cast("long").alias("chunk_idx"),
                F.least(F.lit(size), F.col("_n") - F.col("_start"))
                 .cast("long").alias("n_tokens"),
                F.array_join(F.slice(F.col("_toks"), F.col("_start") + 1,
                                     F.lit(size)), " ").alias("chunk_text")))


def pack_sequences(docs: DataFrame, *, context_len: int,
                   shard_size: int = 1024, sep_tokens: int = 1,
                   n_tokens_col: str | None = None,
                   text_col: str = "text", id_col: str = "doc_id",
                   ) -> DataFrame:
    """GPT-style concat-and-split sequence packing: documents are laid out
    back-to-back (each followed by ``sep_tokens`` separator tokens, e.g.
    one EOS) in deterministic ``id_col`` order and the token stream is cut
    at exact ``context_len`` boundaries — so documents may straddle packs.

    Packing is per-SHARD (``shard = id div shard_size``), matching how real
    pipelines pack per worker/file: a GLOBAL token cumsum would be a
    single-partition window (the driver-sized bottleneck Spark warns
    about), while the shard window shuffles once on a uniform bounded key
    and every shard packs independently — the layout is a pure function of
    (ids, token counts), stable under retries and repartitioning.
    Ids are assumed NON-NEGATIVE (ADVICE r5): ``div`` truncates toward
    zero, so ids in ``(-shard_size, shard_size)`` would collapse into one
    double-width shard 0 — the oracle twin shares the same assumption.

    Returns one row per (document × pack it touches):
    ``(id_col, shard, pack_id, pack_pos, n_tokens_in_pack)`` where
    ``pack_id`` is shard-local, ``pack_pos`` is the document segment's
    start offset inside the pack, and ``n_tokens_in_pack`` counts only
    document tokens (separators occupy stream positions but belong to no
    document). Zero-token documents are dropped.
    """
    if context_len <= 0 or shard_size <= 0 or sep_tokens < 0:
        raise ValueError(f"bad {context_len=} / {shard_size=} / {sep_tokens=}")
    n_tok = (F.col(n_tokens_col) if n_tokens_col
             else F.size(tokens_nonempty(F.col(text_col))))
    base = (docs
            .withColumn("_n", n_tok.cast("long"))
            .where(F.col("_n") > 0)
            # integer div — float '/' loses exactness above 2^53
            .withColumn("shard", F.expr(f"{id_col} div {shard_size}"))
            .select(id_col, "shard", "_n"))
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = F.lit(context_len)
    laid = (base
            .withColumn("_end_eff", F.sum(F.col("_n") + sep_tokens).over(w))
            .withColumn("_start", F.col("_end_eff") - F.col("_n") - sep_tokens)
            .withColumn("_doc_end", F.col("_start") + F.col("_n"))
            .withColumn("_packs", F.sequence(
                F.expr(f"_start div {context_len}"),
                F.expr(f"(_doc_end - 1) div {context_len}"))))
    seg_start = F.greatest(F.col("_start"), F.col("pack_id") * c)
    seg_end = F.least(F.col("_doc_end"), (F.col("pack_id") + 1) * c)
    return (laid
            .select(id_col, "shard", "_start", "_doc_end",
                    F.explode("_packs").alias("pack_id"))
            .select(F.col(id_col), F.col("shard"), F.col("pack_id"),
                    (seg_start - F.col("pack_id") * c).alias("pack_pos"),
                    (seg_end - seg_start).alias("n_tokens_in_pack")))


def sql_pack_sequences(table: str = "documents", *, context_len: int,
                       shard_size: int = 1024, sep_tokens: int = 1,
                       n_tokens_expr: str | None = None,
                       text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB oracle twin of :func:`pack_sequences`."""
    n = (n_tokens_expr or
         rf"len(list_filter(string_split_regex(trim({text_col}), '\s+'),"
         rf" t -> t <> ''))")
    return rf"""
WITH b AS (
  SELECT {id_col}, ({id_col} // {shard_size})::BIGINT AS shard,
         ({n})::BIGINT AS n
  FROM {table} WHERE ({n}) > 0),
laid AS (
  -- DuckDB SUM(BIGINT) is HUGEINT: cast back so range()/arith stay BIGINT
  SELECT {id_col}, shard, n,
         CAST(SUM(n + {sep_tokens}) OVER (PARTITION BY shard ORDER BY {id_col}
           ROWS UNBOUNDED PRECEDING) - n - {sep_tokens} AS BIGINT) AS s
  FROM b),
seg AS (
  SELECT {id_col}, shard, s, s + n AS e,
         unnest(range(s // {context_len}, (s + n - 1) // {context_len} + 1))
           AS pack_id
  FROM laid)
SELECT {id_col}, shard, pack_id,
       greatest(s, pack_id * {context_len}) - pack_id * {context_len}
         AS pack_pos,
       least(e, (pack_id + 1) * {context_len})
         - greatest(s, pack_id * {context_len}) AS n_tokens_in_pack
FROM seg
"""


def cdc_chunks(docs: DataFrame, *, k: int = 8, boundary_bits: int = 6,
               min_size: int = 16, text_col: str = "text",
               id_col: str = "doc_id",
               hash_family: str = "xxhash64") -> DataFrame:
    """Content-defined chunking (LBFS/rsync-style): cut after character
    ``i`` when the 60-bit hash of the k-gram ending at ``i`` is ≡ 0 mod
    ``2^boundary_bits`` (expected chunk ≈ ``2^boundary_bits`` chars) and
    the current chunk already has ``min_size`` chars. Boundaries depend
    only on LOCAL content, so an insertion near the start of a document
    re-chunks O(1) chunks instead of shifting every fixed-size window —
    the property that makes CDC the standard unit for storage-level dedup
    of crawl snapshots. No max-size clamp (a max makes eligibility
    stateful in a way the oracle's candidate-fold can't replay; oversized
    chunks can be re-cut downstream with :func:`chunk_documents`).

    One aggregate fold per document, every array in ARGUMENT position
    (CLAUDE.md CollapseProject rule), zero shuffle. Returns
    ``(id_col, chunk_idx, n_chars, chunk_md5)``.
    """
    if k < 2 or boundary_bits < 1 or min_size < 1:
        raise ValueError(f"bad {k=} {boundary_bits=} {min_size=}")
    from ..functions import phash
    from .staging import as_leaves
    from .winnow import seq1
    mod = 1 << boundary_bits

    def hash_fn(s: Column) -> Column:
        if hash_family == "md5":
            return phash.phash60(s)
        if hash_family == "xxhash64":
            return F.xxhash64(s).bitwiseAND(F.lit((1 << 60) - 1))
        raise ValueError(f"unknown hash family {hash_family!r}")

    # text is a LEAF attribute, so substr inside the lambdas below is safe
    # (nothing expensive can be inlined into them); the candidate list is
    # tiny (~n/2^boundary_bits), so the accept fold's array appends are
    # cheap — the earlier per-character fold rebuilt the chunk string per
    # char, O(n²), measured 34 s → ~1 s at sf0.1
    t = F.col(text_col)
    n = F.length(t)
    cands = F.filter(
        seq1(n).cast("array<long>"),
        lambda i: (i >= k)
        & (F.pmod(hash_fn(t.substr(i - k + 1, F.lit(k))), F.lit(mod)) == 0))
    empty_l = F.array().cast("array<long>")
    init = F.struct(F.lit(0).cast("long").alias("last"),
                    empty_l.alias("bounds"))
    accepted = F.aggregate(
        cands, init,
        lambda acc, x: F.when(
            x - acc["last"] >= min_size,
            F.struct(x.alias("last"),
                     F.concat(acc["bounds"], F.array(x)).alias("bounds")))
        .otherwise(acc),
        lambda acc: F.when(
            (F.size(acc["bounds"]) == 0)
            | (F.element_at(acc["bounds"], -1) != n.cast("long")),
            F.concat(acc["bounds"], F.array(n.cast("long"))))
        .otherwise(acc["bounds"]))
    staged = as_leaves(docs.where(n > 0), [id_col, text_col], _b=accepted)
    tt = F.col(text_col)
    prev = lambda j: F.when(j == 1, F.lit(0).cast("long")) \
                      .otherwise(F.element_at(F.col("_b"), j - 1))  # noqa: E731
    segs = F.transform(
        seq1(F.size("_b")),
        lambda j: F.struct(
            (F.element_at(F.col("_b"), j) - prev(j)).alias("n_chars"),
            F.md5(tt.substr((prev(j) + 1).cast("int"),
                            (F.element_at(F.col("_b"), j) - prev(j))
                            .cast("int"))).alias("chunk_md5")))
    return (staged
            .select(F.col(id_col), F.posexplode(segs).alias("chunk_idx", "_s"))
            .select(id_col,
                    F.col("chunk_idx").cast("long").alias("chunk_idx"),
                    F.col("_s.n_chars").alias("n_chars"),
                    F.col("_s.chunk_md5").alias("chunk_md5")))


def sql_cdc_chunks(rel: str = "documents", *, k: int = 8,
                   boundary_bits: int = 6, min_size: int = 16,
                   text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB oracle twin of :func:`cdc_chunks` (md5 family): candidate
    cut positions by the same k-gram hash rule, then a min-size-respecting
    accept fold via ``list_reduce`` (no-init engine → ``list_prepend`` a
    zero sentinel, the CLAUDE.md idiom)."""
    mod = 1 << boundary_bits
    return rf"""
WITH d AS (SELECT {id_col}, {text_col} AS t, len({text_col}) AS n
           FROM {rel} WHERE len({text_col}) > 0),
cand AS (
  SELECT {id_col}, t, n,
         list_filter(range({k}, n + 1),
           i -> ('0x' || substr(md5(substr(t, i - {k} + 1, {k})), 1, 15))
                  ::BIGINT % {mod} = 0) AS cands
  FROM d),
acc AS (
  SELECT {id_col}, t, n,
         list_reduce(
           list_prepend({{'last': CAST(0 AS BIGINT), 'bounds': []::BIGINT[]}},
             list_transform(cands,
               p -> {{'last': p, 'bounds': []::BIGINT[]}})),
           (a, x) -> CASE WHEN x.last - a.last >= {min_size}
                          THEN {{'last': x.last,
                                 'bounds': list_append(a.bounds, x.last)}}
                          ELSE a END) AS r
  FROM cand),
fb AS (
  SELECT {id_col}, t,
         CASE WHEN len(r.bounds) = 0 OR r.bounds[-1] <> n
              THEN list_append(r.bounds, n) ELSE r.bounds END AS bounds
  FROM acc),
seg AS (
  SELECT {id_col}, t, bounds, unnest(range(1, len(bounds) + 1)) AS j
  FROM fb)
SELECT {id_col}, (j - 1)::BIGINT AS chunk_idx,
       (bounds[j] - CASE WHEN j = 1 THEN 0 ELSE bounds[j - 1] END)::BIGINT
         AS n_chars,
       md5(substr(t, CASE WHEN j = 1 THEN 0 ELSE bounds[j - 1] END + 1,
                  bounds[j] - CASE WHEN j = 1 THEN 0 ELSE bounds[j - 1] END))
         AS chunk_md5
FROM seg
"""


def sql_chunk_documents(table: str = "documents", *, size: int = 16,
                        overlap: int = 4, text_col: str = "text",
                        id_col: str = "doc_id") -> str:
    """DuckDB oracle twin of :func:`chunk_documents` (kept adjacent so the
    two formulations cannot drift); ``chunk_text`` is md5-compressed by the
    gate caller, not here."""
    stride = size - overlap
    return rf"""
WITH d AS (
  SELECT {id_col},
         list_filter(string_split_regex(trim({text_col}), '\s+'),
                     t -> t <> '') AS toks
  FROM {table}),
s AS (SELECT {id_col}, toks, len(toks) AS n FROM d WHERE len(toks) > 0)
SELECT {id_col},
       (start // {stride})::BIGINT AS chunk_idx,
       least({size}, n - start)::BIGINT AS n_tokens,
       array_to_string(toks[start + 1 : least(start + {size}, n)], ' ')
         AS chunk_text
FROM (SELECT {id_col}, toks, n, unnest(range(0, n, {stride})) AS start FROM s)
"""
