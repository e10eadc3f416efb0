"""Dialect-aware CSV scan (SURVEY.md S1).

The reference streams CSV through a dialect-configured parser
(packages/core/src/lib/csv-parser.ts:11-30; dialect model:
types/descriptor/dialect-description.ts:4-65). Spark's CSV datasource covers
most dialect options, but fixes the column count from the file's first line —
which breaks on CSVW's skipRows prefixes (arbitrary junk rows before the
header). So the scan is: distributed ``spark.read.text`` → comment filter →
prefix-row skip → ``from_csv`` with an explicit all-string schema. Every
step is a column expression; the CSV parsing itself runs JVM-side per line.

Dialect mapping:
  delimiter → sep, quoteChar → quote, doubleQuote → escape('"' vs '\\'),
  commentPrefix → line filter, encoding → text option, lineTerminators →
  lineSep, trim/skipInitialSpace → ignoreLeading/TrailingWhiteSpace,
  skipRows+headerRowCount → prefix filter, skipColumns → positional select,
  skipBlankRows → all-empty filter.

Scale note: the prefix skip needs a global row index (one window). Header
prefixes are a single-file concern — large multi-file datasets pass
``skipRows=0`` with driver-side headers and the window is skipped entirely.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..spec import DialectSpec, TableSpec


def _parse_options(d: DialectSpec) -> dict[str, str]:
    opts: dict[str, str] = {"sep": d.delimiter, "mode": "PERMISSIVE"}
    if d.quoteChar:
        opts["quote"] = d.quoteChar
        opts["escape"] = d.quoteChar if d.doubleQuote else "\\"
    else:
        opts["quote"] = chr(0)  # disable quoting
    if d.skipInitialSpace or d.trim in (True, "true", "start"):
        opts["ignoreLeadingWhiteSpace"] = "true"
    if d.trim in (True, "true", "end"):
        opts["ignoreTrailingWhiteSpace"] = "true"
    return opts


@functools.lru_cache(maxsize=64)
def _projection(names: tuple[str, ...], skip_columns: int,
                options: tuple[tuple[str, str], ...]
                ) -> tuple[Column, tuple[Column, ...]]:
    """The ``from_csv`` record and the named cells taken from it, built once
    per process for each table shape: a recurring table (a web service's
    repeated descriptor) pays no py4j call to rebuild them."""
    schema = ", ".join(f"`_c{i}` string"
                       for i in range(len(names) + skip_columns))
    record = F.from_csv(F.col("value"), schema, dict(options)).alias("r")
    return record, tuple(F.col(f"r._c{i + skip_columns}").alias(name)
                         for i, name in enumerate(names))


def read_csv(spark: SparkSession, path: str, table: TableSpec) -> DataFrame:
    """Distributed dialect-aware scan → one string column per (non-skipped)
    physical column, named by the table spec's column names."""
    d = table.dialect
    text_opts = {}
    if len(d.lineTerminators) == 1:
        text_opts["lineSep"] = d.lineTerminators[0]
    if d.encoding and d.encoding.lower() not in ("utf-8", "utf8"):
        # .codec: Node label → java.nio charset name ('utf16le' → 'UTF-16LE')
        text_opts["encoding"] = d.codec
    df = spark.read.options(**text_opts).text(path)

    if d.commentPrefix:
        df = df.where(~F.col("value").startswith(d.commentPrefix))

    skip_total = d.skipRows + d.header_row_count
    if skip_total:
        # global prefix skip: a window over the file order — valid only for
        # a SINGLE file (header prefixes are a per-file concept, and the
        # window is a one-partition sort). Multi-file datasets must arrive
        # pre-stripped (skipRows=0, header=false); guard so the fixture path
        # can't silently ship on a big scan (VERDICT r01 "what's wrong" #4).
        if len(df.inputFiles()) > 1:
            raise ValueError(
                "skipRows/header prefix skipping needs a single input file: "
                "the global row-order window is a one-partition sort and "
                "per-file header semantics don't extend across files — "
                "pass pre-stripped multi-file data with skipRows=0, "
                "header=false")
        w = Window.orderBy(F.monotonically_increasing_id())
        df = (df.withColumn("__idx", F.row_number().over(w))
              .where(F.col("__idx") > skip_total).drop("__idx"))

    # physical columns are named by their *source* name (the title-derived
    # physical identity) — the spec's RDF-facing `name` may be percent-
    # encoded (header-driven naming) and the mapping stage resolves cells
    # via col.source first
    names = tuple(c.source or c.name for c in table.columns if not c.virtual)
    record, cols = _projection(names, d.skipColumns,
                               tuple(_parse_options(d).items()))
    out = df.select(record).select(*cols)

    if d.skipBlankRows:
        non_blank = None
        for c in out.columns:
            cond = F.col(c).isNotNull() & (F.col(c) != "")
            non_blank = cond if non_blank is None else (non_blank | cond)
        if non_blank is not None:
            out = out.where(non_blank)
    return out
