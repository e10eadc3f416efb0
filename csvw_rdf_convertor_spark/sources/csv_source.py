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

Scale note: the scan stays in the input's own splits, with no shuffle.
The prefix skip is narrow: a line is dropped when it lies in the file's
first split (``input_file_block_start() = 0``) and its position in that
split is below ``skipRows + headerRowCount``, so the prefix must fit in the
first split (Spark splits from 4 MB at default settings). Headers are a
per-file concept: multi-file datasets pass ``skipRows=0`` with driver-side
headers. ``file_order_row`` numbers the rows 1..N in file order at any split
count, paying one narrow count job when the scan has several splits.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..spec import DialectSpec, TableSpec

#: ``monotonically_increasing_id()`` holds the partition index in its upper
#: 31 bits and the row's position within the partition in these lower 33
_POSITION = (1 << 33) - 1


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
        if len(df.inputFiles()) > 1:
            raise ValueError(
                "skipRows/header prefix skipping needs a single input file: "
                "a partition can pack several small files, so a line's "
                "position in its split is not its position in its file — "
                "pass pre-stripped multi-file data with skipRows=0, "
                "header=false")
        position = F.monotonically_increasing_id().bitwiseAND(_POSITION)
        df = df.where((F.input_file_block_start() != 0)
                      | (position >= skip_total))

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


def file_order_row(df: DataFrame) -> Column:
    """The 1-based number of each row of a single-file ``read_csv`` frame in
    file order (the reference's sequential rowNum, convertor.ts:360-370),
    as a Column to add to ``df`` itself.

    A row's position within its partition is the low bits of
    ``monotonically_increasing_id()``; one partition needs nothing more. A
    scan of several splits (one partition each, in file order) adds each
    partition's start: the JVM's ``zipWithIndex`` counts the rows of every
    partition but the last in one narrow job when it is built (PySpark's
    would start a Python worker per task)."""
    rows = df.select()._jdf.queryExecution().toRdd()
    position = F.monotonically_increasing_id().bitwiseAND(_POSITION) + 1
    if rows.getNumPartitions() < 2:
        return position
    starts = [p.startIndex() for p in rows.zipWithIndex().partitions()]
    return position + F.element_at(F.array(*map(F.lit, starts)),
                                   F.spark_partition_id() + 1)
