"""csvw2rdf: compile a TableSpec over a DataFrame into a triples DataFrame.

The reference walks rows one at a time on a single Node thread
(csvw2rdf/convertor.ts:611-806: convertTableRow → convertRowCell →
emitTriple). Here the whole table compiles into ONE declarative plan:

    scan → row numbering → per-column cell exprs (P1–P10)
         → per-column array<triple-struct> (T1–T4, T6)
         → one wide→long ``explode(flatten(...))`` (T5)
         → union standard-mode scaffolding (T7) → triples DF

All branching on the mapping spec happens at plan-build time; the executed
plan is a straight projection inside whole-stage codegen. It is staged only
where a measured codegen limit needs it (``_compile``): the cell pipeline's
projections, the typed-segment ``observe()`` breaks and stage 3.5's lexical
and invalid columns; the triple arrays are built inside the one explode.
The only shuffle a table conversion can introduce is the optional global
``row_number`` (used for small fixture parity); at scale, numbering is
partitioned by a grouping key (e.g. ``conv_id``) or taken from an existing
ordinal column.

Building that plan is a Python↔JVM round trip per Column, thousands per
table, while the plan itself only names the columns it reads. So a
conversion is compiled once per process for each key (the spec, the input's
column names and the options: ``_compile``, a small LRU) into stages of
Columns, and each call replays the stages on its own DataFrame. The web
service's requests share one descriptor under a fresh temp-dir URL each; the
key leaves the URL out whenever no expression reads it (``_reads_url``).
"""

from __future__ import annotations

import functools
import itertools
from dataclasses import dataclass, field, replace
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cells
from ..functions.terms import (TRIPLE_DDL, iri_object, literal_object, skolem,
                               triple)
from ..functions.uritemplate import (compile_template, template_reads_base,
                                     variables)
from ..sources.local import local_frame
from ..spec import (CSVW, RDF, XSD, ColumnSpec, TableSpec, expand_iri,
                    iri_reads_base)

RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"
RDF_TYPE = RDF + "type"

#: the 1-based logical row number; a frame that already carries it keeps it
ROW = "__row"
_SRC_ROW = "__source_row"
_EMPTY_TRIPLES = "array<struct<subj:string,pred:string,obj_lex:string,obj_kind:string,obj_dtype:string,obj_lang:string,graph:string>>"



def _resolve_url(table: TableSpec) -> str:
    return expand_iri(table.url, table.base) if table.base else table.url


def _row_number(table: TableSpec, partition_by: str | None = None) -> Column:
    """The 1-based logical row number (reference rowNum:
    convertor.ts:360-370) of a frame that does not carry ``ROW``.

    ``order_by`` column → deterministic numbering; with ``partition_by`` the
    sort is per-partition (scale path, no global shuffle to one reducer).
    Without ``order_by`` the plan CONSUMES row numbers it cannot define:
    the reference's rowNum is the sequential 1..N source order, which only
    the scan knows, so this raises: the CLI gives such frames ``ROW`` from
    ``csv_source.file_order_row``.
    """
    if not table.order_by:
        raise ValueError(
            "this conversion consumes row numbers (standard mode, default "
            "subjects, ordered lists, or {_row}/{_sourceRow} templates) but "
            "the table has no order_by column; set one via spec.with_order, "
            f"or give the frame its file-order row numbers as {ROW!r} "
            "(csv_source.file_order_row; reference rowNum is sequential "
            "1..N — convertor.ts:360-370)")
    if partition_by:
        w = Window.partitionBy(partition_by).orderBy(table.order_by)
    else:
        w = Window.orderBy(table.order_by)
    return F.row_number().over(w).cast("long")


def needs_row_numbers(table: TableSpec, minimal: bool) -> bool:
    """Row numbering costs a sort (an ``order_by`` window) or, for a file's
    own order, a count job over a scan of several splits — add it only
    when something consumes it: standard-mode scaffolding, a default (no
    aboutUrl) subject, an ordered-list skolem, or a template referencing the
    ``_row``/``_sourceRow`` specials. Streaming plans (no monotonic ids) and
    the transcripts hot path then stay fully stateless."""
    if not minimal:
        return True
    from ..functions.uritemplate import variables as _vars
    for col in table.columns:
        if col.suppressOutput:
            continue
        if not col.aboutUrl:
            return True
        if col.separator is not None and col.ordered:
            return True
        for tpl in (col.aboutUrl, col.propertyUrl, col.valueUrl):
            if tpl and "{" in tpl and _vars(tpl) & {"_row", "_sourceRow"}:
                return True
    return False


def _default_subject(table_url: str) -> Column:
    """Per-row default cell subject (fresh bnode in the reference,
    convertor.ts:683 → deterministic skolem of (table, row))."""
    return skolem(table_url, "cellsubj", F.col(ROW))


def _row_node(table_url: str) -> Column:
    """Standard-mode row node (convertor.ts:619)."""
    return skolem(table_url, "row", F.col(ROW))


def _predicate(col: ColumnSpec, table: TableSpec, record: dict[str, Column]) -> Column:
    """T3: propertyUrl template, else ``tableUrl#name`` (convertor.ts:760-762)."""
    url = _resolve_url(table)
    if col.propertyUrl:
        if "{" in col.propertyUrl:
            return compile_template(col.propertyUrl, record, base=url)
        return F.lit(expand_iri(col.propertyUrl, url))
    return F.lit(f"{url}#{col.name}")


def _object_parts(col: ColumnSpec, lex: Column, inv: Column,
                  table: TableSpec, record: dict[str, Column]):
    """T4 over a value's stripped lexical form and its invalid flag:
    valueUrl ⇒ IRI object (even for typed columns); else literal with
    datatype/lang; invalid values demoted to plain string (P10,
    convertor.ts:772-805, 923-939). A scalar cell passes its stage-3.5
    attributes, a list item ``cells.strip_invalid``/``cells.is_invalid`` of
    itself."""
    url = _resolve_url(table)
    if col.valueUrl:
        rec = dict(record)
        rec[col.name] = lex
        if "{" in col.valueUrl:
            return iri_object(compile_template(col.valueUrl, rec, base=url))
        return iri_object(F.lit(expand_iri(col.valueUrl, url)))
    dtype_iri = col.datatype.iri
    dtype = F.when(inv, F.lit(XSD + "string")).otherwise(F.lit(dtype_iri))
    lang = F.lit(col.lang or "") if dtype_iri == XSD + "string" else F.lit("")
    lang = F.when(inv, F.lit("")).otherwise(lang)
    return literal_object(lex, dtype, lang)


def _column_triples(col: ColumnSpec, values: Column, table: TableSpec,
                    record: dict[str, Column],
                    subjects: dict[str | None, Column],
                    scalar: tuple[Column, Column] | None) -> Column:
    """array<triple-struct> for one column of one row (≤1 per value; a chain
    of 2·n+1 for ordered lists, T6 convertor.ts:836-854). ``scalar``: a
    scalar column's staged (lexical, invalid) attributes."""
    url = _resolve_url(table)
    if col.aboutUrl in subjects:
        subj = subjects[col.aboutUrl]
    else:
        subj = (compile_template(col.aboutUrl, record, base=url)
                if col.aboutUrl else _default_subject(url))
    pred = _predicate(col, table, record)

    def item_parts(item: Column):
        return _object_parts(col, cells.strip_invalid(item),
                             cells.is_invalid(item), table, record)

    if col.separator is None:
        # scalar cell (the overwhelmingly common case): exactly one element
        out = F.array(triple(subj, pred,
                             *_object_parts(col, *scalar, table, record)))
    elif col.ordered:
        # RDF collection: head link + first/rest chain of skolemized nodes
        node = lambda i: skolem(url, "list", col.name, F.col(ROW), i)  # noqa: E731
        n = F.size(values)
        head = triple(subj, pred,
                      F.when(n == 0, F.lit(RDF_NIL)).otherwise(node(F.lit(0))),
                      F.when(n == 0, F.lit("iri")).otherwise(F.lit("bnode")),
                      F.lit(""), F.lit(""))
        firsts = F.transform(values, lambda x, i: triple(
            node(i), F.lit(RDF_FIRST), *item_parts(x)))
        rests = F.transform(values, lambda x, i: triple(
            node(i), F.lit(RDF_REST),
            F.when(i == n - 1, F.lit(RDF_NIL)).otherwise(node(i + 1)),
            F.when(i == n - 1, F.lit("iri")).otherwise(F.lit("bnode")),
            F.lit(""), F.lit("")))
        out = F.concat(F.array(head), firsts, rests)
    else:
        out = F.transform(values, lambda x: triple(subj, pred, *item_parts(x)))

    # null cell (NULL array) → no triples
    return F.when(values.isNull(), F.array().cast(_EMPTY_TRIPLES)).otherwise(out)


#: stage-break name source; ``next`` on a count is atomic under the GIL, so
#: the web service's request threads never share a name
_BREAK_SEQ = itertools.count(1)
#: max typed (parts-staged) columns per codegen segment — 5 measured ≈7.2 KB
#: of the 8 KB JIT method budget on the lineitem mix (see _codegen_stage_break)
_TYPED_PER_SEGMENT = 5
#: compiled conversions a process keeps, least recently used evicted first
_PROGRAMS_KEPT = 32

#: a compiled stage: a DataFrame method and its arguments; this one, with
#: no method, is a ``_codegen_stage_break``
_BREAK: tuple = (None, ())


@functools.cache
def _break_metric() -> Column:
    return F.count(F.lit(1)).alias("rows")


def _codegen_stage_break(df: DataFrame) -> DataFrame:
    """Split the fused mapping stage into two WholeStageCodegen segments.

    The cell pipeline + triple fan-out compile into ONE generated consume
    method; past ~4 typed columns its bytecode exceeds the JVM JIT's
    8000-byte DontCompileHugeMethods limit (measured maxMethodCodeSize 8430
    on a 4-column table), so the stage *compiles* (janino is happy, the
    plan still prints ``*(n)``) but executes in the BYTECODE INTERPRETER —
    a silent ~2× the frozen bench conf cannot flag. ``observe`` inserts a
    CollectMetrics node, which does not participate in whole-stage codegen,
    so the parse half and the template/fan-out half each compile into their
    own JIT-compilable method. Cost: one row hand-off between segments and
    a count accumulator — measured well under the JIT win (r6).

    The observation name must be unique within a query. A compiled program
    is replayed for every table that shares its key, two same-schema tables
    of one TableGroup included, so the name is drawn here, each time a
    program is applied, never when it is compiled: a replayed name fails
    the union with ``DUPLICATED_METRICS_NAME``. It carries no data."""
    return df.observe(f"__csvw2rdf_cg_break_{next(_BREAK_SEQ)}",
                      _break_metric())


def _staged_explode(arrays: list[Column],
                    passthrough: list[Column]) -> list[tuple]:
    """Stages exploding the concatenation of per-row triple arrays into one
    triple row each (T5): one Generate over ``flatten(array(*arrays))``,
    then the struct's fields as columns.

    The arrays are built inside the Generate's own expression, off attributes
    the earlier stages materialized. Measured with
    ``tests/test_plan_shape._max_method_bytes``: the 8-column mixed table's
    explode stage is 2,457 B against the JIT's 8,000 B limit, and at 32
    columns 9,418 B minimal and 12,124 B standard, never the plan's largest
    stage. A Generate barrier per array (a single-row ``explode(array(arr))``
    each) made them 1,762, 11,875 and 13,171 B, cost one more eagerly
    analysed select per array, and on wide tables ran Generates outside
    whole-stage codegen (5 of 17 at 16 columns, all 33 at 32), so there is
    none."""
    flat = F.flatten(F.array(*arrays)) if len(arrays) > 1 else arrays[0]
    return [("select", (*passthrough, F.explode(flat).alias("t"))),
            ("select", (*passthrough, F.col("t.*")))]


def _reads_url(table: TableSpec, minimal: bool) -> bool:
    """Whether any expression of the conversion reads the table URL (and so
    its base). Standard mode always does (row and table nodes, csvw:url);
    minimal mode only through a default subject, an ordered list's nodes, a
    column without ``propertyUrl`` (``<url>#name``), or a URL or template
    that resolves against it."""
    if not minimal:
        return True
    for col in table.columns:
        if col.suppressOutput:
            continue
        if (not col.aboutUrl or not col.propertyUrl
                or (col.separator is not None and col.ordered)
                or template_reads_base(col.aboutUrl)):
            return True
        for tpl in (col.propertyUrl, col.valueUrl):
            if tpl and (template_reads_base(tpl) if "{" in tpl
                        else iri_reads_base(tpl)):
                return True
    return False


@dataclass(frozen=True)
class _Key:
    """What a compiled conversion depends on. The spec enters as its repr,
    without ``notes`` (no expression reads them) and without ``url`` and
    ``base`` when no expression reads them: the web service puts every
    request's table under a fresh temp-dir URL."""
    spec: str
    columns: tuple[str, ...]
    minimal: bool
    partition_by: str | None
    default_lang: str
    passthrough: tuple[str, ...]
    #: the spec compiled on a miss; any spec with an equal key compiles alike
    table: TableSpec = field(compare=False)


class _Program(NamedTuple):
    """A compiled table conversion: the stages that take an input frame to
    its triples and, in standard mode, the stages that make the table's own
    triples from ``spark.range(1)`` and its T8 external triples."""
    stages: tuple[tuple, ...]
    table_stages: tuple[tuple, ...] = ()
    external: tuple = ()


def _replay(df: DataFrame, stages: tuple[tuple, ...]) -> DataFrame:
    for method, args in stages:
        df = (_codegen_stage_break(df) if method is None
              else getattr(df, method)(*args))
    return df


def table_to_triples(df: DataFrame, table: TableSpec, *, minimal: bool = True,
                     partition_by: str | None = None,
                     default_lang: str = "",
                     passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Compile and run the full table conversion; returns the triples DF.

    The conversion is compiled once per process for each key (the spec, the
    input's column names and the options; see ``_Key``) and replayed on each
    DataFrame: a compiled program is only Columns, which name the columns
    they read, so building it again for a recurring spec would repeat
    thousands of identical py4j calls per conversion."""
    if table.suppressOutput:
        return local_frame(df.sparkSession, [], TRIPLE_DDL)
    unread = {} if _reads_url(table, minimal) else {"url": "", "base": ""}
    spec = replace(table, notes=None, **unread)
    prog = _compile(_Key(repr(spec), tuple(df.columns), minimal, partition_by,
                         default_lang, tuple(passthrough), table))
    out = _replay(df, prog.stages)
    if prog.table_stages:
        spark = df.sparkSession
        out = out.unionByName(_replay(spark.range(1), prog.table_stages))
        if prog.external:
            out = out.unionByName(local_frame(spark, prog.external, TRIPLE_DDL))
    return out


@functools.lru_cache(maxsize=_PROGRAMS_KEPT)
def _compile(key: _Key) -> _Program:
    """Compile one table conversion into stages of Columns.

    Plan shape (performance-critical): the cell pipeline, the row-record
    bindings, and the per-aboutUrl subject IRIs are materialized as real
    columns in *separate* projections, so each is evaluated ONCE per row and
    downstream expressions reference cheap attributes. Inlining everything
    into the final explode duplicates the whole cell pipeline per column
    (O(n_cols²) expression tree → codegen blowout / interpreted fallback;
    measured ~20× slower on a 7-column table). CollapseProject keeps these
    projections separate because the producer expressions are non-cheap and
    multiply referenced.

    The stages: row numbering if needed, 1a cell norms, the parse
    intermediates and cell parses in segments behind stage breaks, 2 the
    row record, 3 the subjects, 3.5 the scalar columns' lexical and invalid
    flags, then the explode (``_staged_explode``). The 8-column mixed table
    of a web-service request compiles into 12.
    """
    table, minimal = key.table, key.minimal
    url = _resolve_url(table)
    star = F.col("*")
    stages: list[tuple] = []
    has_row = needs_row_numbers(table, minimal)
    if has_row:
        if ROW not in key.columns:
            stages.append(("withColumn",
                           (ROW, _row_number(table, key.partition_by))))
        stages.append(("withColumn", (_SRC_ROW, F.col(ROW) + F.lit(
            table.source_row_offset))))

    # stage 1: P1–P10 per column → array<string> columns (evaluated once),
    # in TWO projections: 1a materializes the normalized cell string (P1+P2),
    # 1b runs the datatype parse over that attribute. The parsers reference
    # the normalized value many times; with 1a inlined the duplicated
    # subtrees push the single generated doConsume method past janino's
    # 64 KB bytecode limit and the whole mapping silently falls back to
    # interpreted execution (~11× slower, measured on lineitem).
    # CollapseProject keeps 1a/1b separate: the norm producers are non-cheap
    # and multiply referenced.
    cell_col: dict[str, str] = {}
    stage1a, stage1b = [], []
    parts_groups: list[list[Column]] = []   # one group per TYPED column
    typed_cells: set[int] = set()           # stage1b indices of typed cols
    for i, col in enumerate(table.columns):
        cname = f"__cell_{i}"
        cell_col[col.name] = cname
        if col.virtual:
            # virtual column: no physical cell; templates drive everything,
            # the "value" is the (constant) default ('' unless given)
            stage1b.append(F.array(F.lit(col.default)).alias(cname))
            continue
        src = col.source or col.name
        if src not in key.columns:
            raise KeyError(f"source column {src!r} for {col.name!r} not in DataFrame")
        nname = f"__norm_{i}"
        stage1a.append(cells.cell_norm(F.col(src), col).alias(nname))
        # stage 1a2: heavy parse intermediates (numeric core/flags/parsed
        # number, datetime ts/tz) as real columns — inlined, their subtrees
        # duplicate at every reference and ONE generated method (janino caps
        # methods at 64 KB) grows past the limit, silently demoting the
        # WHOLE fused mapping stage to interpreted execution (measured 5-10×)
        parts = cells.scalar_parse_parts(F.col(nname), col)
        if parts is not None:
            names = {}
            group = []
            for k, expr in parts.items():
                pname = f"__p{i}_{k}"
                group.append(expr.alias(pname))
                names[k] = pname
            parts_groups.append(group)
            typed_cells.add(len(stage1b))
            parts = {k: F.col(n) for k, n in names.items()}
        stage1b.append(
            cells.cell_values_from_norm(F.col(nname), col, parts).alias(cname))
    if stage1a:
        stages.append(("select", (star, *stage1a)))
    # Emit the parse intermediates and the cell parses in SEGMENTS of at
    # most _TYPED_PER_SEGMENT typed columns, each segment behind a
    # _codegen_stage_break: a segment's generated consume method must stay
    # under the JVM JIT's 8000-byte DontCompileHugeMethods limit (measured:
    # 5 typed columns' parts ≈ 6.8 KB, their parses ≈ 7.2 KB — one fused
    # method for the 7-column lineitem was 13.3 KB and ran in the bytecode
    # interpreter, ~2× slower, with nothing in the plan string to show it).
    # Untyped (string/boolean) cells are cheap and ride with any segment;
    # tables with NO typed columns get no break at all. On the 8-column
    # mixed table the largest segment is 7,632 B; without the breaks the
    # mapping fuses into one 13,603 B method (tests/test_plan_shape.py).
    if parts_groups:
        seg: list[Column] = []
        for gi, group in enumerate(parts_groups):
            seg.extend(group)
            if (gi + 1) % _TYPED_PER_SEGMENT == 0:
                stages += [("select", (star, *seg)), _BREAK]
                seg = []
        if seg:
            stages += [("select", (star, *seg)), _BREAK]
        seg, typed_in_seg = [], 0
        for bi, expr in enumerate(stage1b):
            seg.append(expr)
            if bi in typed_cells:
                typed_in_seg += 1
                if typed_in_seg == _TYPED_PER_SEGMENT:
                    stages += [("select", (star, *seg)), _BREAK]
                    seg, typed_in_seg = [], 0
        if seg:
            stages += [("select", (star, *seg)), _BREAK]
    else:
        stages.append(("select", (star, *stage1b)))

    # stage 2: row-record bindings (template variables) as columns
    rec_col: dict[str, str] = {}
    stage2 = []
    for i, col in enumerate(table.columns):
        rname = f"__rec_{i}"
        rec_col[col.name] = rname
        stage2.append(cells.strip_invalid(
            F.array_join(F.col(cell_col[col.name]), ",")).alias(rname))
    stages.append(("select", (star, *stage2)))
    record: dict[str, Column] = {n: F.col(c) for n, c in rec_col.items()}
    if has_row:
        record["_row"] = F.col(ROW).cast("string")
        record["_sourceRow"] = F.col(_SRC_ROW).cast("string")

    parsed: dict[str, Column] = {n: F.col(c) for n, c in cell_col.items()}

    # stage 3: one subject column per distinct aboutUrl template (templates
    # using per-column specials (_name/_column) fall back to inline exprs)
    subj_col: dict[str | None, str] = {}
    stage3 = []
    distinct_abouts = dict.fromkeys(
        c.aboutUrl for c in table.columns if not c.suppressOutput)
    for j, about in enumerate(distinct_abouts):
        if about and variables(about) & {"_name", "_column", "_sourceColumn"}:
            continue
        sname = f"__subj_{j}"
        subj_col[about] = sname
        expr = (compile_template(about, record, base=url) if about
                else _default_subject(url))
        stage3.append(expr.alias(sname))
    stages.append(("select", (star, *stage3)))
    subjects: dict[str | None, Column] = {k: F.col(v) for k, v in subj_col.items()}

    # stage 3.5: per scalar (non-separator) column, the stripped lexical and
    # invalid flag as real columns. The triple structs in the explode then
    # reference two cheap attributes instead of five copies of the
    # element_at/strip CASE tree: without them the 8-column mixed table's
    # explode stage is 9,080 B, past the JIT's 8,000 B limit, instead of
    # 2,457 B (tests/test_plan_shape.py), and at 32 columns 36,284 B
    # instead of 9,418 B.
    stage35 = []
    scalar_col: dict[str, tuple[str, str]] = {}
    for i, col in enumerate(table.columns):
        if col.suppressOutput or col.separator is not None:
            continue
        item = F.element_at(F.col(cell_col[col.name]), 1)
        stage35.append(cells.strip_invalid(item).alias(f"__lex_{i}"))
        stage35.append(cells.is_invalid(item).alias(f"__inv_{i}"))
        scalar_col[col.name] = (f"__lex_{i}", f"__inv_{i}")
    if stage35:
        stages.append(("select", (star, *stage35)))

    def _scalar(col: ColumnSpec) -> tuple[Column, Column] | None:
        names = scalar_col.get(col.name)
        return (F.col(names[0]), F.col(names[1])) if names else None

    per_col = [
        _column_triples(col, parsed[col.name], table,
                        {**record, "_name": F.lit(col.name),
                         "_column": F.lit(str(i + 1)),
                         "_sourceColumn": F.lit(str(i + 1 + table.dialect.skipColumns))},
                        subjects=subjects, scalar=_scalar(col))
        for i, col in enumerate(table.columns) if not col.suppressOutput
    ]

    if minimal:
        # passthrough columns (e.g. a pre-computed partition bucket) ride
        # through the explode so callers keep their partitioning without
        # re-deriving keys from 10× more triple rows
        passthrough = [F.col(c) for c in key.passthrough]
        stages += _staged_explode(
            per_col or [F.array().cast(_EMPTY_TRIPLES)], passthrough)
        return _Program(tuple(stages))

    # standard mode (T7): row scaffolding emitted from the same single pass
    row_node = _row_node(url)
    table_node = skolem(url, "table")
    scaffold = [
        F.array(
            triple(table_node, F.lit(CSVW + "row"), row_node, F.lit("bnode"), F.lit(""), F.lit("")),
            triple(row_node, F.lit(RDF_TYPE), F.lit(CSVW + "Row"), F.lit("iri"), F.lit(""), F.lit("")),
            triple(row_node, F.lit(CSVW + "rownum"), F.col(ROW).cast("string"),
                   F.lit("literal"), F.lit(XSD + "integer"), F.lit("")),
            triple(row_node, F.lit(CSVW + "url"),
                   F.concat(F.lit(url + "#row="), F.col(_SRC_ROW).cast("string")),
                   F.lit("iri"), F.lit(""), F.lit("")),
        )
    ]
    # T7 rowTitles → csvw:title (convertor.ts:650-667): each rowTitles entry
    # names a column; its row-record value becomes a (possibly language-
    # tagged) title literal, skipped when empty (the reference's truthy
    # check). Unknown names have no rowRecord entry → skipped at plan time.
    for title in table.rowTitles:
        rname = rec_col.get(title)
        if rname is None:
            continue
        col = next((c for c in table.columns if c.name == title), None)
        lang = (col.lang or "") if col else ""
        val = F.col(rname)
        t = triple(row_node, F.lit(CSVW + "title"), val,
                   F.lit("literal"), F.lit(""), F.lit(lang))
        scaffold.append(
            F.when(val.isNotNull() & (val != ""), F.array(t))
            .otherwise(F.array().cast(_EMPTY_TRIPLES)))

    # csvw:describes → each distinct subject of the row (deduped by template)
    seen: set[str] = set()
    for col in table.columns:
        if col.suppressOutput:
            continue
        about = col.aboutUrl or ""
        if about in seen:
            continue
        seen.add(about)
        if col.aboutUrl in subjects:
            subj = subjects[col.aboutUrl]
        elif col.aboutUrl:
            subj = compile_template(col.aboutUrl,
                                    {**record, "_name": F.lit(col.name)}, base=url)
        else:
            subj = _default_subject(url)
        kind = F.lit("iri") if col.aboutUrl else F.lit("bnode")
        scaffold.append(F.array(triple(row_node, F.lit(CSVW + "describes"), subj, kind,
                                       F.lit(""), F.lit(""))))

    stages += _staged_explode(per_col + scaffold, [])

    group_node_id = "_:skgroup"
    table_stages = tuple(_staged_explode([F.array(
        triple(table_node, F.lit(RDF_TYPE), F.lit(CSVW + "Table"), F.lit("iri"), F.lit(""), F.lit("")),
        triple(table_node, F.lit(CSVW + "url"), F.lit(url), F.lit("iri"), F.lit(""), F.lit("")),
        triple(F.lit(group_node_id), F.lit(RDF_TYPE), F.lit(CSVW + "TableGroup"), F.lit("iri"), F.lit(""), F.lit("")),
        triple(F.lit(group_node_id), F.lit(CSVW + "table"), table_node, F.lit("bnode"), F.lit(""), F.lit("")),
    )], []))

    # T8: external (non-CSVW) descriptor annotations on the table node
    external = ()
    if table.external:
        from ..functions.terms import skolem_value
        from .external_props import external_triples
        external = tuple(external_triples(
            table.external, skolem_value(url, "table"), base=url,
            default_lang=key.default_lang))
    return _Program(tuple(stages), table_stages, external)


def apply_template_iris(triples: DataFrame) -> DataFrame:
    """The reference's default ``templateIris: true`` post-pass
    (convertor.ts:1235-1243): IDN-decode hostnames + JS-decodeURI every IRI
    term (subjects, predicates, IRI objects; skolem bnodes untouched).

    On by default in the CLI and the web service (command.ts:55-59), opt-in
    in the engine API (encoded IRIs are join-stable and round-trip through
    NT serialization). JVM expressions only: two projections, the IDN half
    staged before the decode that reads it several times."""
    for projection in _template_iri_passes():
        triples = triples.withColumns(dict(projection))
    return triples


@functools.cache
def _template_iri_passes() -> tuple[tuple[tuple[str, Column], ...], ...]:
    """``apply_template_iris``'s two projections, built once per process:
    they depend on no spec."""
    from ..functions.uritemplate import decode_uri, idn_hosts
    is_iri = {"subj": ~F.col("subj").startswith("_:"), "pred": F.lit(True),
              "obj_lex": F.col("obj_kind") == "iri"}
    return tuple(tuple((c, F.when(cond, fn(F.col(c))).otherwise(F.col(c)))
                       for c, cond in is_iri.items())
                 for fn in (idn_hosts, decode_uri))


def group_to_triples(dfs: dict[str, DataFrame], group, *, minimal: bool = True,
                     default_lang: str = "") -> DataFrame:
    """Convert every (non-suppressed) table of a TableGroupSpec and union.

    Standard mode also re-emits group-scope external annotations on the
    group node (T8 at TableGroup scope; convertor.ts:177-211
    emitExternalProps(descriptor, groupNode))."""
    out: DataFrame | None = None
    spark = None
    for t in group.tables:
        if t.suppressOutput:
            continue
        spark = dfs[t.url].sparkSession
        part = table_to_triples(dfs[t.url], t, minimal=minimal)
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("no unsuppressed tables")
    if not minimal and getattr(group, "external", ()):
        from .external_props import external_triples
        ext = external_triples(group.external, "_:skgroup",
                               base=group.base, default_lang=default_lang)
        if ext:
            out = out.unionByName(local_frame(spark, ext, TRIPLE_DDL))
    return out


def required_columns(table: TableSpec) -> list[ColumnSpec]:
    """The columns whose every cell ``issues`` checks: the required
    non-virtual ones. A table without any needs no scan to validate."""
    return [c for c in table.columns if c.required and not c.virtual]


def issues(df: DataFrame, table: TableSpec) -> DataFrame:
    """Side-output issues DF: required-cell violations with (table,row,column)
    location (reference: utils/issue-tracker.ts:34-126). Rows are located by
    the frame's ``ROW`` or, without it, by the table's ``order_by``."""
    cols = required_columns(table)
    if not cols:
        return local_frame(df.sparkSession, [],
                           "table string, row long, column string, message string")
    if ROW not in df.columns:
        df = df.withColumn(ROW, _row_number(table))
    checks = [F.when(
        cells.required_violation(F.col(col.source or col.name), col),
        F.struct(F.lit(table.url).alias("table"), F.col(ROW).alias("row"),
                 F.lit(col.name).alias("column"),
                 F.lit("required cell is null").alias("message")))
        for col in cols]
    arr = F.array_compact(F.array(*checks))
    return df.select(F.explode(arr).alias("i")).select("i.*")
