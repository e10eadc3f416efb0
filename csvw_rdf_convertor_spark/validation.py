"""Spec-level validation (reference: packages/core/src/lib/validation/
{schema,column,datatype,foreign-key}.ts) and the ``Issue`` record.

Validation is driver-side (it inspects the mapping spec, not data) and
returns a list of issues. Descriptor property VALUES are judged earlier, in
one walk, by ``descriptor_norm.sanitize_descriptor``; hard errors (duplicate
names, virtual ordering) raise in ``spec.parse_*``. Row-level checks
(required cells, FK existence) run distributed — ``plans.csvw2rdf.issues``
and the J5 anti-join.
"""

from __future__ import annotations

from dataclasses import dataclass

from .spec import DATATYPE_URIS, NUMERIC_TYPES, TableGroupSpec, TableSpec


@dataclass(frozen=True)
class Issue:
    level: str          # 'error' | 'warning'
    table: str
    location: str
    message: str


def validate_table(table: TableSpec) -> list[Issue]:
    issues: list[Issue] = []
    names = {c.name for c in table.columns}

    # primaryKey columns must exist (validation/schema.ts:41-50)
    for pk in table.primaryKey:
        if pk not in names:
            issues.append(Issue("error", table.url, f"primaryKey/{pk}",
                                f"primary key column {pk!r} is not defined"))

    for col in table.columns:
        loc = f"column/{col.name}"
        base = col.datatype.base
        if base not in DATATYPE_URIS:
            issues.append(Issue("error", table.url, loc,
                                f"unknown datatype base {base!r}"))
        # virtual columns must produce something (column-description rules)
        if col.virtual and not (col.valueUrl or col.propertyUrl or col.aboutUrl):
            issues.append(Issue("error", table.url, loc,
                                "virtual column needs aboutUrl/propertyUrl/valueUrl"))
        # length facets only apply to length-valued types
        if (col.datatype.length is not None or col.datatype.minLength is not None
                or col.datatype.maxLength is not None) and base in NUMERIC_TYPES:
            issues.append(Issue("error", table.url, loc,
                                "length facets are invalid on numeric types"))
        # numeric facets only on ordered value spaces
        if col.datatype.minimum is not None and base not in NUMERIC_TYPES \
                and base not in ("date", "dateTime", "datetime", "time",
                                 "dateTimeStamp", "duration"):
            issues.append(Issue("error", table.url, loc,
                                f"minimum/maximum facet is invalid for {base!r}"))
        if col.separator is not None and base in ("json",):
            issues.append(Issue("warning", table.url, loc,
                                "separator on json cells is undefined behavior"))
        if col.ordered and col.separator is None:
            issues.append(Issue("warning", table.url, loc,
                                "ordered=true has no effect without separator"))
    return issues


def validate_foreign_keys(group: TableGroupSpec,
                          foreign_keys: list[dict] | None = None) -> list[Issue]:
    """Descriptor-level FK wiring check (validation/foreign-key.ts:29-77):
    referencing columns exist locally, referenced resource is a known table
    and its columns exist. (Row-level existence = left_anti join, see J5.)"""
    issues: list[Issue] = []
    tables = {t.url: t for t in group.tables}
    for fk in foreign_keys or []:
        src = fk.get("table", "")
        cols = fk.get("columnReference", [])
        cols = [cols] if isinstance(cols, str) else cols
        ref = fk.get("reference", {})
        ref_table = ref.get("resource", "")
        ref_cols = ref.get("columnReference", [])
        ref_cols = [ref_cols] if isinstance(ref_cols, str) else ref_cols
        if src not in tables:
            issues.append(Issue("error", src, "foreignKey",
                                f"unknown referencing table {src!r}"))
            continue
        src_names = {c.name for c in tables[src].columns}
        for c in cols:
            if c not in src_names:
                issues.append(Issue("error", src, f"foreignKey/{c}",
                                    f"referencing column {c!r} not defined"))
        if ref_table not in tables:
            issues.append(Issue("error", src, "foreignKey/reference",
                                f"unknown referenced table {ref_table!r}"))
            continue
        ref_names = {c.name for c in tables[ref_table].columns}
        for c in ref_cols:
            if c not in ref_names:
                issues.append(Issue("error", src, f"foreignKey/reference/{c}",
                                    f"referenced column {c!r} not defined"))
        if len(cols) != len(ref_cols):
            issues.append(Issue("error", src, "foreignKey",
                                "columnReference arity mismatch"))
    return issues


def validate_group(group: TableGroupSpec,
                   foreign_keys: list[dict] | None = None) -> list[Issue]:
    out: list[Issue] = []
    for t in group.tables:
        out.extend(validate_table(t))
    out.extend(validate_foreign_keys(group, foreign_keys))
    return out
