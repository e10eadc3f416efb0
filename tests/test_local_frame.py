"""``sources.local.local_frame``: driver-side rows → a JVM-local DataFrame
equal to ``spark.createDataFrame(rows, ddl)``, and the package's only way to
build one."""

from __future__ import annotations

from pathlib import Path

import pytest

import csvw_rdf_convertor_spark
from csvw_rdf_convertor_spark.functions.terms import TRIPLE_DDL
from csvw_rdf_convertor_spark.sources.local import local_frame

#: every DDL the package passes to local_frame
PACKAGE_DDLS = [
    TRIPLE_DDL,
    "line string",
    "table string, row long, column string, message string",
    "pred string, merged_dtype string",
    "entity_id string, alias string",
    "node string, comp string",
    "node string, canonical string",
]


def _rows(ddl: str, n: int) -> list[tuple]:
    """``n`` rows for ``ddl``; every third cell is None."""
    types = [f.split()[1] for f in ddl.split(", ")]
    return [tuple(None if (i + j) % 3 == 0 else
                  (i * 7 + j if t == "long" else f"v{i}-{j} é\n\"")
                  for j, t in enumerate(types))
            for i in range(n)]


@pytest.mark.parametrize("n", [0, 5])
@pytest.mark.parametrize("ddl", PACKAGE_DDLS)
def test_local_frame_equals_create_dataframe(spark, ddl, n):
    rows = _rows(ddl, n)
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_local_frame_spans_arrow_batches(spark):
    """More rows than one Arrow record batch holds (10,000 by default)."""
    rows = _rows(TRIPLE_DDL, 25_000)
    got = local_frame(spark, rows, TRIPLE_DDL)
    assert got.count() == len(rows)
    assert got.exceptAll(spark.createDataFrame(rows, TRIPLE_DDL)).isEmpty()


def test_no_create_dataframe_outside_local_frame():
    """``spark.createDataFrame(list, ddl)`` plans a Python-RDD scan that costs
    a Python worker task per slice; the package builds driver-side frames
    with ``local_frame`` only."""
    root = Path(csvw_rdf_convertor_spark.__file__).parent
    helper = root / "sources" / "local.py"
    offenders = [str(p.relative_to(root)) for p in sorted(root.rglob("*.py"))
                 if p != helper and "createDataFrame(" in p.read_text("utf-8")]
    assert not offenders, offenders
