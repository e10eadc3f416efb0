"""Driver-built DataFrames as JVM-local relations.

``spark.createDataFrame(list_of_rows, ddl)`` plans as a ``LogicalRDD`` over a
pickled ``ParallelCollectionRDD``: every action on it starts one Python worker
task per default-parallelism slice, even for zero rows, to unpickle the rows.
A Python worker task has a fixed cost whatever it does (about 0.2 CPU s with
Spark 4.1 and Python 3.11 on a 4-core x86 host).
An Arrow table instead plans as a ``LocalRelation`` the JVM reads itself, so
metadata-sized frames (dictionaries, canonical maps, parsed fixture graphs,
empty side outputs) cost no Python task at all. This is the package's one
``createDataFrame`` call; ``tests/test_local_frame.py`` keeps it that way.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string


def local_frame(spark: SparkSession, rows: Sequence[Sequence], ddl: str
                ) -> DataFrame:
    """``rows`` (tuples in ``ddl`` column order) → a DataFrame with the schema
    ``ddl`` parses to, the same one ``spark.createDataFrame(rows, ddl)``
    gives, planned as a ``LocalRelation``."""
    schema = _parse_datatype_string(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
