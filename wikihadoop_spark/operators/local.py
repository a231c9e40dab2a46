"""Small driver-built frames as ``LocalRelation`` plans.

A Python-list ``createDataFrame`` parallelizes its rows into an RDD, so
the plan leaf is a ``LogicalRDD`` (``Scan ExistingRDD``): every query
over it schedules a task that deserializes the pickled rows in a Python
worker.  Handing Spark an Arrow table instead yields a ``LocalRelation``
(``LocalTableScan``) for anything under
``spark.sql.execution.arrow.localRelationThreshold``: the rows live in
the plan, the optimizer sizes them exactly, and a join broadcasts them
with no Python task (a 30-row frame grouped into a noop sink, 4 cores:
0.39 s from a list, 0.13 s from Arrow).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, columns: Sequence[Sequence], schema: StructType
) -> DataFrame:
    """A frame holding ``columns`` (one sequence of values per field of
    ``schema``, all of one length) as a ``LocalRelation``, typed and
    nullable exactly as ``schema`` says; empty columns give an empty
    frame."""
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
