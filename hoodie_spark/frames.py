"""Driver-side frames as JVM ``LocalRelation``s.

The package often plans a handful of rows on the driver (the insert-bucket
plan, bloom candidates, live file groups, procedure results, offsets) and
joins a Spark frame against them. ``spark.createDataFrame(list, schema)``
turns such a list into a pickled Python RDD, so every evaluation of the
plan forks Python workers only to unpickle it. :func:`local_frame` sends
the rows over as one Arrow batch instead: the plan holds a
``LocalRelation``, the optimizer can fold or broadcast it, and no Python
worker runs. It is the package's one way to build a frame from driver
rows.
"""

from __future__ import annotations

from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(spark: SparkSession, rows: Iterable,
                schema: str | T.StructType) -> DataFrame:
    """A DataFrame of ``rows`` (tuples or ``Row``s, positional in field
    order) with ``schema`` (a DDL string or a ``StructType``), planned as
    a ``LocalRelation``. Schema, rows and value semantics match
    ``spark.createDataFrame(list(rows), schema)``."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    width = len(schema.fields)
    internal = []
    for r in rows:
        if len(r) != width:
            raise ValueError(f"row {r!r} has {len(r)} values; schema "
                             f"{schema.simpleString()} has {width} fields")
        # PySpark's own conversion, the one the pickled path applies: a
        # naive datetime becomes epoch microseconds in process-local time
        # (Arrow would read it as UTC), a nested Row a tuple
        internal.append(schema.toInternal(r))
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*internal)) if internal else [()] * width
    arrays = [pa.array(col, type=f.type)
              for col, f in zip(columns, arrow_schema)]
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema)
