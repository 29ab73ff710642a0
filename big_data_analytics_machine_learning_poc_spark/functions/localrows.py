"""Driver-local row lists → DataFrames without the parallelize fan-out.

``SparkSession.createDataFrame(list_of_rows, ddl)`` ships the rows through
a pickled Python RDD sliced into ``defaultParallelism`` partitions — for a
4-row metrics/audit frame at local[32] that is 32 Python-worker round
trips (~250 ms measured, r13 jobprof) on EVERY job that evaluates the
frame: the final collect, each broadcast build, a sort's range-sampling
pass. On a real cluster it is strictly worse: the slices are scheduled
across executors just to unpickle a handful of literal rows (guide §4:
the Python boundary is per-task, so don't multiply tasks for driver-size
data).

``local_rows_df`` keeps the same (rows, DDL schema) call shape but routes
through pandas + Arrow when enabled — the rows cross to the JVM as one
columnar batch, and a collect of the resulting frame never launches a
Python worker — and uses a ONE-slice pickled RDD when Arrow is off. No
rows means an empty RDD, which has no partitions and so no tasks.
Semantics match ``createDataFrame(rows, ddl)``: values are coerced to the
declared types, column order is the schema's. Use it for frames built
from driver-local rows — collected metrics, audit rows, per-partition
carries, file/seq maps, the small generated ML fixtures — never for input
too large to hold on the driver.

A failed Arrow conversion is not swallowed here: ``createDataFrame`` then
warns and takes its own non-Arrow path (or raises, when
``spark.sql.execution.arrow.pyspark.fallback.enabled`` is false), so the
slow pickled path never comes back without a warning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_rows_df(spark: SparkSession, rows, ddl: str | T.StructType) -> DataFrame:
    """Small driver-local ``rows`` (list of tuples) as a DataFrame under
    the DDL (or StructType) schema, minimizing per-job task fan-out
    (module docstring)."""
    rows = list(rows)
    schema = T.StructType.fromDDL(ddl) if isinstance(ddl, str) else ddl
    sc = spark.sparkContext
    if not rows:
        return spark.createDataFrame(sc.emptyRDD(), schema)
    if spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false") == "true":
        import pandas as pd

        # dtype=object keeps ints with NULLs from becoming NaN floats;
        # Arrow casts each column to the declared type on conversion
        pdf = pd.DataFrame(rows, columns=[f.name for f in schema.fields], dtype=object)
        return spark.createDataFrame(pdf, schema=schema)
    return spark.createDataFrame(sc.parallelize(rows, 1), schema)
