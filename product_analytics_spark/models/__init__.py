"""Reference-pipeline parity models (SURVEY.md §2, M5).

``dim_customer`` here is the flagship driver-table analog of the
reference gold model; ``cdc_models`` holds the faithful
bronze->silver->gold CDC pipeline over FIXTURES.md-shaped inputs.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def select_list(*items: str | tuple[str, Column]) -> tuple[tuple[str, ...], object]:
    """``(names, columns)`` of a select list whose items are column
    names (passed through) or ``(name, Column)`` pairs (aliased);
    ``columns`` is the list's JVM Seq. The CDC models build their
    lists once per session (``cache.py`` ``model_columns``): applying
    one with :func:`select` is then one py4j call, where
    ``df.select(*cols)`` makes one per column to rebuild the Seq, and
    the names let the next stage's list name this one's output."""
    names = tuple(i if isinstance(i, str) else i[0] for i in items)
    cols = [F.col(i) if isinstance(i, str) else i[1].alias(i[0]) for i in items]
    jvm = SparkContext._active_spark_context._jvm
    return names, jvm.PythonUtils.toSeq([c._jc for c in cols])


def select(df: DataFrame, columns) -> DataFrame:
    """``df.select`` over the ``columns`` Seq of a :func:`select_list`."""
    return DataFrame(df._jdf.select(columns), df.sparkSession)
