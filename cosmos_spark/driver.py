"""The driver-side hops the engine allows itself: a bounded probe that
brings a provably small relation to the driver, and driver rows that go
back into a plan as literals (a key set) or as a local relation.

Each replaces a cost that a naive hop pays per call or per consumer:
``limit(n).collect()`` runs several jobs, ``Column.isin`` makes one py4j
call per key, and ``createDataFrame`` over a row list plans a Python RDD
that every consuming job re-runs in a Python worker.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import types as T


def bounded_rows(df: DataFrame, cap: int) -> list[Row]:
    """Up to ``cap + 1`` rows of ``df``, read in one Spark job; more than
    ``cap`` rows back means ``df`` overflows ``cap`` (the caller then takes
    its distributed path).

    ``limit(n).collect()`` plans a ``CollectLimit`` that Spark runs as
    ``executeTake``: it scans 1, then 4, then 16, ... partitions, one job
    per round, until it holds n rows — so a probe that needs every row of
    an 8-partition input runs 3 jobs. Read as Arrow, the same limit runs
    as one job (a local limit per partition, then one single-partition
    exchange). The rows keep ``collect()``'s shape: attribute access and
    tuple unpacking, lists for arrays."""
    table = df.limit(cap + 1).toArrow()
    row = Row(*table.column_names)
    return [row(*vals)
            for vals in zip(*(c.to_pylist() for c in table.columns))]


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal under the default parser
    (``spark.sql.parser.escapedStringLiterals=false``, where a backslash
    escapes the next character)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def in_keys(col: str, keys: Iterable[str | None]) -> Column:
    """``col IN (keys)`` over string keys, parsed from one SQL text in one
    py4j call. ``Column.isin`` makes one py4j call per key: at 10k keys
    it took 2.9 s to build, where this takes 7 ms plus 0.16 s of parsing
    when the query is planned (local[4]). The plan is the same ``In`` (an
    ``InSet`` past 10 keys), so it still pushes down to a parquet scan.
    NULL keys are dropped (``x IN (NULL)`` never holds), and an empty key
    set is the literal ``false``, which Catalyst folds into an empty
    relation."""
    lits = sorted({_sql_string(k) for k in keys if k is not None})
    if not lits:
        return F.lit(False)
    return F.expr(f"`{col}` IN ({', '.join(lits)})")


def local_relation(spark: SparkSession, rows: list[tuple],
                   names: tuple[str, ...],
                   dtype: T.DataType = T.StringType()) -> DataFrame:
    """Driver-side rows of ``names`` columns, all of type ``dtype`` (a
    canonical mapping, a list of deleted files, a component mapping over
    long or string node ids), as a JVM LocalRelation. They go over as one
    Arrow table, which plans as ``LocalTableScan`` even when empty; a row
    list (and an empty pandas frame, which skips Arrow) plans as ``Scan
    ExistingRDD`` over a Python RDD that every consuming job re-runs in a
    Python worker."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    cols = list(zip(*rows)) if rows else [()] * len(names)
    atype = to_arrow_type(dtype)
    return spark.createDataFrame(
        pa.table({n: pa.array(c, atype) for n, c in zip(names, cols)}),
        T.StructType([T.StructField(n, dtype) for n in names]))
