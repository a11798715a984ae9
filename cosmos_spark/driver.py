"""The two driver-side hops the engine allows itself: a bounded probe that
brings a provably small relation to the driver, and a key set that goes
back into a plan as literals.

Both replace a per-call cost that grows with the input on the driver, not
in the executors: ``limit(n).collect()`` runs several jobs, and
``Column.isin`` makes one py4j call per key.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Row


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
