"""Validation operators: PK duplicate detection (A1) and FK integrity (J1).

The reference holds PK/FK state in driver memory (reader.rb:652-708) — at
10^12 rows that OOMs; here both are set-level operators:

- PK check: two-phase hash aggregation ``groupBy(pk).count().filter(>1)``
  (partial+final, map-side combined, skew-safe).
- FK check: ``left_anti`` join of referencing keys against referenced keys;
  Catalyst/AQE picks broadcast vs sort-merge and splits skewed partitions.
  Duplicate referenced keys are errors too (reader.rb:698-700).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import expr as S
from ..csvw.metadata import CompiledTable, ForeignKey
from .cells import cell_errors_expr, cell_values


def _first_values(cells_df: DataFrame, columns: dict[str, str]) -> DataFrame:
    """alias -> schema column: each column's first lexical value."""
    return cells_df.selectExpr(*[
        S.try_element_at(cell_values(name), S.lit(1))["lex"].alias(alias).sql
        for alias, name in columns.items()])


def _keys(names: list[str]) -> dict[str, str]:
    return {f"k{i}": name for i, name in enumerate(names)}


def pk_violations(cells_df: DataFrame, table: CompiledTable) -> DataFrame:
    """Rows of (pk..., n) for primary-key values appearing more than once."""
    if not table.primary_key:
        return cells_df.sparkSession.createDataFrame([], "pk string, n long")
    return (
        _first_values(cells_df, {n: n for n in table.primary_key})
        .groupBy(*table.primary_key)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def fk_violations(
    referencing_cells: DataFrame, fk: ForeignKey, referenced_cells: DataFrame
) -> DataFrame:
    """Referencing key tuples with no match in the referenced table
    (left-anti equi-join), plus non-unique referenced keys."""
    keys = [f"k{i}" for i in range(len(fk.column_reference))]
    lhs = _first_values(referencing_cells, _keys(fk.column_reference))
    # a null referencing key imposes no constraint (the reference only
    # checks rows whose FK cells have values)
    for k in keys:
        lhs = lhs.filter(F.col(k).isNotNull())
    rhs = _first_values(referenced_cells, _keys(fk.referenced_columns))
    return lhs.join(rhs.distinct(), on=keys, how="left_anti")


def fk_duplicate_targets(referenced_cells: DataFrame, fk: ForeignKey) -> DataFrame:
    rhs = _first_values(referenced_cells, _keys(fk.referenced_columns))
    keys = [f"k{i}" for i in range(len(fk.referenced_columns))]
    return rhs.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)


def cell_errors(cells_df: DataFrame, table: CompiledTable) -> DataFrame:
    """The C11 error channel: one row per (row, column, error)."""
    arrays = []
    for col in table.columns:
        arrays.append(
            S.transform(
                cell_errors_expr(col),
                lambda e: S.struct(
                    S.col("_row").alias("row"),
                    S.col("_sourceRow").alias("source_row"),
                    S.lit(col.name).alias("column"),
                    e.alias("error"),
                ),
            )
        )
    combined = S.concat(*arrays) if len(arrays) > 1 else arrays[0]
    return (
        cells_df.selectExpr(S.explode(combined).alias("e").sql)
        .select("e.row", "e.source_row", "e.column", "e.error")
    )
