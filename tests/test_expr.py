"""SQL-text expression renderer (rdf_tabular_spark/expr.py).

Literals must survive Spark's string unescaping byte for byte, and nested
lambdas must never capture an enclosing lambda's variable or a column."""

from __future__ import annotations

import math

from rdf_tabular_spark import expr as S

STRINGS = ["plain", "it's", "back\\slash", "\\%_", "tab\tcr\rlf\n",
           "nul\x00del\x7f", "é‰€😀", "[\r\n\t]", r"^([+-])\s+$", "'\\'"]


def test_literals_round_trip(spark):
    values = STRINGS + [0, -7, 2**40, 1.5, -0.25, 1e300, float("inf"),
                        float("-inf"), True, False, None]
    row = spark.range(1).selectExpr(
        *[S.lit(v).alias(f"v{i}").sql for i, v in enumerate(values)]
    ).collect()[0]
    for i, v in enumerate(values):
        assert row[f"v{i}"] == v, (v, row[f"v{i}"])
    nan = spark.range(1).selectExpr(S.lit(float("nan")).alias("n").sql)
    assert math.isnan(nan.collect()[0]["n"])


def test_regex_literals_match_as_written(spark):
    e = S.regexp_replace(S.lit("a \t b"), r"\s+", " ")
    assert spark.range(1).selectExpr(e.alias("r").sql).first()["r"] == "a b"


def test_nested_lambdas_keep_their_variables(spark):
    # the inner lambda's body reads the outer variable and a column
    # literally named like a lambda variable
    e = S.transform(S.array(1, 2), lambda x: S.transform(
        S.array(10, 20), lambda y: x + y + S.col("_x0")))
    assert "_x0 ->" not in e.sql
    df = spark.range(1).selectExpr("3 AS _x0")
    assert df.selectExpr(e.alias("r").sql).first()["r"] == [
        [14, 24], [15, 25]]


def test_case_and_let(spark):
    v = S.lit("b")
    e = S.let_(S.upper(v), lambda u: S.when(u == "A", 1).when(u == "B", 2)
               .otherwise(None))
    assert spark.range(1).selectExpr(e.alias("r").sql).first()["r"] == 2
