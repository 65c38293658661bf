"""The exact-match numeric rules are written once: half-up rounding is
``catalog.half_up`` and matches DuckDB's ``floor(x·10ⁿ + 0.5) / 10ⁿ``
bit for bit, and the vector folds exist only as SQL text."""

from __future__ import annotations

import ast
import pathlib

import duckdb
import pytest

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "wd2duckdb_spark"

#: binary ties at 2/4/6 dp, their negatives, zero, NULL, NaN and a
#: value whose scaled form needs the full long range at 6 dp
VALUES = [
    1.005,
    0.00125,
    2.675,
    -1.005,
    -0.00125,
    -2.675,
    0.5,
    -0.5,
    0.0,
    None,
    float("nan"),
    123456.789,
    1e12 + 0.123456,
    -1e12 - 0.5,
]


@pytest.mark.parametrize("digits", [2, 4, 6])
def test_half_up_matches_duckdb(spark, digits):
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    from wd2duckdb_spark.catalog import half_up, local_frame

    df = local_frame(spark, [(i, v) for i, v in enumerate(VALUES)], "i int, x double")
    out = df.select("i", half_up(F.col("x"), digits).alias("r"))
    assert out.schema["r"].dataType == DoubleType()
    got = {r.i: r.r for r in out.collect()}
    want = {
        i: duckdb.execute(
            f"SELECT floor(?::DOUBLE * 10^{digits} + 0.5) / 10^{digits}", [v]
        ).fetchone()[0]
        for i, v in enumerate(VALUES)
    }
    assert {i: repr(v) for i, v in got.items()} == {
        i: repr(v) for i, v in want.items()
    }


def _is_half(node: ast.expr) -> bool:
    if isinstance(node, ast.Constant):
        return node.value == 0.5
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "lit"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == 0.5
    )


def _half_up_copies(tree: ast.AST) -> list[int]:
    """Lines of ``F.floor(<expr> + 0.5) / <constant>`` outside a
    function named ``half_up``."""
    allowed: set[int] = set()
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and fn.name == "half_up":
            allowed |= {id(n) for n in ast.walk(fn)}
    found = []
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.BinOp)
            and isinstance(n.op, ast.Div)
            and isinstance(n.right, ast.Constant)
            and isinstance(n.left, ast.Call)
            and isinstance(n.left.func, ast.Attribute)
            and n.left.func.attr == "floor"
            and isinstance(n.left.func.value, ast.Name)
            and n.left.func.value.id == "F"
            and len(n.left.args) == 1
            and isinstance(n.left.args[0], ast.BinOp)
            and isinstance(n.left.args[0].op, ast.Add)
            and _is_half(n.left.args[0].right)
            and id(n) not in allowed
        ):
            found.append(n.lineno)
    return found


def test_numeric_rules_written_once():
    """No Column-API half-up rounding outside ``catalog.half_up``, and
    no Column-API vector fold in ``similarity``."""
    copies = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        lines = _half_up_copies(ast.parse(path.read_text()))
        if lines:
            copies[str(path.relative_to(PACKAGE))] = lines
    assert copies == {}
    sim = ast.parse((PACKAGE / "functions" / "similarity.py").read_text())
    defined = {n.name for n in sim.body if isinstance(n, ast.FunctionDef)}
    assert defined & {"dot", "norm", "cosine", "_sqdist"} == set()
