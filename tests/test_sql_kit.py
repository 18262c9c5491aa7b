"""Drift fence for the SQL-expression kit (tempo_spark/functions/sql.py).

The kit is the one place that quotes identifiers, escapes string
literals, renders OVER clauses and defines the 1e-6 grid. These tests pin
its two grid renders to each other (same optimized plan, same values) and
scan the package source so a local quoter, escaper or quantizer cannot
creep back in anywhere else.
"""

import ast
import io
import re
import tokenize
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from tempo_spark.functions.sql import (
    double_lit,
    grid6,
    grid6_key,
    grid6_sql,
    ident,
    over_sql,
    str_lit,
)

PKG = Path(__file__).resolve().parent.parent / "tempo_spark"
KIT = PKG / "functions" / "sql.py"

# checked on source with comments and docstrings stripped
FORBIDDEN = {
    "1e6 floor quantization": re.compile(
        r"floor\s*\((?:(?!floor).){0,160}?(?:1e6|1_000_000|1000000)", re.S
    ),
    "backtick-doubling replace": re.compile(
        r"""replace\s*\(\s*["']`["']\s*,\s*["']``["']"""
    ),
    "quote-escaping replace": re.compile(
        r"""replace\s*\(\s*(?:"'"|'\\''|"\\\\"|'\\\\')"""
    ),
}


def _code(path: Path) -> str:
    """The module's tokens, minus comments and docstrings (bare string
    statements), joined by spaces."""
    src = path.read_text()
    doc_lines = set()
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            doc_lines.update(range(node.lineno, node.end_lineno + 1))
    return " ".join(
        tok.string
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type != tokenize.COMMENT and tok.start[0] not in doc_lines
    )


def _plan(df) -> str:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "", text)


@pytest.fixture(scope="module")
def vals(spark):
    rows = [
        (1.2345678,), (float("nan"),), (None,), (-1.9999996,), (0.0000005,),
        (-0.0000005,), (2.5e-7,), (123456.7890125,),
    ]
    return spark.createDataFrame(rows, "v double")


class TestGridRenders:
    @pytest.mark.parametrize(
        "column, sql",
        [
            (lambda: grid6("v"), grid6_sql(ident("v"))),
            (lambda: grid6(F.col("v") * 2 - 1), grid6_sql("v * 2 - 1")),
            (lambda: grid6(F.col("v").cast("float")), grid6_sql("cast(v as float)")),
        ],
    )
    def test_column_and_sql_renders_plan_identically(self, vals, column, sql):
        a = vals.select(column().alias("g"))
        b = vals.select(F.expr(sql).alias("g"))
        assert _plan(a) == _plan(b)
        assert a.collect() == b.collect()

    def test_values_nan_and_null_quantize_to_null(self, vals):
        got = [r.g for r in vals.select(grid6("v").alias("g")).collect()]
        assert got[:5] == [1.234568, None, None, -2.0, 1e-6]
        assert got[5] == 0.0 and got[6] == 0.0  # half-up: floor(x*1e6+0.5)
        assert got[7] == 123456.789013

    @pytest.mark.parametrize("dtype", ["timestamp", "timestamp_ntz", "date", "bigint"])
    def test_ts_double_renders_plan_identically(self, spark, dtype):
        from pyspark.sql.types import _parse_datatype_string

        from tempo_spark.functions.timestamps import ts_double_sql, ts_to_double

        src = "id * 86400 + 1" if dtype == "bigint" else "timestamp_seconds(id * 86400 + 1)"
        df = spark.range(3).selectExpr(f"cast({src} as {dtype}) AS t")
        dt = _parse_datatype_string(dtype)
        a = df.select(ts_to_double(F.col("t"), dt).alias("d"))
        b = df.select(F.expr(ts_double_sql(ident("t"), dt)).alias("d"))
        assert _plan(a) == _plan(b)
        assert a.collect() == b.collect()

    def test_key_is_the_scaled_grid(self, vals):
        both = vals.select(grid6("v").alias("g"), grid6_key("v").alias("k"))
        assert both.dtypes == [("g", "double"), ("k", "bigint")]
        for r in both.collect():
            assert (r.g is None) == (r.k is None)
            if r.k is not None:
                assert r.k / 1e6 == r.g


class TestQuotingAndLiterals:
    @pytest.mark.parametrize("name", ["plain", "a`b", "``", "it's", "sp ace", "x.y"])
    def test_ident_round_trips(self, spark, name):
        df = spark.createDataFrame([(7,)], "v int").withColumnRenamed("v", name)
        assert df.selectExpr(f"{ident(name)} AS out").first().out == 7

    @pytest.mark.parametrize("s", ["plain", "it's", "back\\slash", "a`b", "\\'", "tab\there"])
    def test_str_lit_round_trips(self, spark, s):
        assert spark.range(1).select(F.expr(str_lit(s)).alias("s")).first().s == s

    def test_double_lit(self, spark):
        for x in (0.1, -123456.789e-3, 2.0 ** -40, 1e-17, 3):
            got = spark.range(1).select(F.expr(double_lit(x)).alias("d")).first().d
            assert got == float(x)
        with pytest.raises(ValueError):
            double_lit(float("nan"))

    def test_over_sql(self):
        assert over_sql() == "OVER ()"
        assert over_sql(["`k`"]) == "OVER (PARTITION BY `k`)"
        assert (
            over_sql(["`k`", "b"], ["t ASC", "s DESC"], "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW")
            == "OVER (PARTITION BY `k`, b ORDER BY t ASC, s DESC ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)"
        )
        assert over_sql(order=["t ASC"]) == "OVER (ORDER BY t ASC)"


class TestSourceFence:
    def test_no_local_quoter_escaper_or_quantizer(self):
        hits = []
        for path in sorted(PKG.rglob("*.py")):
            if path == KIT:
                continue
            code = _code(path)
            for what, rx in FORBIDDEN.items():
                for m in rx.finditer(code):
                    hits.append(f"{path.relative_to(PKG)}: {what}: {m.group(0)[:80]!r}")
        assert not hits, "\n".join(hits)

    def test_fence_sees_the_kit_definitions(self):
        """The patterns match the kit's own bodies — a fence that matches
        nothing would pass vacuously."""
        code = _code(KIT)
        for what, rx in FORBIDDEN.items():
            assert rx.search(code), what

    def test_no_private_sql_helpers_shared_across_modules(self):
        private = {"_qn", "_q", "_grid6_sql", "_hardened_round6", "_sql_str", "_fmt_d"}
        hits = [
            f"{p.relative_to(PKG)}: {a.name}"
            for p in PKG.rglob("*.py")
            for node in ast.walk(ast.parse(p.read_text()))
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.name in private
        ]
        assert not hits
        assert not (PKG / "functions" / "grid.py").exists()
