"""Pure-Python unit tests for the SQL pre-pass (no Spark)."""

from __future__ import annotations

import pytest

from vinum_spark.sqlprep.naming import output_column_names
from vinum_spark.sqlprep.rewrite import rewrite_sql


class TestNaming:
    def test_aliases(self):
        assert output_column_names("select a as x, b y from t") == ["x", "y"]

    def test_bare_columns(self):
        assert output_column_names("select a, tbl.b from t") == ["a", "b"]

    def test_function_names(self):
        assert output_column_names(
            "select count(*), sum(x), np.log(x) from t"
        ) == ["count_star", "sum", "np.log"]

    def test_unnamed_expressions(self):
        assert output_column_names("select a+1, 2*b, c from t") == [
            "col_0",
            "col_1",
            "c",
        ]

    def test_duplicate_suffixes(self):
        assert output_column_names("select sum(a), sum(b), sum(c) from t") == [
            "sum",
            "sum_1",
            "sum_2",
        ]

    def test_star_returns_none(self):
        assert output_column_names("select * from t") is None

    def test_nested_call_spans(self):
        assert output_column_names("select to_int(np.sin(x)) from t") == ["to_int"]
        # call + trailing arithmetic is NOT a pure call
        assert output_column_names("select sum(x) + 1 from t") == ["col_0"]


class TestRewrites:
    def test_null_comparisons(self):
        out, _ = rewrite_sql("select * from t where a = NULL and b != null")
        assert "IS NULL" in out and "IS NOT NULL" in out

    def test_xor(self):
        out, _ = rewrite_sql("select a # b from t")
        assert "^" in out and "#" not in out

    def test_modulo_np_mod_form(self):
        # bind-once lambda form: each operand appears exactly once, the
        # divisor-sign correction is a conditional add (never overflows).
        out, _ = rewrite_sql("select a % 3 from t")
        assert "named_struct('a', a, 'b', 3)" in out
        assert "MOD(__vs_m.a, __vs_m.b)" in out
        assert out.count("'b', 3") == 1  # divisor evaluated once

    def test_modulo_nested_grows_linearly(self):
        out, _ = rewrite_sql("select a % b % c from t")
        # each operand of the chain appears exactly once in the rewrite
        assert out.count("'b', b)") == 1
        assert out.count("'b', c)") == 1

    def test_concat_operator_null_semantics(self):
        out, _ = rewrite_sql("select a || b from t")
        assert "COALESCE(CAST(a AS STRING), 'None')" in out

    def test_casts(self):
        out, _ = rewrite_sql("select to_int(a), to_float(b), to_str(c), to_bool(d) from t")
        for ty in ("BIGINT", "DOUBLE", "STRING", "BOOLEAN"):
            assert f"AS {ty})" in out

    def test_variadic_cast_explodes(self):
        out, _ = rewrite_sql("select to_int('1','2') from t")
        assert out.startswith("select EXPLODE(ARRAY(")

    def test_np_flattening_reports_arity(self):
        from vinum_spark.functions.udf import lowered_sql

        sql = "select np.log(x), np.power(x, 2) from t"
        out, np_funcs = rewrite_sql(sql)
        assert ("np.log", 1) in np_funcs and ("np.power", 2) in np_funcs
        assert "np_log_a1(x)" in out and "np_power_a2(x, 2)" in out
        # with the lowering hook np.log renders as a Catalyst expression;
        # np.power (integer power) stays a flattened pandas UDF
        out, np_funcs = rewrite_sql(sql, lower=lowered_sql)
        assert np_funcs == {("np.power", 2)}
        assert "LN((x))" in out and "np_log" not in out
        assert "np_power_a2(x, 2)" in out

    def test_np_agg_remap(self):
        out, np_funcs = rewrite_sql("select np.sum(x), np.min(x) from t")
        assert "SUM(x)" in out and "MIN(x)" in out
        assert not np_funcs

    def test_nulls_last_appended(self):
        out, _ = rewrite_sql("select a from t order by a desc, b limit 2")
        assert out.count("NULLS LAST") == 2

    def test_window_order_by_untouched(self):
        out, _ = rewrite_sql(
            "select rank() over (partition by a order by b) from t"
        )
        assert "NULLS" not in out

    def test_having_without_groupby_becomes_where(self):
        out, _ = rewrite_sql("select a from t having a > 1")
        assert "WHERE" in out and "HAVING" not in out.upper().replace("WHERE", "")

    def test_having_with_agg_kept(self):
        out, _ = rewrite_sql("select sum(a) from t having sum(a) > 1")
        assert "having" in out.lower()

    def test_double_quoted_identifiers(self):
        out, _ = rewrite_sql('select "id" from t')
        assert "`id`" in out

    def test_user_udf_shadows_builtin(self):
        out, _ = rewrite_sql("select concat(a, b) from t", udf_names={"concat"})
        assert out == "select concat(a, b) from t"

    def test_is_busday(self):
        out, _ = rewrite_sql("select is_busday(d) from t")
        assert "WEEKDAY" in out

    def test_limit_comma_form(self):
        out, _ = rewrite_sql("select a from t order by a limit 5, 2")
        assert "LIMIT" in out.upper() and "OFFSET 2" in out
        out2, _ = rewrite_sql("select a from t limit 5")
        assert "OFFSET" not in out2

    def test_distinct_args_still_templated(self):
        out, np_funcs = rewrite_sql("select count(DISTINCT to_int(x)) from t")
        assert "CAST(x AS BIGINT)" in out and "DISTINCT" in out
        out2, np_funcs2 = rewrite_sql("select count(DISTINCT np.floor(x)) from t")
        assert "np_floor_a1" in out2 and ("np.floor", 1) in np_funcs2

    def test_reversed_null_comparison(self):
        out, _ = rewrite_sql("select * from t where NULL = x")
        assert "x IS NULL" in out
        out2, _ = rewrite_sql("select * from t where null != f(x)")
        assert "IS NOT NULL" in out2 and "f(x)" in out2

    def test_case_end_concat(self):
        out, _ = rewrite_sql(
            "SELECT CASE WHEN a THEN b ELSE c END || 'x' FROM t"
        )
        assert "CONCAT(COALESCE(CAST(CASE" in out and "END AS STRING)" in out

    def test_unary_minus_modulo(self):
        # the unary minus must be absorbed into the dividend binding
        out, _ = rewrite_sql("SELECT -5 % 2 FROM t")
        assert "'a', - 5, 'b', 2" in out.replace("'a', -5", "'a', - 5")

    def test_extension_aggregates_recognized(self):
        # stddev counts as aggregation: HAVING stays HAVING
        out, _ = rewrite_sql("select stddev(x) as s from t having stddev(x) > 0")
        assert "having" in out.lower()

    def test_np_arity_qualified_names(self):
        out, np_funcs = rewrite_sql("select np.round(x), np.round(x, 2) from t")
        assert "np_round_a1(x)" in out and "np_round_a2(x, 2)" in out
        assert np_funcs == {("np.round", 1), ("np.round", 2)}

    def test_like_patterns_untouched(self):
        out, _ = rewrite_sql("select a from t where a like '%x_%'")
        assert "'%x_%'" in out
