"""The derived-GROUP-BY-key reduction (plans/agg_split.py).

Shape gates of the single-block parser, semantics (incl. NULL
group keys and ordinals), and the engine integration's fall-back
contract.
"""

from __future__ import annotations

import pytest

from cowsdb_spark.plans.agg_split import parse_single_groupby, reduce_group_keys


@pytest.fixture(scope="module")
def t(spark):
    rows = [
        ("a", "u1", 1, "mm"),
        ("a", "u2", 2, "zz"),
        ("b", "u1", 3, "aa"),
        (None, "u3", 4, "qq"),  # NULL group key must survive the rewrite
        (None, "u3", 5, "pp"),
    ]
    df = spark.createDataFrame(rows, "k string, s string, n long, v string")
    df.createOrReplaceTempView("agg_split_t")
    return df


def _assert_same_rows(spark, sql, rewritten):
    base = spark.sql(sql)
    got = spark.sql(rewritten)
    assert got.columns == base.columns
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, base.collect()), key=str
    )


class TestShapeGates:
    def test_bails_on_having_subquery_window(self):
        assert parse_single_groupby(
            "SELECT k, MIN(v) AS m, COUNT(DISTINCT s) AS u FROM t "
            "GROUP BY k HAVING COUNT(*) > 1"
        ) is None
        assert parse_single_groupby(
            "SELECT k, MIN(v) AS m FROM (SELECT * FROM t) x GROUP BY k"
        ) is None
        assert parse_single_groupby(
            "SELECT k, MIN(v) AS m FROM a JOIN b ON a.k = b.k GROUP BY k"
        ) is None

    def test_string_literal_parens_do_not_confuse(self, spark, t):
        # a '(' inside a literal must not corrupt clause detection
        sql = (
            "SELECT k, concat(k, '!') AS kx, COUNT(*) AS c "
            "FROM agg_split_t WHERE v <> '(from group' "
            "GROUP BY k, concat(k, '!')"
        )
        out = reduce_group_keys(sql)
        assert out is not None and out.count("'(from group'") == 1
        assert out.endswith("GROUP BY k")
        _assert_same_rows(spark, sql, out)


class TestSemantics:
    def test_null_group_key_survives(self, spark, t):
        sql = (
            "SELECT k, concat(k, '!') AS kx, MIN(v) AS mv, COUNT(*) AS c "
            "FROM agg_split_t GROUP BY k, concat(k, '!') ORDER BY k"
        )
        out = reduce_group_keys(sql)
        assert out is not None
        _assert_same_rows(spark, sql, out)

    def test_multi_key_and_ordinal(self, spark, t):
        sql = (
            "SELECT k, s, concat(k, s) AS ks, MIN(v) AS mv "
            "FROM agg_split_t GROUP BY 1, s, concat(k, s) ORDER BY k, s"
        )
        out = reduce_group_keys(sql)
        assert out is not None and "GROUP BY k, s ORDER" in out
        _assert_same_rows(spark, sql, out)


class TestReduceGroupKeys:
    def test_drops_derived_keys(self):
        sql = (
            "SELECT ClientIP, ClientIP - 1 AS m1, COUNT(*) AS c FROM hits "
            "GROUP BY ClientIP, ClientIP - 1 ORDER BY c DESC LIMIT 10"
        )
        out = reduce_group_keys(sql)
        assert out is not None
        assert "GROUP BY ClientIP ORDER" in out and "- 1 AS m1" in out

    def test_keeps_keys_with_foreign_refs(self):
        # extract() references EventTime, which is not a retained key
        sql = (
            "SELECT UserID, extract(minute FROM EventTime) AS m, COUNT(*) AS c "
            "FROM hits GROUP BY UserID, extract(minute FROM EventTime)"
        )
        assert reduce_group_keys(sql) is None

    def test_cb35_through_engine_matches(self, spark):
        from cowsdb_spark.engine import Engine

        from tools.gen_hits import ensure_hits

        spark.read.parquet(ensure_hits()).createOrReplaceTempView("hits")
        eng = Engine(spark)
        sql = (
            "SELECT ClientIP, ClientIP - 1 AS m1, ClientIP - 2 AS m2, "
            "ClientIP - 3 AS m3, COUNT(*) AS c FROM hits GROUP BY ClientIP, "
            "ClientIP - 1, ClientIP - 2, ClientIP - 3 "
            "ORDER BY c DESC, ClientIP LIMIT 10"
        )
        df = eng.execute_to_df(sql)[0]
        plan = df._jdf.queryExecution().executedPlan().toString()
        # grouping runs on ClientIP alone
        assert "hashpartitioning(ClientIP" in plan
        assert "ClientIP - 1" not in plan.split("Exchange")[1].split("\n")[0]
        base = [tuple(r) for r in spark.sql(sql).collect()]
        assert [tuple(r) for r in df.collect()] == base

    def test_reduced_with_distinct_and_string_min(self, spark):
        from cowsdb_spark.engine import Engine

        from tools.gen_hits import ensure_hits

        spark.read.parquet(ensure_hits()).createOrReplaceTempView("hits")
        eng = Engine(spark)
        sql = (
            "SELECT ClientIP, ClientIP - 1 AS m1, MIN(Title) AS mt, "
            "COUNT(DISTINCT UserID) AS u FROM hits "
            "GROUP BY ClientIP, ClientIP - 1 ORDER BY u DESC, ClientIP LIMIT 5"
        )
        assert reduce_group_keys(sql) is not None
        df = eng.execute_to_df(sql)[0]
        base = [tuple(r) for r in spark.sql(sql).collect()]
        assert [tuple(r) for r in df.collect()] == base


class TestNondeterministicKeys:
    def test_partition_id_key_not_dropped(self, spark):
        # spark_partition_id() is per-row nondeterministic: dropping a
        # key built from it would merge groups (review finding r7)
        sql = (
            "SELECT k, k + spark_partition_id() AS p, COUNT(*) AS c "
            "FROM t GROUP BY k, k + spark_partition_id()"
        )
        assert reduce_group_keys(sql) is None

    def test_partition_id_end_to_end(self, spark):
        from cowsdb_spark.engine import Engine

        df = spark.range(0, 1000, 1, 8).selectExpr("id % 10 AS k")
        df.createOrReplaceTempView("agg_split_nd")
        eng = Engine(spark)
        sql = (
            "SELECT k, k + spark_partition_id() AS p, COUNT(*) AS c "
            "FROM agg_split_nd GROUP BY k, k + spark_partition_id()"
        )
        got = eng.execute_to_df(sql)[0].count()
        base = spark.sql(sql).count()
        assert got == base


class TestRewriteProperty:
    """Property fuzz over the text-level pass: random keyword casing,
    whitespace, alias spellings, and clause-keyword-bearing string
    literals must never change results — the rewrite either fires with
    identical output or bails."""

    @staticmethod
    def _perturb(sql, rng):
        import re as _re

        out = []
        for tok in _re.split(r"(\s+|'[^']*')", sql):
            if tok.startswith("'"):
                out.append(tok)
            elif tok.isspace():
                out.append(" " * rng.randint(1, 3) if rng.random() < 0.5 else tok)
            elif rng.random() < 0.4:
                out.append(
                    "".join(
                        c.upper() if rng.random() < 0.5 else c.lower()
                        for c in tok
                    )
                )
            else:
                out.append(tok)
        return "".join(out)

    def test_fuzzed_shapes_match_base(self, spark):
        import random

        rows = [
            ("a", "u1", 1, "mm"), ("a", "u2", 2, "zz"), ("b", "u1", 3, "aa"),
            (None, "u3", 4, "(where group"), ("b", None, 5, "order by"),
        ]
        spark.createDataFrame(
            rows, "k string, s string, n long, v string"
        ).createOrReplaceTempView("agg_fuzz_t")
        templates = [
            "SELECT k, MIN(v) AS mv, COUNT(*) AS c, COUNT(DISTINCT s) AS u "
            "FROM agg_fuzz_t GROUP BY k ORDER BY k",
            "SELECT k, n % 2 AS parity, MIN(v) AS mv, COUNT(DISTINCT s) AS u "
            "FROM agg_fuzz_t GROUP BY k, n % 2 ORDER BY k, parity",
            "SELECT k, k AS k2, COUNT(*) AS c FROM agg_fuzz_t "
            "WHERE v <> 'group by' GROUP BY k, k ORDER BY k",
            "SELECT n, n + 1 AS np, n + 2 AS np2, COUNT(*) AS c "
            "FROM agg_fuzz_t GROUP BY n, n + 1, n + 2 ORDER BY n",
        ]
        rng = random.Random(42)
        for base_sql in templates:
            base = sorted(
                map(tuple, spark.sql(base_sql).collect()), key=str
            )
            for _ in range(6):
                fuzzed = self._perturb(base_sql, rng)
                want = sorted(
                    map(tuple, spark.sql(fuzzed).collect()), key=str
                )
                assert want == base  # sanity: perturbation is cosmetic
                red = reduce_group_keys(fuzzed)
                if red is not None:
                    got = sorted(
                        map(tuple, spark.sql(red).collect()), key=str
                    )
                    assert got == base, f"reduce broke: {fuzzed!r} -> {red!r}"
