"""Pins for the generated-oracle CTE hardening (round-7 task #1).

The k-core oracle's unmaterialized peel chain measured ~88 GB RSS /
12-GB-OOM in round 6; these tests pin that every registered oracle now
carries no multi-referenced unmaterialized CTE and that the rewrite is
shape-preserving.
"""

from __future__ import annotations

import re

import duckdb
import pytest

from mongo_cdc_spark.operators._oracleutil import (
    _CTE_HEAD, materialize_multiref_ctes,
)


def test_single_ref_untouched():
    sql = "WITH t AS (SELECT 1 AS x) SELECT x FROM t"
    assert materialize_multiref_ctes(sql) == sql


def test_multi_ref_materialized():
    sql = ("WITH t AS (SELECT 1 AS x) "
           "SELECT a.x FROM t a JOIN t b ON a.x = b.x")
    out = materialize_multiref_ctes(sql)
    assert "t AS MATERIALIZED (" in out
    assert duckdb.sql(out).fetchall() == duckdb.sql(sql).fetchall()


def test_chain_each_round_materialized():
    sql = ("WITH r0 AS (SELECT 1 AS x), "
           "r1 AS (SELECT x FROM r0 WHERE x IN (SELECT x FROM r0)), "
           "r2 AS (SELECT x FROM r1 WHERE x IN (SELECT x FROM r1)) "
           "SELECT * FROM r2")
    out = materialize_multiref_ctes(sql)
    assert out.count("AS MATERIALIZED (") == 2  # r0, r1; r2 single-ref
    assert duckdb.sql(out).fetchall() == [(1,)]


def test_already_materialized_idempotent():
    sql = ("WITH t AS MATERIALIZED (SELECT 1 AS x) "
           "SELECT a.x FROM t a JOIN t b ON a.x = b.x")
    assert materialize_multiref_ctes(sql) == sql


def test_window_clause_not_rewritten():
    sql = ("WITH t AS (SELECT 1 AS x) "
           "SELECT x, SUM(x) OVER w AS s, RANK() OVER w AS r FROM t "
           "WINDOW w AS (ORDER BY x)")
    out = materialize_multiref_ctes(sql)
    assert "WINDOW w AS (ORDER BY x)" in out
    assert duckdb.sql(out).fetchall() == duckdb.sql(sql).fetchall()


def test_registry_has_no_multiref_unmaterialized_cte():
    """Every registered oracle: any CTE referenced >1 time must be
    MATERIALIZED (recursive oracles exempt — DuckDB evaluates the
    working table once and MATERIALIZED is invalid there)."""
    import __spark_entry__ as entrymod
    offenders = []
    for name, sql in entrymod.oracle_sql().items():
        if "RECURSIVE" in sql.upper():
            continue
        for m in _CTE_HEAD.finditer(sql):
            cte = m.group("name")
            refs = len(re.findall(rf"\b{re.escape(cte)}\b", sql)) - 1
            if refs > 1 and not m.group("mat"):
                offenders.append(f"{name}:{cte}")
    assert offenders == []


@pytest.mark.parametrize("probe", ["graph_kcore_decomposition"])
def test_kcore_oracle_fast_under_memory_cap(probe):
    """The round-6 bomb: under an 8 GB cap the materialized oracle
    must parse and run at sf0.001 in bounded memory (the unmaterialized
    version OOMs a 12 GB cap)."""
    import __spark_entry__ as entrymod
    sql = entrymod.oracle_sql()[probe]
    assert sql.count("AS MATERIALIZED (") >= 14  # tr, topk, sym, 2x(1+6)
    con = duckdb.connect()
    con.sql("SET memory_limit='8GB'")
    for t in ("region nation customer supplier part orders "
              "lineitem events documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS FROM "
                f"'/root/testdata/sf0.001/{t}.parquet'")
    rows = con.sql(sql).fetchall()
    assert len(rows) > 0


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(st.integers(min_value=1, max_value=6),
           st.integers(min_value=0, max_value=3),
           st.lists(st.integers(min_value=0, max_value=9),
                    min_size=1, max_size=6))
    def test_materialize_preserves_results_property(rounds, extra_refs,
                                                    seed_vals):
        """Random unrolled CTE chains (each round referencing the
        previous one 2+extra times): the rewrite must materialize
        every multi-referenced CTE and return identical rows."""
        vals = ", ".join(f"({v})" for v in seed_vals)
        sql = f"WITH r0 AS (SELECT * FROM (VALUES {vals}) t(x))"
        for r in range(1, rounds + 1):
            refs = " AND ".join(
                f"x IN (SELECT x FROM r{r - 1})"
                for _ in range(2 + extra_refs))
            sql += f", r{r} AS (SELECT x + 1 AS x FROM r{r - 1} WHERE {refs})"
        sql += f" SELECT * FROM r{rounds} ORDER BY x"
        out = materialize_multiref_ctes(sql)
        # every chained round except the last is multi-referenced
        assert out.count("AS MATERIALIZED (") >= rounds
        # every row of a round is IN the previous round, so the chain
        # adds `rounds` to each seed value: the rows in closed form
        got = duckdb.sql(out).fetchall()
        assert got == [(v + rounds,) for v in sorted(seed_vals)]
        # DuckDB evaluates the unmaterialized chain by inlining every
        # reference, (2 + extra_refs) ** rounds copies of r0: 5 ** 5
        # takes ~2 s, while 4 ** 6 spills > 10 GB to disk within seconds
        if (2 + extra_refs) ** rounds <= 5 ** 5:
            assert got == duckdb.sql(sql).fetchall()
except ImportError:  # pragma: no cover - hypothesis is in this image
    pass
