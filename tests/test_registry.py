"""Invariants of the one query registry, __spark_entry__.queries().

queries() only returns builders and oracle_sql() only returns SQL text,
so none of these tests needs a Spark session.
"""

import __spark_entry__ as e
import bench


def test_bench_sweep_names_are_registry_queries():
    names = set(e.queries())
    assert len(set(bench.SWEEP)) == len(bench.SWEEP)
    assert "snap_pipeline" in names and "snap_pipeline" not in bench.SWEEP
    assert [q for q in bench.SWEEP if q not in names] == []


def test_oracled_names_are_registry_queries():
    names = set(e.queries())
    assert [q for q in e.oracle_sql() if q not in names] == []


def test_oracled_queries_come_before_rows_only_queries():
    # so the first len(oracle_sql()) queries are exactly the oracled ones
    oracled = set(e.oracle_sql())
    has_oracle = [q in oracled for q in e.queries()]
    assert has_oracle == sorted(has_oracle, reverse=True)
