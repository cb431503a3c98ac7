"""Every suite query against its DuckDB oracle at sf0.001, through the one
differential runner (``tools/check.py``; its CLI covers sf0.01, the driver's
gate).  Each case also runs the oracle dtype lint, and fails if the query
leaves a CacheManager entry or a streaming checkpoint behind.  The ``rows``
surface runs by default; the ``arrow`` surface runs the same compare on
Arrow tables under ``IRONBEAM_ARROW_SWEEP=1``."""

from __future__ import annotations

import pytest

from ironbeam_spark.suite import QUERIES
from tests.conftest import SF_SMOKE, sweep_gate
from tools.check import check_query


def test_every_query_has_an_oracle():
    assert [n for n, q in QUERIES.items() if not q.oracle] == []


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(oracle_check, name):
    msgs = oracle_check(name)
    assert not msgs, f"{name} (rows): " + "; ".join(msgs[:6])


@sweep_gate
@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle_on_arrow(spark, duck, name):
    _, msgs = check_query(spark, duck, SF_SMOKE, name, "arrow")
    assert not msgs, f"{name} (arrow): " + "; ".join(msgs[:6])


def test_kmv_setops_estimates_are_accurate(spark):
    """The KMV union/intersection estimators land within 20% of the true
    distinct counts at sf0.01 (k=256 over a few thousand distincts)."""
    from ironbeam_spark.suite import QUERIES
    import pyspark.sql.functions as F
    from ironbeam_spark.sources.io import read_table

    sf = "/root/testdata/sf0.01"
    row = QUERIES["q_kmv_setops"].fn(spark, sf).collect()[0]
    li = read_table(spark, sf, "lineitem")
    a = {r.l_partkey for r in li.where(F.col("l_returnflag") == "R").select("l_partkey").distinct().collect()}
    b = {r.l_partkey for r in li.where(F.col("l_returnflag") == "A").select("l_partkey").distinct().collect()}
    for est, true in (
        (row.est_a, len(a)),
        (row.est_b, len(b)),
        (row.est_union, len(a | b)),
        (row.est_intersect, len(a & b)),
    ):
        assert abs(est - true) / max(true, 1) < 0.2, (est, true)
