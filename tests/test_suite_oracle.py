"""Differential test: every suite query with an oracle must match DuckDB at
sf0.001 (fast smoke; tools/check.py covers sf0.01 — the driver's gate)."""

from __future__ import annotations

import os
import tempfile

import pytest

from ironbeam_spark.suite import QUERIES
from tests.conftest import SF_SMOKE, assert_df_equals_oracle

ORACLE_QUERIES = [n for n, q in QUERIES.items() if q.oracle is not None]


@pytest.fixture(autouse=True)
def no_streaming_checkpoint_left(monkeypatch, tmp_path):
    """Every query's temp dirs land in ``tmp_path``; afterwards none of them
    may still hold a streaming checkpoint (``offsets/`` or ``commits/``): a
    bounded replay's checkpoint is removed when its query ends."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    yield
    left = [
        root
        for root, dirs, _ in os.walk(tmp_path)
        if "offsets" in dirs or "commits" in dirs
    ]
    assert not left, f"streaming checkpoints left behind: {left}"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = QUERIES[name]
    df = q.fn(spark, SF_SMOKE)
    assert_df_equals_oracle(df, duck, q.oracle)


NON_ORACLE = [n for n, q in QUERIES.items() if q.oracle is None]


@pytest.mark.parametrize("name", NON_ORACLE)
def test_query_runs(spark, name):
    q = QUERIES[name]
    df = q.fn(spark, SF_SMOKE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


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
