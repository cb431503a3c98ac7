from __future__ import annotations

import functools
import os
import sys
from pathlib import Path

import pytest

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from ironbeam_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# The registry-wide sweeps (every query on the Arrow surface, every query
# under two shuffle widths) take several minutes at sf0.001, so the default
# suite skips them; run them once before shipping:
#     IRONBEAM_ARROW_SWEEP=1 python -m pytest tests/test_suite_oracle.py \
#         tests/test_partition_invariance.py -q
sweep_gate = pytest.mark.skipif(
    os.environ.get("IRONBEAM_ARROW_SWEEP", "").strip().lower()
    in ("", "0", "false", "no"),
    reason="registry-wide sweep (~minutes): set IRONBEAM_ARROW_SWEEP=1",
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ironbeam-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    from tools.check import oracle_connection

    yield oracle_connection(SF_SMOKE)


@pytest.fixture(scope="session")
def oracle_check(spark, duck):
    """``check_query``'s problems for one query on the ``rows`` surface at
    sf0.001, memoized for the session: the registry tests in
    ``test_oracle_dtypes.py`` and ``test_suite_oracle.py`` each assert their
    part of the same run, so every query is built and run once."""
    from tools.check import check_query

    return functools.cache(lambda name: check_query(spark, duck, SF_SMOKE, name)[1])
