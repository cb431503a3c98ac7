"""The Arrow surface: a guard that every Python map of the engine crosses on
Arrow.  It scans the package source for pandas round trips, so a new one
fails the fast suite.  (The registry-wide Arrow-surface value compare is
``tests/test_suite_oracle.py::test_query_matches_oracle_on_arrow``.)
"""

from __future__ import annotations

import ast
from pathlib import Path

_PKG = Path(__file__).resolve().parent.parent / "ironbeam_spark"


def test_python_maps_cross_on_arrow():
    """No pandas map or conversion is left, and ``applyInPandasWithState``
    is called only by the two stateful streaming kernels with no native
    operator (Spark's Arrow stateful API needs ``google.protobuf``, which
    is not installed)."""
    stateful = []
    for path in sorted(_PKG.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(_PKG).as_posix()
        for name in ("mapInPandas(", "applyInPandas(", "pandas_udf", "to_pandas("):
            assert name not in src, f"{rel} uses {name}"
        # every use, named by its top-level definition (None at module level)
        for top in ast.parse(src).body:
            stateful += [
                (rel, getattr(top, "name", None))
                for node in ast.walk(top)
                if isinstance(node, ast.Attribute)
                and node.attr == "applyInPandasWithState"
            ]
    assert sorted(stateful) == [
        ("streaming/cdc.py", "stream_apply_changes"),
        ("streaming/stateful.py", "stream_dedup_first"),
    ]
