#!/usr/bin/env python3
"""Harness self-test: one pass of each workload at sf 0.001, untraced and traced.

    python3 perfbench/selftest.py [workload ...]

Checks, per workload:
- every end-to-end metric (``--trace 0``) and every per-layer metric
  (``--trace 1``) named in ``BENCHMARK.json`` is printed with its unit;
- in the span tree, children lie inside their parents and self times are >= 0;
- the exact counts (jobs, stages, eager jobs, plan node counts, stream
  batches) are identical in the untraced run and both passes of the traced run.
Exits non-zero on the first workload that fails a check.
"""

from __future__ import annotations

import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.trace import nesting_errors  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _run(workload: str, trace: int, out: Path) -> dict:
    proc = subprocess.run(
        [
            sys.executable, str(HERE / "run.py"), "--workload", workload,
            "--seed", "0", "--sf", "0.001", "--passes", "1",
            "--trace", str(trace), "--out", str(out),
        ],
        cwd=HERE.parent, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(workload: str, spec: dict, scratch: Path) -> list[str]:
    errs = []
    printed = {t: _run(workload, t, scratch / f"{workload}-{t}.json") for t in (0, 1)}
    for t, key in ((0, "end_to_end"), (1, "per_layer")):
        got = printed[t]["metrics"]
        for m in spec[key]:
            if m["name"] not in got:
                errs.append(f"trace={t}: missing {m['name']}")
            elif got[m["name"]]["unit"] != m["unit"]:
                errs.append(f"trace={t}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
        if not printed[t]["correct"]:
            errs.append(f"trace={t}: {printed[t]['failed']} of {printed[t]['attempted']} executions failed")

    plain = json.loads((scratch / f"{workload}-0.json").read_text())
    traced = json.loads((scratch / f"{workload}-1.json").read_text())
    spans = json.loads(Path(traced["trace_file"]).read_text())["spans"]
    errs += [f"trace: {e}" for e in nesting_errors(spans)]
    if not spans:
        errs.append("trace: no spans recorded")

    ref = plain["passes"][0]["counts"]
    for p in traced["passes"]:
        if p["counts"] != ref:
            errs.append(
                f"exact counts differ ({'traced' if p['traced'] else 'untraced'} pass): {p['counts']} != {ref}"
            )
    return errs


def main(argv: list[str]) -> int:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    names = argv or list(WORKLOADS)
    bad = 0
    with tempfile.TemporaryDirectory(dir=HERE / "_work") as d:
        for w in names:
            errs = check(w, spec, Path(d))
            print(("PASS " if not errs else "FAIL ") + w)
            for e in errs:
                print("   ", e)
            bad += bool(errs)
    return 1 if bad else 0


if __name__ == "__main__":
    (HERE / "_work").mkdir(exist_ok=True)
    sys.exit(main(sys.argv[1:]))
