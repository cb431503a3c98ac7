"""bench.py's A/B baseline choice: the prior run it compares against must
be committed and recorded on the current run's core count."""

from __future__ import annotations

import shutil
import subprocess
from pathlib import Path

import bench

_REPO = Path(__file__).resolve().parent.parent


def test_prior_bench_matches_core_count(tmp_path, monkeypatch):
    # the two round-13 files tie on round number: 32 cores and 8 cores
    for name in ("BENCH_r12.json", "BENCH_r13.json", "BENCH_r13_c8.json"):
        shutil.copy(_REPO / name, tmp_path / name)
    git = ["git", "-c", "user.name=t", "-c", "user.email=t@t", "-C", str(tmp_path)]
    subprocess.run([*git, "init", "-q"], check=True)
    subprocess.run([*git, "add", "."], check=True)
    subprocess.run([*git, "commit", "-q", "-m", "bench"], check=True)
    # a newer 32-core file that is not committed yet is not a baseline
    (tmp_path / "BENCH_r14.json").write_text('{"cpus": 32}')

    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    assert bench._prior_bench(32)[0].name == "BENCH_r13.json"
    assert bench._prior_bench(8)[0].name == "BENCH_r13_c8.json"
    assert bench._prior_bench(4) is None
