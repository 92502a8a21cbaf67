"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start one Spark session per workload and trace mode, so
the module takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import data  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def test_registry_tables_follow_the_seed(tmp_path):
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        data.write_registry_tables(str(tmp_path / d), seed, scale=0.1)
    assert data.digest(str(tmp_path / "a")) == data.digest(str(tmp_path / "b"))
    assert data.digest(str(tmp_path / "a")) != data.digest(str(tmp_path / "c"))


def test_edge_stream_follows_the_seed(tmp_path):
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        data.write_edge_stream(str(tmp_path / d), seed, 3, 100, 50, 0.1, 600)
    assert data.digest(str(tmp_path / "a")) == data.digest(str(tmp_path / "b"))
    assert data.digest(str(tmp_path / "a")) != data.digest(str(tmp_path / "c"))
    mtimes = [p.stat().st_mtime for p in sorted((tmp_path / "a").iterdir())]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    # a shorter stream written over a longer one leaves no stale file
    data.write_edge_stream(str(tmp_path / "a"), 5, 2, 100, 50, 0.1, 600)
    assert len(list((tmp_path / "a").iterdir())) == 2


def test_pass_times_scale_with_the_reference():
    from perfbench.run import REF_NOMINAL_S, end_to_end

    def rec(name, wall, ref):
        return {"name": name, "phase": "warm0", "wall_s": wall, "ref_s": [ref, ref]}

    cold = [rec("a", 2.0, 2 * REF_NOMINAL_S), rec("b", 4.0, 2 * REF_NOMINAL_S)]
    warm = [rec("a", 1.0, REF_NOMINAL_S / 2), rec("b", 4.0, REF_NOMINAL_S / 2)]
    m = end_to_end([3.0, 1.0, 2.0], cold, warm)
    assert m["setup_s"] == (2.0, "s")  # set-up time is not scaled
    assert m["cold_pass_norm_s"][0] == pytest.approx(6.0 / 2)
    assert m["warm_pass_norm_s"][0] == pytest.approx(5.0 * 2)
    assert m["call_geomean_norm_s"][0] == pytest.approx(2.0 * 2)


def _run(cwd: Path, workload: str, trace: int, out: Path | None = None):
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace),
    ]
    if out is not None:
        cmd += ["--out", str(out)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_is_correct_and_prints_every_metric(workload, trace, tmp_path):
    proc = _run(ROOT, workload, trace, tmp_path / "detail.json")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stdout[-3000:]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if trace:
        detail = json.loads((tmp_path / "detail.json").read_text())
        traced = [c for c in detail["calls"] if "gap_s" in c]
        assert traced
        for c in traced:
            # the parts add up to the wall time; no part overcounts it
            parts = c["build_s"] - c.get("build_job_s", 0.0) + c["plan_s"] + c["job_s"]
            assert c["gap_s"] == pytest.approx(c["wall_s"] - parts)
            assert c["gap_s"] > -0.01, c


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for rel in SPEC["paths"]:
        shutil.copytree(ROOT / rel, tmp_path / rel, ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
