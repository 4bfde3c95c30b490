"""Smoke test of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench/smoke.py -q

Runs each workload once with and without tracing (``--smoke``) and checks
the output contract: every metric of BENCHMARK.json prints with its unit,
the traced pipeline run attributes every job but the input fingerprint to
one of the 11 stages, and the benchmark refuses to run without the program.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
STAGES = ["valid_docs", "exact_sigs", "exact_edges", "minhash_sigs", "band_rows",
          "candidates", "verified_pairs", "anchor_rows", "substr_pairs", "clusters",
          "dup_report"]
LINE = re.compile(r"^metric (\S+) = (\S+) (\S+)")


def bench(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "3", "--seconds", "1",
                             "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def report(out: str) -> tuple[dict, dict[str, tuple[str, str]]]:
    lines = out.strip().splitlines()
    said = {m[1]: (m[2], m[3]) for m in map(LINE.match, lines) if m}
    return json.loads(lines[-1]), said


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics(workload):
    p = bench(workload, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    result, said = report(p.stdout)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    named = {"setup_s", "failed_frac", "wall_s", "cpu_s", "driver_cpu_s", "peak_rss_mb"} | (
        {"dedup_docs_per_s", "pair_recall", "false_merges", "catalog_bytes_per_input_byte"}
        if workload == "scratch" else {"queries_pass_s"})
    assert named <= set(said), named - set(said)
    assert float(said["failed_frac"][0]) == 0.0
    # the process tree's CPU time holds at least the driver's own
    assert result["metrics"]["cpu_s"]["value"] >= float(said["driver_cpu_s"][0])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_per_layer_metrics(workload):
    p = bench(workload, 1)
    assert p.returncode == 0, p.stderr[-3000:]
    result, said = report(p.stdout)
    assert result["correct"] and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    want = {x["name"]: x["unit"] for x in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if workload == "scratch":
        assert said["tick_labels_equal_scratch"][0] == "True"
        assert int(said["tick_check_cross_frontier_pairs"][0]) > 0
        assert int(said["trace.jobs_outside_groups"][0]) == 0
        assert 1 <= int(said["trace.fingerprint_jobs"][0]) <= 2
        assert m["pipeline.jobs"] == int(said["trace.fingerprint_jobs"][0]) + sum(
            m[f"stage.{s}.jobs"] for s in STAGES)
        assert all(m[f"stage.{s}.jobs"] >= 1 for s in STAGES)
        assert all(m[f"stage.{s}.driver_gap_s"] >= 0 for s in STAGES)
        walls = sum(m[f"stage.{s}.wall_s"] for s in STAGES) + m["pipeline.unattributed_s"]
        assert walls == pytest.approx(float(said["trace.run_wall_s"][0]), abs=1e-6)
        assert all(m[f"udf.{k}.python_s"] > 0 for k in ("minhash", "anchors", "jaccard", "lcs"))
        assert m["catalog.meta_calls"] > 0 and m["catalog.files"] > 0
    else:
        assert all(m[k] > 0 for k in m if k.startswith("query.") and k.endswith(".s"))
        assert m["pipeline.jobs"] == 0


def test_refuses_without_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(ROOT / path, tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(SPEC["workloads"][0]["name"], 0, cwd=tmp_path)
    assert p.returncode != 0
    assert not p.stdout.strip()


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
