"""Smoke test of the benchmark on a few hundred pages per workload.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that a traced run emits every per-layer metric BENCHMARK.json names,
with its unit, that an untraced run emits every end-to-end metric, and that
a job whose output lost a file fails its check. Each case starts a Spark
session, so the whole file takes a few minutes."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def session_members(sid: int) -> list[str]:
    """Command lines of the live processes in session ``sid``."""
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != b"Z":
            out.append(cmd)
    return out


def bench(workload: str, trace: int, *extra: str) -> dict:
    """One benchmark run in a session of its own; nothing it started may
    outlive it."""
    with subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "1", "--trace", str(trace), "--pages", "200", *extra],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            start_new_session=True) as proc:
        stdout, stderr = proc.communicate(timeout=300)
    assert proc.returncode == 0, stderr[-3000:]
    assert session_members(proc.pid) == []
    return json.loads(stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_layer_metric(workload):
    result = bench(workload, 1)
    assert_metrics(result, BENCH["per_layer"])
    assert result["correct"] and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["parse.lines"] > 0 and m["ledger.output_files"] > 0
    if workload == "ship":
        assert m["wire.batches"] == m["transport.files"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_lost_output_file_fails_the_check(workload):
    result = bench(workload, 0, "--corrupt")
    assert_metrics(result, BENCH["end_to_end"])
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 1
    assert result["metrics"]["ok_ratio"]["value"] == 0.0


def test_refuses_a_checkout_without_the_package(tmp_path):
    """Only BENCHMARK.json and this directory: exit non-zero, no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
