"""Smoke test of the benchmark at tiny sizes (several minutes; not part of
the tier-1 suite). Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _in_session(sid: int) -> list[str]:
    """Every process of session ``sid``, zombies included. A run starts a
    session of its own, and the JVM and Spark's Python workers stay in it."""
    left = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if name.isdigit() and int(stat[stat.rindex(")") + 2 :].split()[3]) == sid:
            left.append(stat[: stat.rindex(")") + 3])
    return left


def _run(cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed", "3",
           "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace), *extra]
    with subprocess.Popen(
        cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    ) as proc:
        out, err = proc.communicate(timeout=600)
    left = _in_session(proc.pid)
    assert not left, f"processes of the run outlived it: {left}"
    return subprocess.CompletedProcess(cmd, proc.returncode, out, err)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_reported(workload, trace):
    p = _run(ROOT, workload, trace, "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1, out
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def _checkout(dest) -> None:
    """The benchmark's own files, without the engine."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), dest / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )


# every merge after the first ``after`` raises
_FAULT = """
_merge_calls = [0]
_merge_segments = merge_segments


def merge_segments(*args, **kwargs):
    _merge_calls[0] += 1
    if _merge_calls[0] > {after}:
        raise RuntimeError("injected merge failure")
    return _merge_segments(*args, **kwargs)
"""


def test_failing_ops_are_counted(tmp_path):
    """An engine whose ops raise: the timed loop still ends and the run
    prints a result that counts every failed op."""
    _checkout(tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "lucene_spark"), tmp_path / "lucene_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    with open(tmp_path / "lucene_spark" / "index" / "merge.py", "a") as fh:
        fh.write(_FAULT.format(after=1))  # the cold set-up op
    p = _run(str(tmp_path), "ingest", 0, "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is False
    assert out["failed"] == 2 and out["attempted"] == 3, out


def test_fails_without_the_engine(tmp_path):
    """A directory holding only the benchmark's own files: non-zero exit and
    no result line."""
    _checkout(tmp_path)
    p = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
