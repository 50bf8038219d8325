"""Tests of the benchmark itself: nothing a run starts outlives it.

Each case compares the process table before and after one command, on a
small corpus: success, a wrong output, an exception, SIGTERM, the
supervisor's own deadline, and a checkout holding only the benchmark.

    python3 -m pytest pipebench/test_pipebench.py -q     # ~5 min
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure  # noqa: E402


def _processes(tag: str) -> dict[int, str]:
    """Processes whose environment carries ``tag``: everything a command
    started with that tag, however it was re-parented."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if tag.encode() not in f.read():
                    continue
            with open(f"/proc/{name}/cmdline", "rb") as f:
                out[int(name)] = f.read().replace(b"\0", b" ").decode()
        except OSError:
            pass
    return out


def _command(workload: str, trace: int, env_extra: dict, cwd: str = ROOT,
             stop_after: float | None = None):
    """Run one small benchmark command; return (exit code, stdout lines,
    stderr, processes it started that are still present after it returned)."""
    tag = f"pipebench-test-{uuid.uuid4().hex}"
    env = dict(os.environ, PIPEBENCH_DOCS="24", SPARK_GRAFT_CPUS="2",
               PIPEBENCH_TEST_TAG=tag, **env_extra)
    proc = subprocess.Popen(
        [sys.executable, "pipebench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )
    if stop_after is not None:
        time.sleep(stop_after)
        proc.send_signal(signal.SIGTERM)
    out, err = proc.communicate(timeout=300)
    left = _processes(tag)
    return proc.returncode, out.decode().splitlines(), err.decode(errors="replace"), left


def _run(env_extra: dict, cwd: str = ROOT, stop_after: float | None = None):
    code, lines, err, left = _command("recrawl_merge", 0, env_extra, cwd, stop_after)
    sys.stderr.write(err[-3000:])
    return code, lines, left


def test_success_leaves_nothing_running():
    code, lines, left = _run({})
    assert left == {}
    assert code == 0
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == measure.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_wrong_output_fails_and_leaves_nothing_running():
    code, lines, left = _run({"PIPEBENCH_FAULT": "wrong"})
    assert left == {}
    assert code == 1
    assert json.loads(lines[-1])["correct"] is False


def test_exception_leaves_nothing_running():
    code, lines, left = _run({"PIPEBENCH_FAULT": "raise"})
    assert left == {}
    assert code == 2
    assert not any(line.startswith('{"correct"') for line in lines)


def test_sigterm_leaves_nothing_running():
    # the hang starts once the JVM, the daemon and the workers are up
    code, lines, left = _run({"PIPEBENCH_FAULT": "hang"}, stop_after=45)
    assert left == {}
    assert code != 0
    assert not any(line.startswith('{"correct"') for line in lines)


def test_deadline_leaves_nothing_running():
    code, lines, left = _run({"PIPEBENCH_FAULT": "hang", "PIPEBENCH_DEADLINE_S": "45"})
    assert left == {}
    assert code == 2
    assert not lines


def test_bare_checkout_fails_fast(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "pipebench",
                    ignore=shutil.ignore_patterns("_work", "_traces", "__pycache__"))
    start = time.monotonic()
    code, lines, left = _run({}, cwd=str(tmp_path))
    assert left == {}
    assert code != 0
    assert not lines
    assert time.monotonic() - start < 180


def test_benchmark_json_matches_the_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == measure.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == measure.PER_LAYER
    import workload

    assert {w["name"] for w in spec["workloads"]} == set(workload.SPECS)


@pytest.mark.parametrize("workload_name", ["blocks_staged", "recrawl_merge"])
def test_traced_run_reports_every_layer(workload_name):
    code, lines, err, left = _command(workload_name, 1, {})
    assert left == {}
    assert code == 0, err[-3000:]
    result = json.loads(lines[-1])
    assert result["correct"] is True
    assert {k: v["unit"] for k, v in result["metrics"].items()} == measure.PER_LAYER
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["pipeline.shuffle_bytes"] == 0  # fused and staged-local plans
    assert m["stages.python_nodes"] >= 1
    assert m["tableio.merge_buckets_rewritten"] >= 1
