"""Self-checks of the statement benchmark.

Run from the repository root:  python3 -m pytest perfbench -q

The end-to-end cases start Spark in a child process per run (about a
minute each); the rest need no JVM.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import workloads  # noqa: E402

COUNTS = ["compiler.py4j_calls", "compiler.eager_jobs", "compiler.cache_hits",
          "exec.jobs", "exec.stages", "exec.tasks", "catalyst.exchanges", "dedup.pairs"]


def _run(*args: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "7", "--seconds", "1",
         "--scale", "0.1", *args],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["adhoc", "dedup_docs"])
def test_counts_repeat_exactly(workload):
    _, first = _run("--workload", workload, "--trace", "1")
    _, second = _run("--workload", workload, "--trace", "1")
    assert first["correct"] and second["correct"]
    for name in COUNTS:
        assert first["metrics"][name] == second["metrics"][name], name


def test_injected_wrong_result_raises_fail_rate():
    record, result = _run("--workload", "adhoc", "--trace", "0", "--inject-wrong", "4")
    assert not result["correct"]
    assert result["failed"] > 0
    assert record["fail_rate"] == result["failed"] / result["attempted"] > 0


def test_streams_follow_the_seed():
    def texts(seed):
        stream = workloads.adhoc(seed, "D", "W")
        return [s.text for _ in range(3) for s in next(stream)]

    assert texts(3) == texts(3)
    assert texts(3) != texts(4)
    # the warm-up round shares no text with a run, read-backs of a temp
    # table aside
    warm = {s.text for s in workloads.adhoc_warmup("D", "W")
            if not s.template.startswith("readback")}
    assert not warm & set(texts(3))


def test_adhoc_write_share_and_readbacks():
    stream = workloads.adhoc(11, "D", "W")
    stmts = [s for _ in range(20) for s in next(stream)]
    writes = [i for i, s in enumerate(stmts) if s.kind == "write"]
    assert abs(len(writes) / len(stmts) - 1 / 8) < 0.02
    for i in writes:
        assert stmts[i + 1].template == "readback_" + stmts[i].template.split("_", 1)[1]


def test_quantile_estimate():
    import run

    assert run._quantile([3.0, 1.0, 2.0], 0.5) == pytest.approx(2.0)
    assert run._quantile([0.4], 0.9) == 0.4
    two_clusters = [0.1] * 6 + [1.0] * 7
    p50, p90 = run._quantile(two_clusters, 0.5), run._quantile(two_clusters, 0.9)
    assert 0.1 < p50 < p90 < 1.0


def test_same_result_tolerates_float_noise_only():
    want = pa.table({"k": [1, 2], "v": [0.1 + 0.2, 2.0]})
    assert oracle.same_result(pa.table({"k": [1, 2], "v": [0.3, 2.0]}), want, True) is None
    assert oracle.same_result(pa.table({"k": [2, 1], "v": [2.0, 0.3]}), want, False) is None
    assert oracle.same_result(pa.table({"k": [2, 1], "v": [2.0, 0.3]}), want, True)
    assert oracle.same_result(pa.table({"k": [1, 2], "v": [0.31, 2.0]}), want, True)
    assert oracle.same_result(pa.table({"k": [1], "v": [0.3]}), want, True)
    rng = random.Random(0)
    big = [rng.random() for _ in range(100)]
    assert oracle.same_result(pa.table({"v": big[::-1]}), pa.table({"v": big}), False) is None
