"""Self-tests of the benchmark: tiny smoke runs and the answer checks.

    python3 -m pytest perfbench -q

Each smoke run starts Spark and builds a 300-document index, so the file
takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from checks import Checker, corrupt  # noqa: E402
from queries import Query  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(*extra, cwd=ROOT, seconds=1):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--docs", "300", "--seconds", str(seconds), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke(workload, trace):
    # embedded-churn's untraced window must reach a delete (op 100)
    res = _result(_run("--workload", workload, "--seed", "5",
                       "--trace", str(trace), seconds=3))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    elif workload == "cluster-batch":
        layers = {k: v["value"] for k, v in res["metrics"].items()}
        assert layers["spark.scan_bytes_per_batch"] > 0
        assert layers["spark.python_sent_bytes_per_batch"] > 0
        assert layers["search.wand.score_ms_per_query"] > 0
        assert layers["search.engine.local_self_ms_per_query"] == 0
        assert layers["search.engine.fetch_calls_per_query"] == 0
    else:
        layers = {k: v["value"] for k, v in res["metrics"].items()}
        assert 0 < layers["search.engine.postings_hit_ratio"] < 1
        assert layers["search.engine.delete_write_ms"] > 0
        assert layers["spark.jobs_per_batch"] == 0


def test_corrupted_answers_are_counted():
    res = _result(_run("--workload", "embedded-churn", "--seed", "6",
                       "--corrupt-every", "5", seconds=3))
    # every 5th answer is corrupted; deletes are ops but not answers
    assert not res["correct"]
    assert res["attempted"] // 6 <= res["failed"] <= res["attempted"] // 5
    assert res["metrics"]["ok_op_share"]["value"] < 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", WORKLOADS[0], "--seed", "1", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_checker():
    q = Query("a b", top_k=3)
    deep = {q.ranking: [(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.0)]}
    c = Checker(deep)
    assert c.check(q, [(1, 3.0), (2, 2.0), (3, 2.0)]) is None
    assert "order" in c.check(q, [(1, 3.0), (3, 2.0), (2, 2.0)])
    assert "rows" in c.check(q, corrupt([(1, 3.0)], 3))
    assert "other tier" in c.check(q, [(1, 3.0), (2, 2.0), (4, 1.0)])
    c.deleted.add(2)
    assert "deleted" in c.check(q, [(1, 3.0), (2, 2.0), (3, 2.0)])
    assert c.check(q, [(1, 3.0), (3, 2.0), (4, 1.0)]) is None
    f = Checker(deep, alive={1, 3})
    fq = q._replace(filtered=True)
    assert "alive" in f.check(fq, [(1, 3.0), (2, 2.0)])
    assert f.check(fq, [(1, 3.0), (3, 2.0)]) is None
