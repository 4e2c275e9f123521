"""The benchmark's own tests, at smoke size (500 docs per workload).

    python -m pytest perfbench/selftest.py -q

The file name keeps it out of the repository's default test
collection: it starts a Spark JVM per test and takes minutes. Each
test runs `perfbench/run.py` in a subprocess, as a user would.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("batch_pipeline", "crawl_hygiene", "stream_commit")
# the traced self times must explain the untraced operation's wall to
# within this share (both are single operations on a 4-core host)
SELF_SUM_TOLERANCE = 0.35


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(tmp_path, *extra: str, cwd: str = ROOT) -> tuple[subprocess.CompletedProcess, dict | None]:
    report = str(tmp_path / "report.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1", "--size", "smoke",
         "--report", report, *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    rep = None
    if os.path.exists(report):
        with open(report) as f:
            rep = json.load(f)
    return p, rep


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def untraced(tmp_path_factory):
    return _run(tmp_path_factory.mktemp("t0"), "--workload", "all", "--trace", "0")


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    return _run(tmp_path_factory.mktemp("t1"), "--workload", "all", "--trace", "1")


def _printed(stdout: str) -> dict[str, str]:
    """`workload.metric value unit (...)` lines → {workload.metric: unit}."""
    out = {}
    for line in stdout.splitlines():
        m = re.match(r"^(\S+) \S+ (\S+)  \(n=", line)
        if m:
            out[m.group(1)] = m.group(2)
    return out


def test_every_end_to_end_metric_is_printed_with_its_unit(untraced):
    p, _ = untraced
    res = _result(p)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3
    printed = _printed(p.stdout)
    for w in WORKLOADS:
        for m in _spec()["end_to_end"]:
            assert printed.get(f"{w}.{m['name']}") == m["unit"], (w, m)
            assert res["metrics"][f"{w}.{m['name']}"]["unit"] == m["unit"]
            assert res["metrics"][f"{w}.{m['name']}"]["value"] > 0, (w, m)


def test_every_per_layer_metric_is_printed_with_its_unit(traced):
    p, _ = traced
    res = _result(p)
    assert res["correct"]
    printed = _printed(p.stdout)
    for w in WORKLOADS:
        for m in _spec()["per_layer"]:
            assert printed.get(f"{w}.{m['name']}") == m["unit"], (w, m)


def test_traced_self_times_add_up_to_the_operation_wall(traced):
    _, rep = traced
    for w in WORKLOADS:
        m = rep["workloads"][w]["metrics"]
        ratio = m["trace.self_sum_ratio"]["value"]
        assert abs(ratio - 1) <= SELF_SUM_TOLERANCE, (w, ratio, m["trace.self_sum_s"], m["trace.job_s"])
        assert m["trace.overhead_ratio"]["n"] >= 1 and m["trace.overhead_ratio"]["value"] > 0, w


def test_layer_attribution_matches_the_job_path(traced):
    _, rep = traced
    batch = rep["workloads"]["batch_pipeline"]["metrics"]
    crawl = rep["workloads"]["crawl_hygiene"]["metrics"]
    stream = rep["workloads"]["stream_commit"]["metrics"]
    # which layer dominates is a full-size result (README baseline); at
    # smoke size the check is that each layer is measured on its paths
    for w in (batch, stream):
        assert w["operators.scoring.self_s"]["n"] >= 1 and w["sources.scan_s"]["value"] > 0
    assert crawl["operators.scoring.self_s"]["n"] == 0  # no scoring UDF on the crawl path
    assert crawl["operators.hygiene.self_s"]["value"] > 0 and crawl["sinks.partitions"]["value"] == 2
    assert crawl["sources.warc.records"]["value"] == 500
    assert batch["functions.parallelism.exchanges_added"]["value"] == 0
    assert stream["functions.parallelism.exchanges_added"]["value"] == 1  # 1-file micro-batches
    assert stream["streaming.incremental.manifest_rows"]["value"] >= 2
    assert rep["spans"] and {"name", "start", "end", "parent", "run_id"} <= set(rep["spans"][0])


@pytest.mark.parametrize("how, workload", [("drop", "batch_pipeline"), ("alter", "crawl_hygiene"), ("drop", "stream_commit")])
def test_a_dropped_or_altered_row_fails_the_run(tmp_path, how, workload):
    p, rep = _run(tmp_path, "--workload", workload, "--trace", "0", "--corrupt", how)
    res = _result(p)
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 1
    assert rep["workloads"][workload]["problems"]


def test_without_the_package_it_fails_without_a_result(tmp_path):
    bare = tmp_path / "bare"
    shutil.copytree(os.path.join(ROOT, "perfbench"), bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, *_spec()["command"][1:], "--workload", "batch_pipeline", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
