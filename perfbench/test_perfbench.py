"""Self-test of the benchmark on small inputs (sf 0.001).

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs untraced and traced and must print every metric that
BENCHMARK.json declares, with its unit; a tampered golden result must
show up as a failed operation; and the runner must refuse, without a
result, to run where there is no engine.
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

import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SMALL = ["--sf", "0.001", "--feed-rows", "100", "--seconds", "1"]


def _bench(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "3", "--trace", str(trace), *SMALL, *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["oplog_catchup", "curation"])
def test_workload_prints_every_metric(workload, trace):
    out = _bench(workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, out.stdout
    assert result["attempted"] >= 1
    declared = _declared("per_layer" if trace else "end_to_end")
    got = {k: m["unit"] for k, m in result["metrics"].items()}
    assert got == declared
    for name, unit in declared.items():
        assert any(line.startswith(f"{name} ") and line.endswith(f" {unit}")
                   for line in lines), name
    if trace:
        # the stated tolerance of the per-layer accounting (run.py)
        floor = {"oplog_catchup": 0.75, "curation": 0.95}[workload]
        assert result["metrics"]["trace.accounted_frac"]["value"] >= floor


def test_tampered_golden_is_a_failed_operation(tmp_path):
    golden = tmp_path / "golden"
    shutil.copytree(os.path.join(HERE, "golden"), golden)
    target = golden / "bm25_topk.json"
    g = json.loads(target.read_text())
    g["rows_sha256"] = "0" * 64
    target.write_text(json.dumps(g))
    out = _bench("curation", 0, "--golden-dir", str(golden))
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    # bm25_topk fails in the warm-up pass and in every timed pass
    assert result["failed"] == result["attempted"] // len(workloads.CURATION_QUERIES)
    assert "bm25_topk" in out.stdout


def test_refuses_without_an_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _bench("curation", 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert not out.stdout.strip()


def test_tail_needs_ten_samples_beyond():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    values = list(range(1, 21))
    value, pct, n = run.tail(values)
    assert (value, pct, n) == (10, 50.0, 20)
    assert sum(v > value for v in values) == 10


def test_self_time_subtracts_children():
    spans = tracing.Spans("t")
    outer = spans.open("outer")
    inner = spans.open("inner")
    spans.close(inner)
    spans.close(outer)
    spans.records[outer].update(start=0.0, end=10.0)
    spans.records[inner].update(start=2.0, end=5.0)
    assert spans.self_time(outer) == pytest.approx(7.0)
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
