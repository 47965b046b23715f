"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator and percentile tests take seconds. The command tests run
every workload of BENCHMARK.json once per trace mode, and the ungated
``stateful_stream`` once traced (one to two minutes each); ``-k "not
command"`` leaves them out.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from stats import tail  # noqa: E402


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _write_all(root: str, seed: int) -> None:
    os.makedirs(root)
    gen.consumer_jsonl(os.path.join(root, "backlog.jsonl"), gen.sub_seed(seed, 0))
    gen.stream_chunks(os.path.join(root, "src"), gen.sub_seed(seed, 0), gen.STREAM,
                      os.path.join(root, "probe"), os.path.join(root, "admitted"))
    gen.dashboard_events(os.path.join(root, "dash"), seed)
    gen.corpus(os.path.join(root, "corpus"), seed)


def test_generators_are_deterministic_in_the_seed(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 7)
    _write_all(str(tmp_path / "c"), 8)
    for sub in ("backlog.jsonl", "src", "probe", "admitted", "dash", "corpus"):
        a, b, c = (str(tmp_path / x / sub) for x in "abc")
        if sub.endswith(".jsonl"):
            a, b, c = (open(p, "rb").read() for p in (a, b, c))
        else:
            a, b, c = _digest(a), _digest(b), _digest(c)
        assert a == b, sub
        assert a != c, sub


def test_consumer_plants_the_stated_shares(tmp_path):
    p = str(tmp_path / "x.jsonl")
    info = gen.consumer_jsonl(p, 1)
    spec = gen.CONSUMER
    n = spec["lines"]
    assert info["lines"] == n == len(open(p).read().splitlines())
    assert info["malformed"] == round(n * spec["malformed_share"])
    assert info["envelope_invalid"] == round(n * spec["envelope_invalid_share"])
    assert info["semantic_invalid"] == round(n * spec["semantic_invalid_share"])


def test_stream_plants_late_rows_only_from_the_third_file(tmp_path):
    info = gen.stream_chunks(str(tmp_path / "src"), 3, gen.STREAM,
                             str(tmp_path / "probe"), str(tmp_path / "admitted"))
    assert len(info["late_ids"]) == gen.STREAM["late_rows_per_chunk"] * (gen.STREAM["chunks"] - 2)
    assert len(os.listdir(tmp_path / "src")) == gen.STREAM["chunks"] + 1  # + sentinel


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = list(range(100))
    value, pct = tail(xs)
    assert value == 89 and sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 89 / 99)
    value, _ = tail(list(range(12)))
    assert value == 1 and sum(x > value for x in range(12)) == 10
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0)  # too few samples: the median


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run_command(workload: str, trace: int) -> dict:
    cmd = [sys.executable, *_benchmark()["command"][1:], "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _benchmark()["workloads"]])
def test_command_emits_every_metric_with_its_unit(workload, trace):
    result = _run_command(workload, trace)
    wanted = _benchmark()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_command_runs_and_checks_the_ungated_stream():
    from workloads import StatefulStream

    result = _run_command("stateful_stream", 1)
    metrics = result["metrics"]
    for name, unit in StatefulStream.extra_layer_units.items():
        assert metrics[name]["unit"] == unit
    assert metrics["runner.late_rows_dropped"]["value"] == gen.STREAM["late_rows_per_chunk"] * (
        gen.STREAM["chunks"] - 2
    )
