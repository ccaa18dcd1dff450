"""Tests of the benchmark itself: ``python3 -m pytest perfbench/``.

The generator and output-check tests need no Spark. The tiny runs start
the real benchmark in a subprocess (about a minute each).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, CheckFailed, Corpus, Dashboard  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, name):
    wl = WORKLOADS[name](None, None, str(tmp_path))
    wl.generate(7, str(tmp_path / "a"))
    wl.generate(7, str(tmp_path / "b"))
    wl.generate(8, str(tmp_path / "c"))
    a, b, c = (tree_bytes(str(tmp_path / d)) for d in "abc")
    assert a and a == b
    assert a != c


def test_planted_facts_are_nontrivial(tmp_path):
    facts = Dashboard(None, None, str(tmp_path)).generate(3, str(tmp_path / "d"))
    assert facts["dup_keys"] >= 2
    assert len({k[0] for k in facts["staffing"]}) >= 5
    # the drop holds the quirk groups the pipeline must drop
    assert len(facts["staffing"]) < 2 * len({k[1] for k in facts["staffing"]})
    corpus = Corpus(None, None, str(tmp_path))
    inputs = corpus.generate(3, str(tmp_path / "c"))
    for s in inputs["shards"]:
        assert s["contaminated"] > 0
        assert 0 < len(s["survivors"]) < 400
    # every batch plants duplicates beyond its fresh docs, and only the
    # fresh docs are accepted
    stream = inputs["stream"]
    assert len(stream["batches"]) == corpus.stream_batches
    ids = []
    for path in stream["batches"]:
        with open(path) as f:
            ids += [json.loads(line)["doc_id"] for line in f]
    assert len(ids) == len(set(ids)) > len(stream["accepted"])
    assert stream["accepted"] < set(ids)


def test_dashboard_check_rejects_a_wrong_result(tmp_path):
    wl = Dashboard(None, None, str(tmp_path))
    facts = wl.generate(3, str(tmp_path / "d"))
    wl.facts = facts
    wl.states = sorted({k[0] for k in facts["staffing"]})
    wl.mix = [("distinct_states", "", [], "")]
    wl.check(0, list(wl.states))
    with pytest.raises(CheckFailed):
        wl.check(0, wl.states[1:])


class _FakeWorkload:
    """Operation i returns i; the check fails on odd results."""

    def __init__(self):
        self.tr = Tracer(None, enabled=False)

    def op(self, i):
        return i

    def op_bytes(self, i, since_ns):
        return 1.0

    def check(self, i, result):
        if result % 2:
            raise CheckFailed("odd")


def test_a_failed_check_counts_as_a_failed_operation():
    failures: list[int] = []
    times = run.run_ops(_FakeWorkload(), range(4), bytes_out=[], failures=failures)
    assert len(times) == 4
    assert failures == [1, 3]


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert run.tail([float(i) for i in range(100)]) == (89.0, 90.0)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_benchmark_json_names_what_the_code_prints():
    assert [m["name"] for m in BENCH["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == [
        (m, run.unit_of(m)) for m in run.PER_LAYER
    ]
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "--workload", "dashboard", "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=120)
    assert p.returncode != 0
    assert "{" not in p.stdout


@pytest.mark.parametrize("workload,trace", [("dashboard", 0), ("dashboard", 1), ("corpus", 1)])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "0.1",
             "--trace", str(trace))
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    for m in want:
        assert any(re.fullmatch(rf"{re.escape(m['name'])} \S+ {m['unit']}", ln)
                   for ln in lines), m["name"]
    assert any(ln.startswith("fail_ratio 0.0000 ratio") for ln in lines)
    meta = json.loads(next(ln for ln in lines if ln.startswith("meta "))[5:])
    for key in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "loadavg_start",
                "steal", "calibration"):
        assert key in meta
    if trace:
        assert any(ln.startswith("tracing overhead") for ln in lines)
        # the layers only set-up calls: etl under the dashboard, the
        # index build and ingest stream under the corpus
        first = {"dashboard": "pipelines.run_build ", "corpus": "streaming.batch "}[workload]
        assert any(ln.startswith(first) for ln in lines)
        assert result["metrics"]["op.jobs"]["value"] > 0
