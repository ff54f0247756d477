"""Self-test of the KG-construction benchmark.

  python3 -m pytest perfbench/tests -q

Tiny-size runs of every workload check that each metric BENCHMARK.json
names is printed with its unit; the checker must count a run whose output
has one corrupted triple as failed; the reference must reproduce the known
seed-42 triple count of the 20k-doc generator corpus.  Takes a few minutes
(each tiny run still starts Spark sessions).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import inputs, proctree, run  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
           workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny"]
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=400)
    assert done.returncode == 0, done.stderr[-4000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in
                                      _spec()["workloads"]])
@pytest.mark.parametrize("trace,section", [(0, "end_to_end"),
                                           (1, "per_layer")])
def test_tiny_run_emits_every_metric_with_unit(workload, trace, section):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name


def test_corrupted_triple_counts_as_failed(monkeypatch, tmp_path):
    real = inputs.read_triples

    def one_corrupted(path):
        rows = list(real(path))
        subj, pred, obj, doc_id = rows[0]
        rows[0] = (subj + "x", pred, obj, doc_id)
        return rows

    workload = dict(run.WORKLOADS["kg_batch"], **run.TINY["kg_batch"])
    cpus = len(os.sched_getaffinity(0))
    proctree.become_subreaper()
    prepared = run.prepare(workload, 3, cpus)
    with proctree.TreeSampler() as sampler:
        runner = run.Runner(sampler, str(tmp_path), cpus)
        monkeypatch.setattr(inputs, "read_triples", one_corrupted)
        ops, metrics, _ = run.end_to_end(runner, workload, prepared, 1,
                                         str(tmp_path))
    proctree.reap()
    assert [op["ok"] for op in ops] == [False]
    assert metrics == {}


def test_checker_compares_full_set():
    rows = [("a", "mentioned_in", "d1", "d1"), ("b", "mentioned_in", "d1",
                                                "d1")]
    ref = inputs.summarize(rows)
    assert run.check(reversed(rows), ref)
    assert not run.check(rows[:1], ref)
    assert not run.check(rows + rows[:1], ref)
    assert not run.check([rows[0], ("b", "mentioned_in", "d2", "d1")], ref)


def test_reference_pins_seed42_batch_count():
    from recrun_spark.fixtures.aliases import make_aliases
    cpus = len(os.sched_getaffinity(0))
    corpus = inputs.generate(20_000, 42, False, cpus)
    assert inputs.reference(corpus, make_aliases(), cpus)["count"] == 91_279
