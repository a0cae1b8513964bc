"""Self-tests of the benchmark: python3 -m pytest perfbench -q

The smoke tests run every workload end to end at the tiny `smoke`
size through the same code as a measured run (about a minute each).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _classes():
    return inputs.message_classes(inputs.corpus_events(4000, n_users=400))


def test_seed_determines_the_delta():
    classes = _classes()
    size = workloads.SIZES["full"][3]
    a = inputs.day_delta(classes, 4000, seed=5, day=1, size=size)
    b = inputs.day_delta(classes, 4000, seed=5, day=1, size=size)
    c = inputs.day_delta(classes, 4000, seed=6, day=1, size=size)
    assert a.digest() == b.digest()
    assert a.digest() != c.digest()
    assert a.digest() != inputs.day_delta(classes, 4000, 5, 2,
                                          size).digest()


def test_delta_classes_are_disjoint_and_sized():
    classes = _classes()
    size = workloads.SIZES["full"][3]
    d = inputs.day_delta(classes, 4000, seed=1, day=3, size=size)
    assert len(d.recodes) == size.recodes and len(d.moves) == size.moves
    assert len(d.insert_ids) == size.inserts == len(d.insert_src)
    assert len(d.deletes) == size.deletes
    assert min(d.insert_ids) >= 4000
    assert not set(d.deletes) & (set(d.recodes) | set(d.moves))
    earlier = [inputs.day_delta(classes, 4000, 1, day, size).deletes
               for day in (1, 2)]
    assert not set(d.deletes) & set(earlier[0] + earlier[1])


def test_corpus_is_fixed_and_batch_order_follows_the_seed():
    a, b = inputs.corpus_events(500), inputs.corpus_events(500)
    assert a.equals(b)
    x = inputs.shuffled(a, 1).column("event_id").to_pylist()
    assert x == inputs.shuffled(a, 1).column("event_id").to_pylist()
    assert x != inputs.shuffled(a, 2).column("event_id").to_pylist()
    assert sorted(x) == list(range(500))


def test_replica_shift_is_derived_from_the_max_id():
    ev = inputs.corpus_events(300)
    out = inputs.replicate(ev, 10)
    ids = out.column("event_id").to_pylist()
    assert len(ids) == 3000 and len(set(ids)) == 3000
    assert max(ids) == 9 * 300 + 299


def test_id_collision_check_fires():
    ev = inputs.corpus_events(300)
    with pytest.raises(inputs.IdCollisionError):
        inputs.replicate(ev, 2, shift=100)
    with pytest.raises(inputs.IdCollisionError):
        inputs.replicate(ev, 4, shift=2**62)


def test_metric_names_and_benchmark_json():
    e2e = [n for n, _u in run.END_TO_END]
    layer = [n for n, _u in run.PER_LAYER]
    for n in e2e + layer:
        assert NAME.fullmatch(n), n
    assert len(set(e2e + layer)) == len(e2e) + len(layer)
    assert 1 <= len(layer) <= 128
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] \
        == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] \
        == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) \
        == sorted(workloads.WORKLOADS)
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace",
         str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_untraced(workload):
    out = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert sorted(out["metrics"]) == sorted(n for n, _u in run.END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_traced(workload):
    out = _run(workload, 1)
    assert out["correct"] and out["failed"] == 0
    assert sorted(out["metrics"]) == sorted(n for n, _u in run.PER_LAYER)
    with open(os.path.join(ROOT, ".perfbench", "traces",
                           f"{workload}-seed7.json")) as f:
        spans = json.load(f)["spans"]
    names = {s["name"] for s in spans}
    want = run.BATCH_SPANS if workload == "batch_x10" else run.DAY_SPANS
    assert set(want) <= names
    # self times of a root's subtree never exceed the root's duration
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree_self(s):
        return s["self_s"] + sum(subtree_self(c)
                                 for c in kids.get(s["sid"], []))
    for root in kids[None]:
        assert subtree_self(root) <= root["t1"] - root["t0"] + 1e-6
        for s in spans:
            assert 0 <= s["build_s"] <= s["self_s"] + 1e-6


def test_stripped_checkout_fails_without_a_result():
    """A directory holding only BENCHMARK.json and the benchmark must
    exit non-zero without printing a result."""
    import shutil

    bare = os.path.join(ROOT, ".perfbench", "stripped")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             "day_small", "--seed", "1", "--seconds", "1", "--trace",
             "0"], cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
