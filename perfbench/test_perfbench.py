"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import datagen  # noqa: E402
import eventlog  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import (  # noqa: E402
    exclusive_times, geomean, percentile, quartile_spread, tail_percentile, union_length,
)


@pytest.mark.parametrize("n, q", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, q):
    assert tail_percentile(n) == q
    if q is not None:
        assert n * (100 - q) / 100 >= 10 - 1e-9


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0]
    for q in (0, 25, 50, 90, 100):
        assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    base = [0.3, 1.0, 2.5, 7.0]
    faster = [0.15, 1.0, 2.5, 7.0]  # a 2x gain on the smallest value
    assert geomean(base) / geomean(faster) == pytest.approx(2 ** 0.25)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        geomean([])


def test_quartile_spread():
    assert quartile_spread([2.0] * 10) == 0.0
    vals = [float(v) for v in range(1, 11)]
    assert quartile_spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)


def test_self_time_is_span_minus_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},   # overlaps sibling 1
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},  # sticks out of 0
    ]
    ex = exclusive_times(spans)
    # children clipped to the span cover [1, 5] and [8, 10]
    assert ex[0] == pytest.approx(10.0 - union_length([(1, 3), (2, 5), (8, 10)]))
    assert ex[0] == pytest.approx(4.0)
    assert ex[1] == pytest.approx(1.0) and ex[2] == pytest.approx(3.0)
    assert ex[3] == pytest.approx(4.0)
    # the shares partition the covered time [0, 12]
    assert sum(ex.values()) == pytest.approx(12.0)


def test_tracer_self_times_and_layers():
    tr = Tracer(True)
    tr.add("op", None, 0.0, 10.0, None)
    tr.add("construct", "registry", 0.0, 4.0, 0)
    tr.add("force", "driver", 4.0, 10.0, 0)
    tr.add("job0", "exec", 1.0, 2.0, 1)
    tr.add("job1", "exec", 5.0, 9.0, 2)
    tr.add("catalyst.planning", "catalyst", 4.5, 5.0, 2)
    st = tr.self_times()
    assert st[0] == pytest.approx(0.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(1.5)
    layers = tr.layer_self_seconds()
    assert layers == pytest.approx({"registry": 3.0, "driver": 1.5, "exec": 5.0,
                                    "catalyst": 0.5})
    # layers cover the op exactly: nothing is counted twice or lost
    assert sum(layers.values()) == pytest.approx(10.0)


def test_tracer_wraps_only_while_installed():
    class Target:
        @staticmethod
        def work(x):
            return x + 1

    tr = Tracer(True)
    tr.register(Target, "work", "t.work_ms", "t")
    orig = Target.work
    tr.install()
    assert Target.work(1) == 2
    tr.uninstall()
    assert Target.work is orig
    assert [s["name"] for s in tr.spans] == ["t.work_ms"]


EVENTLOG = os.path.join(HERE, "testdata", "eventlog_small.jsonl")


def test_eventlog_attributes_jobs_to_groups():
    with open(EVENTLOG) as fh:
        jobs, executions = eventlog.parse(fh)
    groups = {(j["group"], j["desc"]) for j in jobs.values()}
    assert ("wl:alpha", "force") in groups
    assert ("wl:beta", "construct") in groups
    for j in jobs.values():
        assert j["ok"] and j["end"] >= j["start"]
        assert j["totals"]["tasks"] == len(j["tasks"]) > 0
    def group(prefix):
        return eventlog.totals(j for j in jobs.values() if (j["group"] or "").startswith(prefix))

    alpha, beta, both = group("wl:alpha"), group("wl:beta"), group("wl:")
    assert alpha["jobs"] >= 1 and beta["jobs"] >= 1
    assert both["tasks"] == alpha["tasks"] + beta["tasks"]
    # beta's group-by shuffles more than alpha's one-row sum
    assert beta["shuffle_write_bytes"] > alpha["shuffle_write_bytes"] > 0
    assert beta["shuffle_read_bytes"] > 0
    assert both["task_run_s"] >= 0 and both["failed_tasks"] == 0


def test_eventlog_sql_executions_hold_their_jobs():
    with open(EVENTLOG) as fh:
        lines = fh.readlines()
    jobs, executions = eventlog.parse(lines)
    assert {(e["group"], e["desc"]) for e in executions.values()} == {
        ("wl:alpha", "force"), ("wl:beta", "construct"), ("other", "idle")}
    for line in lines:
        ev = json.loads(line)
        if ev["Event"] == "SparkListenerJobStart":
            ex = executions[int(ev["Properties"]["spark.sql.execution.id"])]
            job = jobs[ev["Job ID"]]
            assert ex["start"] <= job["start"] <= job["end"] <= ex["end"]
            assert ex["group"] == job["group"]


def test_face_order_is_a_function_of_the_seed():
    a = workloads.fixture_order(7, 0)
    assert a == workloads.fixture_order(7, 0)
    assert sorted(a) == sorted(workloads.FIXTURE_FACES)
    assert a != workloads.fixture_order(8, 0)
    assert a != workloads.fixture_order(7, 1)


def _digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            with open(os.path.join(path, name), "rb") as fh:
                h.update(name.encode() + fh.read())
    return h.hexdigest()


def test_generated_data_is_a_function_of_the_seed(tmp_path):
    a = datagen.generate(str(tmp_path / "a"), 0.002, 3)
    b = datagen.generate(str(tmp_path / "b"), 0.002, 3)
    c = datagen.generate(str(tmp_path / "c"), 0.002, 4)
    assert a == b
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert set(datagen.TABLES) <= set(a)
    # a cached copy is reused, not redrawn
    assert datagen.generate(str(tmp_path / "a"), 0.002, 3) == a


def test_planted_documents_are_near_duplicates(tmp_path):
    import pyarrow.parquet as pq

    rows = datagen.generate(str(tmp_path / "d"), 0.02, 5)
    docs = pq.read_table(str(tmp_path / "d" / "documents.parquet")).to_pylist()
    src = datagen.planted_sources(datagen.Draws(5), "doc", len(docs))
    planted = np.flatnonzero(src >= 0)
    assert len(planted) == rows["planted_docs"]
    share = len(planted) / len(docs)
    assert abs(share - datagen.DUP_SHARE) < 0.02

    def shingles(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    jac = []
    for i in planted:
        a, b = docs[i], docs[src[i]]
        assert (a["lang"], a["source"]) == (b["lang"], b["source"])
        sa, sb = shingles(a["text"]), shingles(b["text"])
        jac.append(len(sa & sb) / len(sa | sb))
    # most copies clear dedup_ngram_jaccard's 0.8 threshold
    assert np.median(jac) >= 0.8


def test_mdx_docs_are_seeded_and_valid():
    a = workloads.mdx_doc(np.random.default_rng(1), 42)
    assert a == workloads.mdx_doc(np.random.default_rng(1), 42)
    assert a != workloads.mdx_doc(np.random.default_rng(2), 42)
    assert a.startswith("## Context\n")
    assert all("d42." in line for line in a.splitlines() if not line.startswith("#"))


def test_exact_topk_scores():
    rng = np.random.default_rng(0)
    emb = rng.normal(size=(50, 8))
    q = rng.normal(size=8).tolist()
    got = workloads.exact_topk_scores(q, emb, 5)
    cos = [float(v @ q) / (np.linalg.norm(v) * np.linalg.norm(q)) for v in emb]
    want = sorted((c for c in cos if c >= 0), reverse=True)[:5]
    assert got.tolist() == pytest.approx(want)
    assert all(math.isfinite(x) for x in got)


_REAP = """
import os, subprocess, sys, time
sys.path.insert(0, {here!r})
import run
run.become_subreaper()
# the shell exits at once and leaves its background sleep orphaned
subprocess.Popen(["sh", "-c", "sleep {sleep} & exit 0"]).wait()
assert run.descendants(os.getpid()), "the orphaned sleep was not adopted"
t0 = time.monotonic()
run.end_children(grace_s={grace})
assert not run.descendants(os.getpid())
print(time.monotonic() - t0)
"""


@pytest.mark.parametrize("sleep, grace, lo, hi", [
    (1.5, 30.0, 1.0, 20.0),   # waits for a descendant that ends by itself
    (60.0, 0.5, 0.0, 20.0),   # kills one that outlives the grace time
])
def test_end_children_leaves_no_descendant(sleep, grace, lo, hi):
    code = _REAP.format(here=HERE, sleep=sleep, grace=grace)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert lo <= float(out.stdout) <= hi
