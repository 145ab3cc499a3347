"""Self-tests of the benchmark's own code; no Spark session needed.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
import hostmetrics as H  # noqa: E402


def test_corpus_same_seed_same_pages(tmp_path):
    a = corpus.make_corpus(300, seed=5)
    b = corpus.make_corpus(300, seed=5)
    assert a == b
    assert corpus.make_corpus(300, seed=6).texts != a.texts
    pa_ = corpus.write_parquet(a, str(tmp_path / "a"), 3)
    pb_ = corpus.write_parquet(b, str(tmp_path / "b"), 3)
    for x, y in zip(pa_, pb_):
        assert pq.read_table(x).equals(pq.read_table(y))


def test_corpus_plants_findable_twins():
    c = corpus.make_corpus(400, seed=9)
    text = dict(zip(c.urls, c.texts))
    assert len(set(c.urls)) == len(c)
    assert c.twins
    openings = [" ".join(t.split()[:corpus.TEMPLATE_WORDS]) for t in c.texts]
    assert max(openings.count(o) for o in set(openings)) >= 3  # boilerplate

    def shingles(t):
        w = t.split()
        return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

    for a, b in c.twins:
        sa, sb = shingles(text[a]), shingles(text[b])
        # well above the pipeline's 0.7 verify threshold
        assert len(sa & sb) / len(sa | sb) >= 0.8


def test_pair_recall_on_hand_made_pairs():
    truth = [(1, 2), (3, 4), (5, 6)]
    assert H.pair_recall(truth, {(2, 1), (3, 4), (7, 8)}) == pytest.approx(2 / 3)
    labels = {1: "a", 2: "a", 3: "b", 4: "c", 5: "d"}
    assert H.pair_recall(truth, labels) == pytest.approx(1 / 3)
    with pytest.raises(ValueError):
        H.pair_recall([], set())


def test_tail_percentile_keeps_ten_samples_beyond():
    values = [float(v) for v in range(30, 0, -1)]
    tail = H.tail_percentile(values)
    assert tail["samples"] == 30
    assert sum(v > tail["value"] for v in values) == 10
    assert tail["value"] == 20.0
    assert tail["percentile"] == pytest.approx(66.67)
    assert H.tail_percentile(values[:10]) is None
    eleven = H.tail_percentile(list(range(11)))
    assert eleven["value"] == 0 and eleven["percentile"] == pytest.approx(9.09)


BURN = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.4: pass\n"


def test_tree_cpu_counts_a_reaped_child():
    before = H.tree_cpu_seconds()
    subprocess.run([sys.executable, "-c", BURN], check=True)  # waits: reaped
    after = H.tree_cpu_seconds()
    assert after - before >= 0.35


def test_tree_cpu_counts_a_live_grandchild():
    # the child spawns a burning grandchild and waits on it, so while it
    # runs the grandchild is live and only the tree walk can see it
    code = (
        "import subprocess,sys\n"
        f"subprocess.run([sys.executable,'-c',{BURN!r}])\n"
    )
    p = subprocess.Popen([sys.executable, "-c", code])
    try:
        seen = 0.0
        while p.poll() is None:
            seen = max(seen, H.tree_cpu_seconds(p.pid))
        assert seen >= 0.2
    finally:
        p.wait(timeout=30)


def test_process_tree_lists_children():
    p = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert p.pid in H.process_tree(os.getpid())
    finally:
        p.kill()
        p.wait(timeout=30)


def test_steal_and_host_delta_are_readable():
    a = H.host_sample()
    b = H.host_sample()
    d = H.host_delta(a, b)
    assert d["steal_s"] >= 0 and set(d) == {"steal_s", "loadavg_before", "loadavg_after"}


def test_benchmark_json_matches_what_the_runner_prints():
    import run
    from tracing import per_layer_names

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END_UNITS
    layers = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    assert layers == [(n, run.per_layer_unit(n)) for n in per_layer_names()]
    from workloads import WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
