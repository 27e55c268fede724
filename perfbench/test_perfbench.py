"""Tests of the benchmark itself, at a tiny size.

    python3 -m pytest perfbench -q -p no:cacheprovider

The two end-to-end tests each start one Spark session in a child
process (about 40 s each on 4 cores).
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from spans import layer_metrics, self_times  # noqa: E402


def _same(a, b):
    return a[0].keys() == b[0].keys() and all(a[0][k].equals(b[0][k]) for k in a[0]) and a[1] == b[1]


@pytest.mark.parametrize(
    "make, n",
    [(gen.orders_pair, 500), (gen.lineitem_pair, 800), (gen.corpus, 300), (gen.vectors, 200)],
)
def test_generators_are_deterministic_per_seed(make, n):
    a, b, c = make(5, n), make(5, n), make(6, n)
    # vectors' truth holds numpy arrays; compare through their lists
    norm = lambda t: json.dumps(t, default=lambda x: x.tolist(), sort_keys=True)  # noqa: E731
    assert _same((a[0], norm(a[1])), (b[0], norm(b[1])))
    assert not _same((a[0], norm(a[1])), (c[0], norm(c[1])))


def test_corpus_truth_matches_its_texts():
    tables, truth = gen.corpus(3, 400)
    texts = dict(zip(tables["docs"].column("doc_id").to_pylist(), tables["docs"].column("text").to_pylist()))
    assert len(texts) == truth["n_docs"]
    assert sum(t is None or len(t) < 8 for t in texts.values()) == truth["short"]
    assert all(texts[a] == texts[b] for a, b in truth["exact_pairs"])
    # one same-length word edit keeps the pair near under the dedup shingles
    assert all(gen.jaccard(texts[a], texts[b]) >= 0.5 for a, b in truth["near_pairs"])


def test_compare_truth_matches_row_counts():
    tables, truth = gen.orders_pair(4, 1000)
    assert tables["source"].num_rows == truth["src_total"]
    assert tables["target"].num_rows == truth["tgt_total"]
    tables, truth = gen.lineitem_pair(4, 1000)
    assert tables["source"].num_rows == truth["src_total"]
    assert tables["target"].num_rows == truth["tgt_total"]


def test_self_time_and_layer_attribution():
    spans = [
        {"id": 0, "name": "round", "module": "round", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "dedup.f", "module": "dedup", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "name": "text.g", "module": "text", "parent": 0, "start": 4.0, "end": 6.0},
    ]
    assert self_times(spans) == {0: 5.0, 1: 4.0, 2: 2.0}
    jobs = {
        7: {"group": "perfbench-1", "submit": 2.0, "end": 3.0, "stages": [1, 2]},
        8: {"group": "perfbench-1", "submit": 2.5, "end": 4.0, "stages": [3]},
    }
    stages = {
        (1, 0): {"internal.metrics.executorRunTime": 1500.0, "internal.metrics.shuffle.write.bytesWritten": 2e6},
        (3, 0): {"internal.metrics.executorRunTime": 500.0, "data sent to Python workers": 1e6},
    }
    m = layer_metrics(spans, jobs, stages)
    # 4 s span, jobs cover [2, 4]: 2 s of driver time; stage 2 was skipped
    assert m["dedup"]["driver_s"] == pytest.approx(2.0)
    assert m["dedup"]["task_s"] == pytest.approx(2.0)
    assert m["dedup"]["shuffle_mb"] == pytest.approx(2.0)
    assert m["dedup"]["python_mb"] == pytest.approx(1.0)
    assert m["dedup"]["stages"] == 2
    assert m["text"]["driver_s"] == pytest.approx(2.0)


def _run(*extra, cwd=ROOT, script=os.path.join(BENCH, "run.py")):
    cmd = [sys.executable, script, "--workload", "compare_job", "--seed", "3", "--seconds", "1", "--size", "tiny", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_end_to_end_metric_is_printed_with_its_unit():
    p = _run("--trace", "0")
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_per_layer_metrics_and_counts_a_corrupted_output():
    p = _run("--trace", "1", "--corrupt")
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["comparison.driver_s"]["value"] > 0
    assert result["metrics"]["jobs.stages"]["value"] > 0
    # the round's column report was damaged after the write
    assert not result["correct"] and result["failed"] >= 1


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(cwd=tmp_path, script=str(tmp_path / "perfbench" / "run.py"))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
