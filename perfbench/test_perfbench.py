"""Benchmark tests: input determinism, the span bookkeeping, and one
end-to-end run per mode whose printed metric names must match
BENCHMARK.json.

    python -m pytest perfbench -q        # the end-to-end runs take minutes
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus  # noqa: E402
from perfbench.trace import Tracer, nesting_errors, self_times  # noqa: E402


def _tree_sha(path: str) -> str:
    h = hashlib.sha1()
    for f in sorted(os.listdir(path)):
        h.update(f.encode())
        with open(os.path.join(path, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _written(tmp_path, name: str, seed: int) -> str:
    out = str(tmp_path / name)
    corpus.write_documents(corpus.diverse_documents(seed, 300), out)
    return _tree_sha(out)


def test_diverse_input_is_a_function_of_the_seed(tmp_path):
    a = _written(tmp_path, "a", 7)
    assert a == _written(tmp_path, "b", 7)
    assert a != _written(tmp_path, "c", 8)


def test_diverse_corpus_has_no_repeats_and_a_growing_vocabulary():
    docs = corpus.diverse_documents(3, 300)
    corpus.check_diverse(docs)
    texts = [sum(sp["kind"] == "text" for sp in d["spans"]) for d in docs]
    assert texts.count(corpus.LONG_SENTS) == 300 // corpus.LONG_EVERY
    dup = docs + [docs[0]]
    with pytest.raises(ValueError, match="repeated"):
        corpus.check_diverse(dup)


def test_self_time_is_duration_minus_children():
    tr = Tracer("t")
    with tr.span("bench.outer"):
        time.sleep(0.01)
        with tr.span("mentions"):
            time.sleep(0.02)
        with tr.span("grounding.map"):
            time.sleep(0.01)
    assert nesting_errors(tr.spans) == []
    st = self_times(tr.spans)
    outer, m, g = tr.spans
    assert st[m["id"]] == pytest.approx(m["end"] - m["start"])
    kids = (m["end"] - m["start"]) + (g["end"] - g["start"])
    assert st[outer["id"]] == pytest.approx(
        outer["end"] - outer["start"] - kids)
    assert all(v >= 0 for v in st.values())


def test_nesting_errors_reports_a_child_outside_its_parent():
    spans = [
        {"id": 0, "name": "bench.run", "parent": None, "run_id": "r",
         "start": 0.0, "end": 1.0, "attrs": {}},
        {"id": 1, "name": "mentions", "parent": 0, "run_id": "r",
         "start": 0.5, "end": 1.5, "attrs": {}},
    ]
    assert any("outside parent" in e for e in nesting_errors(spans))


def test_disabled_tracer_records_nothing():
    tr = Tracer("t", enabled=False)
    with tr.span("mentions") as a:
        a["rows"] = 1
    assert tr.spans == []


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(spec, workload: str, trace: int) -> dict:
    r = subprocess.run(
        spec["command"] + ["--workload", workload, "--seed", "0",
                           "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    return {"result": json.loads(lines[-1]),
            "context": json.loads(lines[-2])["context"]}


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_match_benchmark_json(spec, trace):
    out = _run(spec, "flagship", trace)
    res = out["result"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, out["context"]["errors"]
    want = spec["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        {m["name"]: m["unit"] for m in want}
    if trace:
        spans = [json.loads(line) for line in
                 open(os.path.join(ROOT, out["context"]["trace_file"]))]
        assert nesting_errors(spans) == []
        assert min(self_times(spans).values()) >= 0
