"""Self-tests of the benchmark: seeded inputs, the answer checkers, and a
smoke run of each workload.

    python -m pytest perfbench -q -p no:cacheprovider

The smoke runs start Spark (about a minute each; the first one in a
checkout also builds the standing index).
"""

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import checks  # noqa: E402
import inputs  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def test_same_seed_same_inputs():
    a, b = inputs.crawl_batch(7, 300), inputs.crawl_batch(7, 300)
    assert a.rows == b.rows and a.truth == b.truth
    assert inputs.crawl_batch(8, 300).rows != a.rows
    assert inputs.api_requests(7) == inputs.api_requests(7)
    assert inputs.api_requests(8) != inputs.api_requests(7)


def test_inputs_have_the_stated_shape():
    batch = inputs.crawl_batch(3, 2000)
    props = batch.properties()
    assert abs(props["mention_share"] - inputs.MENTION_SHARE) < 0.05
    assert 1500 < props["page_bytes_mean"] < 2500
    stream = inputs.api_requests(3)
    for block in stream.blocks:
        kinds = [r.kind for r in block]
        assert kinds.count("search") == len(inputs.KINDS)
        assert kinds.count("lookup") == 5 and len(kinds) == 10
    texts = [r.arg for block in [sum(stream.warmup.values(), [])]
             + stream.blocks for r in block if r.kind == "search"]
    assert len(texts) == len(set(texts))


def _correct_crawl_answers(batch):
    extracted, answers = {}, {}
    for url, place in batch.truth.items():
        if place is not None:
            extracted[url] = [place.text]
            answers[url] = place.ref
    return extracted, answers


def test_crawl_checker_flags_corrupted_answer():
    batch = inputs.crawl_batch(5, 400)
    extracted, answers = _correct_crawl_answers(batch)
    assert checks.crawl_failures(batch, extracted, answers) == 0
    url = next(iter(answers))
    t, i = answers[url]
    assert checks.crawl_failures(
        batch, extracted, {**answers, url: (t, i + 1)}) == 1
    assert checks.crawl_failures(
        batch, {**extracted, url: ["Nowhere 1, Vels"]}, answers) == 1
    blank = next(u for u, p in batch.truth.items() if p is None)
    assert checks.crawl_failures(
        batch, extracted, {**answers, blank: ("N", 1)}) == 1


def test_request_checker_flags_corrupted_answer():
    stream = inputs.api_requests(5)
    for req in stream.blocks[0]:
        right = sorted(req.expect) if req.kind == "lookup" else [req.expect]
        assert checks.request_ok(req, right)
        wrong = right[:-1] if req.kind == "lookup" else [("R", 99999)]
        assert not checks.request_ok(req, wrong)
        assert not checks.request_ok(req, right + [("N", 1)])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_smoke_run_prints_every_metric(workload):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    names = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    assert all(v["value"] > 0 for v in result["metrics"].values())
