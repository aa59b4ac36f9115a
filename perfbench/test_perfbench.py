"""Smoke tests of the benchmark itself (tiny corpora, about a minute).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import common as C  # noqa: E402
from perfbench import http_hot_mixed, query_unique  # noqa: E402

TINY = {"ingest_merge": 2000, "query_unique": 2000, "http_hot_mixed": 1000}


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module", params=sorted(TINY))
def traced_run(request):
    wl = request.param
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
         "--seed", "3", "--seconds", "1", "--trace", "1",
         "--docs", str(TINY[wl])],
        cwd=ROOT, capture_output=True, text=True, timeout=170)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    e2e = next(json.loads(ln.split(" ", 1)[1]) for ln in lines
               if ln.startswith("end_to_end "))
    return wl, e2e, json.loads(lines[-1])


def test_every_metric_printed_with_unit(traced_run):
    _wl, e2e, result = traced_run
    bench = _bench()
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    for section, printed in (("end_to_end", e2e),
                             ("per_layer", result["metrics"])):
        for m in bench[section]:
            assert printed[m["name"]]["unit"] == m["unit"], m["name"]
            assert isinstance(printed[m["name"]]["value"], float)
    for m in bench["end_to_end"]:
        assert e2e[m["name"]]["value"] > 0, m["name"]


def test_outermost_spans_cover_traced_wall(traced_run):
    _wl, _e2e, result = traced_run
    assert result["metrics"]["trace.root_coverage"]["value"] >= 0.9


def test_gate_flags_corrupted_in_process_answer():
    with tempfile.TemporaryDirectory(dir=ROOT) as work:
        pdf, _dir, searcher, _build = query_unique._build(
            work, 1500, 5, "t")
        sha = C.expected_sha(pdf)
        qgen = C.QueryGen(5)
        ops, _, _ = query_unique.run_loop(searcher, qgen, 0.5)
        ops = [o for o in ops if o["hits"]][:4]
        assert len(ops) == 4
        assert query_unique.verify(ops, searcher, sha) == 0
        key, score, digest = ops[0]["hits"][0]
        ops[0]["hits"][0] = (key, score + 1.0, digest)   # wrong score
        sha[ops[1]["hits"][0][0]] = "0" * 64              # wrong document
        assert query_unique.verify(ops, searcher, sha) == 2


def test_gate_flags_corrupted_http_answer():
    key = ("org1/repo1", "src/a.py", "c1")
    doc = {"repo": key[0], "path": key[1], "commit": key[2],
           "sha256": "ab" * 32}
    hot = ["merge"]
    expected = {"merge": ([(key, 1.5)], 7)}
    sha = {key: "ab" * 32}
    native = {"kind": "native", "arg": 0, "status": 200,
              "body": json.dumps({"num_hits": 7, "hits": [doc]}).encode()}
    es = {"kind": "es", "arg": 0, "status": 200, "body": json.dumps(
        {"hits": {"total": {"value": 7},
                  "hits": [{"_score": 1.5, "_source": doc}]}}).encode()}
    check = http_hot_mixed.check
    assert check(native, hot, expected, sha)
    assert check(es, hot, expected, sha)
    bad = {"merge": ([(key, 1.25)], 7)}
    assert not check(es, hot, bad, sha)
    assert not check(native, hot, {"merge": ([(key, 1.5)], 8)}, sha)
    assert not check(native, hot, expected, {key: "cd" * 32})
