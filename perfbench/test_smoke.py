"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q      (from the checkout root)

Runs every workload untraced and traced with ``--scale tiny`` and checks
that the last stdout line carries exactly the metrics BENCHMARK.json
declares, that the outputs were correct, and that the traced runs wrote
spans for every layer the per-layer metrics name.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEED = 7

# span-name prefixes each workload's traced run must record; the catalog's
# traced run also traces the frontier round, which is not a workload of its own
LAYER_SPANS = {
    "site_crawl": ["engine.round", "engine.plan.", "storage.stage.", "storage.commit_multi",
                   "storage.expire", "site_crawl.crawl"],
    "catalog_corpus": ["catalog_corpus.pass"] + [
        f"catalog.{m['name'][len('catalog.'):-len('_s')]}"
        for m in SPEC["per_layer"]
        if m["name"].startswith("catalog.") and m["name"].count(".") == 1
    ] + ["dedup.", "politeness.", "fetcher.", "parse.", "documents.",
         "frontier_round.round", "frontier_round.ladder"],
}


def run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_prints_every_metric(workload, trace):
    res = run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]
        return
    with open(os.path.join(ROOT, ".perfbench_work", "traces", f"{workload}-s{SEED}.json")) as fh:
        spans = json.load(fh)["spans"]
    names = {s["name"] for s in spans}
    for prefix in LAYER_SPANS[workload]:
        assert any(n.startswith(prefix) for n in names), prefix
    for s in spans:
        assert s["end"] is not None and s["end"] >= s["start"]
        assert s["trace"]
    # the event log was read: every traced unit ran Spark jobs
    assert res["metrics"]["spark.jobs"]["value"] > 0


def test_fails_without_the_package():
    """In a directory holding only BENCHMARK.json and the benchmark, it
    exits non-zero and prints no result."""
    import shutil

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
            env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
