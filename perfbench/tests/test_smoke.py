"""Smoke test of the benchmark: every workload, traced and untraced, at
the tiny size, plus the BENCHMARK.json contract. Takes a few minutes
(a fresh Spark session per run).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import common, metrics  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    # a process the run leaves behind is re-parented here and shows
    # among this process' descendants, a zombie too
    common.adopt_orphans()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    assert not common.descendants()
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_runs_and_checks_its_output(workload, trace):
    details, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert set(result["metrics"]) == set(want)
    for name, m in result["metrics"].items():
        assert m["unit"] == want[name]
        assert isinstance(m["value"], float)
    if not trace:
        assert all(result["metrics"][k]["value"] > 0
                   for k in metrics.END_TO_END)
        return
    layers = result["metrics"]
    assert layers["spark.jobs"]["value"] > 0
    if workload == "semantic_etl":
        assert layers["models.lm.requests"]["value"] > 0
        assert layers["operators.sem_filter.prompts"]["value"] >= 120
        assert layers["split.operators.sem_filter.rows_in"]["value"] == 120
        assert 0 < layers["models.lm.useful_ratio"]["value"] <= 1
    else:
        assert layers["index_cdc.rows_upserted"]["value"] > 0
        assert layers["read.jobs"]["value"] > 0
        assert layers["split.bm25_store.search.jobs"]["value"] > 0
        assert layers["serving.batch.jobs"]["value"] > 0


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for section, table in (("end_to_end", metrics.END_TO_END),
                           ("per_layer", metrics.PER_LAYER)):
        got = {m["name"]: (m["unit"], m["better"]) for m in bench[section]}
        assert got == {k: (u, metrics.better(k)) for k, u in table.items()}


def test_seeded_inputs_repeat():
    from perfbench import gen

    a, _ = gen.reviews(7, 50)
    b, _ = gen.reviews(7, 50)
    c, _ = gen.reviews(8, 50)
    assert a["text"] == b["text"] and a["text"] != c["text"]
    t0, _ = gen.corpus(7, 100)
    t1a, info = gen.snapshot_t1(7, t0)
    t1b, _ = gen.snapshot_t1(7, t0)
    assert list(t1a["doc_id"]) == list(t1b["doc_id"])
    # every added doc that is not a copy of a T0 doc is in one fresh group
    fresh = sorted(i for g in info["fresh_groups"] for i in g)
    assert len(fresh) < len(info["added_ids"])
    assert set(fresh) <= set(info["added_ids"])
    _, props = gen.query_stream(7, t1a, 12, history=4)
    assert props["queries"] == 8
    assert props["fresh_term_share"] <= props["unseen_term_share"] < 1


def test_simulated_lm_ignores_the_instruction():
    from perfbench import simlm

    doc = "[text]: «the lid is fine»\n"
    msg = f"Context:\n{doc}\n\nClaim: {simlm.FILTER_INSTRUCTION}"
    assert simlm.answer("filter", simlm.document_part(msg)) == "False"
    msg = f"Context:\n{doc}\n\nInstruction: {simlm.MAP_INSTRUCTION}"
    assert simlm.answer("map", simlm.document_part(msg)) == simlm.NO_PART
