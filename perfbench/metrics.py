"""The metric names and units the benchmark reports; BENCHMARK.json lists
the same names (pinned by perfbench/tests/test_smoke.py).

Every workload reports every metric. End-to-end metrics are named for
what they measure on every workload; their per-workload meaning is in
perfbench/README.md. Per-layer metrics a workload does not exercise
read 0. Names starting with ``split.`` come from a rewritten plan (each
operator's output pinned, or a hybrid query run as separate legs), not
from the plan the program runs.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "unit_p50_s": "s",
    "quality": "ratio",
}

_OPS = ("sem_filter", "sem_map", "sem_join", "sem_agg")
_READ_LEGS = ("bm25_store.search", "ann.knn_ivfpq")
_WRITE_STEPS = ("snapshot.diff", "dedup.lsh_dedup", "dedup_index.probe",
                "index_cdc.minhash.apply", "index_cdc.ivfpq.apply",
                "index_cdc.bm25.apply")
_COST = (("s", "s"), ("jobs", "count"))

# name -> unit; every per-layer metric is a cost (lower is better)
# except those in HIGHER_IS_BETTER
PER_LAYER: dict[str, str] = {
    "unit.s": "s",
    "driver.plan_s": "s",
    "driver.self_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.eval_s": "s",
    "python.bytes_to_worker": "B",
    "python.bytes_from_worker": "B",
    **{f"operators.{op}.{m}": "count" for op in _OPS
       for m in ("prompts", "lm_requests")},
    **{f"split.operators.{op}.{m}": u for op in _OPS
       for m, u in (("s", "s"), ("rows_in", "count"),
                    ("rows_out", "count"))},
    "models.lm.requests": "count",
    "models.lm.batches": "count",
    "models.lm.busy_s": "s",
    "models.lm.prompt_tokens": "count",
    "models.lm.useful_ratio": "ratio",
    "models.cache.hit_ratio": "ratio",
    **{f"split.{leg}.{m}": u for leg in _READ_LEGS
       for m, u in _COST + (("input_bytes", "B"),)},
    **{f"split.serving.fuse.{m}": u for m, u in _COST},
    **{f"serving.batch.{m}": u for m, u in _COST},
    **{f"{st}.{m}": u for st in _WRITE_STEPS for m, u in _COST},
    "dedup_index.matches": "count",
    "index_cdc.rows_deleted": "count",
    "index_cdc.rows_upserted": "count",
    "index_cdc.bytes_written": "B",
    "index_cdc.files_after": "count",
    "read.s": "s",
    "read.jobs": "count",
    "read.driver.plan_s": "s",
    "read.driver.self_s": "s",
    "read.spark.tasks": "count",
    "read.spark.input_bytes": "B",
    "trace.overhead_frac": "ratio",
}
HIGHER_IS_BETTER = {"models.lm.useful_ratio", "models.cache.hit_ratio",
                    "dedup_index.matches"}


def better(name: str) -> str:
    if name in END_TO_END:
        return "lower" if END_TO_END[name] == "s" else "higher"
    return "higher" if name in HIGHER_IS_BETTER else "lower"


def _report(values: dict, units: dict) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": u}
            for k, u in units.items()}


def end_to_end(values: dict) -> dict:
    return _report(values, END_TO_END)


def per_layer(values: dict) -> dict:
    return _report(values, PER_LAYER)
