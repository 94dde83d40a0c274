"""Workload ``semantic_etl``: sem_filter -> sem_map -> sem_join -> sem_agg.

A generated review table goes through the paper's core path against
the simulated LM: keep the complaints, name the part each one is about,
join the part to its department (a six-row table), and fold each
department's complaints into one summary. A unit is one pass over the
whole table, materialized by collecting the per-department summaries,
which are then compared with the pure-Python evaluation of the same
model.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from lotus_spark import sem_agg, sem_filter, sem_join, sem_map
from perfbench import common, gen, simlm
from perfbench.trace import layer_totals


class SemanticETL:
    name = "semantic_etl"
    setup_reps = 3
    min_steps = 3
    # a traced run cycles through an untraced pass, a traced pass of the
    # same plan, and a traced pass with each operator's output pinned
    trace_modes = ("plain", "traced", "split")

    def __init__(self, ctx):
        self.ctx = ctx
        sz = ctx.size
        self.lms = {
            task: simlm.CountingCache(simlm.SimLM(
                task, ctx.meter, sz["lm_service_s"],
                sz["lm_max_batch_size"]))
            for task in ("filter", "map", "join", "agg")}

    def generate(self) -> dict:
        ctx = self.ctx
        table, props = gen.reviews(ctx.seed, ctx.size["etl_rows"])
        self.rows = table
        self.src = ctx.path("gen", "reviews.parquet")
        self.cats = ctx.path("gen", "categories.parquet")
        os.makedirs(ctx.path("gen"), exist_ok=True)
        gen.write_table(table, self.src)
        gen.write_table(gen.categories(), self.cats)
        self.expected = expected_summaries(table["text"])
        return {"reviews": props,
                "lm": {"service_s": ctx.size["lm_service_s"],
                       "max_batch_size": ctx.size["lm_max_batch_size"]}}

    def setup(self, rep: int) -> None:
        """Ingest the generated reviews as the pipeline's source table."""
        spark = self.ctx.spark
        self.table = common.fresh_dir(
            self.ctx.path("tables", f"reviews{rep}"))
        spark.read.parquet(self.src).write.parquet(self.table)

    def unit(self, split: bool = False):
        """One pass. Traced, every operator call runs in its own span;
        with ``split`` each operator's output is also pinned inside its
        span (``_pin``), which rewrites the plan, so those spans are
        named ``split.``."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        cats = spark.read.parquet(self.cats)
        lm = self.lms
        steps = (
            ("sem_filter", lambda d: sem_filter(
                d, simlm.FILTER_INSTRUCTION, lm=lm["filter"])),
            ("sem_map", lambda d: sem_map(
                d, simlm.MAP_INSTRUCTION, lm=lm["map"], suffix="part")),
            ("sem_join", lambda d: sem_join(
                d, cats, simlm.JOIN_INSTRUCTION, lm=lm["join"])),
        )
        df, n = spark.read.parquet(self.table), self.work_items()
        pre = "split." if split else ""
        with tr.span("split" if split else "unit"):
            for op, fn in steps:
                with tr.span(f"{pre}operators.{op}") as s:
                    df = fn(df)
                    if split:
                        df, n = _pin(df, s, n)
            with tr.span(f"{pre}operators.sem_agg") as s:
                rows = sem_agg(df, simlm.AGG_INSTRUCTION, lm=lm["agg"],
                               group_by=["category"]).collect()
                if split:
                    s.counts.update({f"{s.name}.rows_in": n,
                                     f"{s.name}.rows_out": len(rows)})
        return {r["category"]: r["_output"] for r in rows}

    def work_items(self) -> int:
        return len(self.rows["text"])

    def step(self, mode: str = "plain") -> dict:
        before = self.ctx.meter.snapshot()
        t0 = time.perf_counter()
        result = self.unit(split=mode == "split")
        dt = time.perf_counter() - t0
        used = simlm.delta(before, self.ctx.meter.snapshot())
        return {"s": dt, "ok": result == self.expected,
                "lm_requests": _total(used, "requests"),
                "lm_prompt_tokens": _total(used, "prompt_tokens")}

    def warm(self, traced: bool) -> None:
        """One untimed pass: the first pass in a process pays Python-worker
        start and JIT, about twice a warm pass."""
        self.unit()

    def overhead(self, records: list[dict]) -> float:
        """Traced passes against the untraced passes between them."""
        traced = [r["s"] for r in records if r["mode"] == "traced"]
        plain = [r["s"] for r in records if r["mode"] == "plain"]
        return common.median(traced) / common.median(plain) - 1.0

    def end_to_end(self, records: list[dict]) -> tuple[dict, dict]:
        passes = [r["s"] for r in records]
        metrics = {
            "unit_p50_s": common.median(passes),
            "quality": sum(r["ok"] for r in records) / len(records),
        }
        extra = {"passes": len(passes), "pass_s": passes,
                 "rows_per_s": self.work_items() / metrics["unit_p50_s"],
                 "lm_requests_per_pass": common.median(
                     [r["lm_requests"] for r in records]),
                 "lm_prompt_tokens_per_pass": common.median(
                     [r["lm_prompt_tokens"] for r in records])}
        return metrics, extra

    def quality_ok(self, metrics: dict) -> bool:
        return metrics["quality"] == 1.0

    def layers(self, spans, jobs, usage) -> dict:
        """Span and job totals per traced pass of the program's plan, the
        operator split of the pinned passes (``split.``), and LM usage
        per pass of the program's plan (``usage`` holds those passes'
        counter growth), split by operator through each operator's own
        model."""
        out = layer_totals(spans, jobs)
        split = layer_totals(spans, jobs, "split")
        out.update({k: v for k, v in split.items()
                    if k.startswith("split.")})
        n = max(1, usage.get("steps", 0))
        req = _total(usage, "requests")
        distinct = sum(len(v) for k, v in usage.items() if "@" in k)
        out.update({
            "models.lm.requests": req / n,
            "models.lm.batches": _total(usage, "batches") / n,
            "models.lm.busy_s": _total(usage, "busy_us") / 1e6 / n,
            "models.lm.prompt_tokens": _total(usage, "prompt_tokens") / n,
            "models.lm.useful_ratio": distinct / max(1, req),
            "models.cache.hit_ratio": 1.0 - req / max(
                1, _total(usage, "offered")),
        })
        for task in self.lms:
            op = f"operators.sem_{task}"
            out[f"{op}.prompts"] = usage.get(f"{task}.offered", 0) / n
            out[f"{op}.lm_requests"] = usage.get(f"{task}.requests", 0) / n
        return out


def _pin(df, span, rows_in: int):
    """Pin an operator's output inside its span, so the operator's jobs
    and time are its own, and count its rows with an observation (no
    extra job). Only the split passes do this; every other pass runs the
    program's one lazy plan."""
    obs = Observation(span.name)
    df = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint()
    rows_out = int(obs.get["rows"])
    span.counts.update({f"{span.name}.rows_in": rows_in,
                        f"{span.name}.rows_out": rows_out})
    return df, rows_out


def _total(usage: dict, counter: str) -> int:
    return sum(v for k, v in usage.items() if k.endswith("." + counter)
               and not isinstance(v, set))


def expected_summaries(texts) -> dict[str, str]:
    """The pipeline evaluated in Python with the simulated model's rules."""
    acc: dict[str, list[int]] = {}
    for t in texts:
        if not simlm.filter_answer(t):
            continue
        part = simlm.map_answer(t)
        for cat in simlm.CATEGORIES:
            if simlm.join_answer(part, cat):
                a = acc.setdefault(cat, [0, 0])
                a[0] += 1
                a[1] += len(t.split())
    return {c: simlm.agg_summary(n, w) for c, (n, w) in acc.items()}
