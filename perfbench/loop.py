"""Runs one workload: generate, set up, measure in a closed loop, check.

A workload object provides:

- ``generate()``: writes the seeded inputs, returns their properties;
- ``setup(rep)``: builds the state the loop needs (timed, repeated
  ``setup_reps`` times);
- ``warm(traced)``: untimed work after set-up that the loop should not
  pay for on its first step;
- ``step(mode)``: one request of the closed loop, returning a record
  with its wall time ``s`` and ``ok``, and optionally
  ``attempted``/``failed``. ``mode`` is ``plain`` (untraced) in a timed
  run; a traced run cycles through ``trace_modes``: ``plain``,
  ``traced`` (the same plan in spans) and ``split`` (traced, with the
  plan rewritten so each call's cost is its own);
- ``overhead(records)``: the trace overhead, from traced requests
  against untraced ones;
- ``end_to_end(records)``: the end-to-end metrics plus details;
- ``quality_ok(metrics)``: the run-level output check;
- ``layers(spans, jobs, usage)``: the per-layer metrics of a traced run.

One client thread sends the next step only after the previous one
returned; the loop runs for the given seconds and at least ``min_steps``
steps, and every step it runs is reported.
"""

from __future__ import annotations

import os
import time

from perfbench import common, metrics, simlm, trace


def _closed_loop(seconds: float, step, min_steps: int) -> list[dict]:
    records = []
    deadline = time.perf_counter() + seconds
    while len(records) < min_steps or time.perf_counter() < deadline:
        records.append(step())
    return records


def run(cls, seed: int, size: dict, seconds: float, traced: bool,
        work: str) -> tuple[dict, dict]:
    log_dir = os.path.join(work, "eventlog") if traced else None
    phase, t_phase = {}, [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phase[name] = now - t_phase[0]
        t_phase[0] = now

    spark = common.start_spark(work, log_dir)
    lap("spark_start")
    try:
        tracer = trace.Tracer(spark.sparkContext, enabled=False)
        meter = simlm.Meter(spark.sparkContext)
        wl = cls(common.Ctx(spark, seed, size, work, tracer, meter))
        details = {"workload": wl.name, "seed": seed, "seconds": seconds,
                   "trace": int(traced), "cores": common.cores(),
                   "client": "closed loop, one thread",
                   "inputs": wl.generate()}
        lap("generate")
        setup_s = [common.timed(wl.setup, rep)[0]
                   for rep in range(wl.setup_reps)]
        details["setup_s_samples"] = setup_s
        lap("setup")
        wl.warm(traced)
        lap("warm")
        usage: dict = {}

        def trace_step() -> dict:
            mode = wl.trace_modes[len(records) % len(wl.trace_modes)]
            tracer.enabled = mode != "plain"
            meter.epoch = len(records) + 1
            before = meter.snapshot()
            rec = wl.step(mode)
            rec["mode"] = mode
            if mode != "split":
                # LM usage of the program's own plan
                usage["steps"] = usage.get("steps", 0) + 1
                for k, v in simlm.delta(before, meter.snapshot()).items():
                    if isinstance(v, set):
                        usage.setdefault(k, set()).update(v)
                    else:
                        usage[k] = usage.get(k, 0) + v
            tracer.enabled = False
            meter.epoch = 0
            records.append(rec)
            return rec

        records: list[dict] = []
        if traced:
            _closed_loop(seconds, trace_step,
                         wl.min_steps * len(wl.trace_modes))
        else:
            records = _closed_loop(seconds, wl.step, wl.min_steps)
            for r in records:
                r["mode"] = "plain"
        # a traced run's end-to-end figures are for its details only
        plain = [r for r in records if r["mode"] == "plain"] or records
        e2e, extra = wl.end_to_end(plain)
        e2e["setup_s"] = common.median(setup_s)
        details["end_to_end"] = e2e
        details.update(extra)
        quality_ok = wl.quality_ok(e2e)
        lap("loop")
    finally:
        common.stop_spark(spark)
    lap("spark_stop")
    attempted = sum(r.get("attempted", 1) for r in records)
    failed = sum(r.get("failed", 0 if r["ok"] else 1) for r in records)
    if traced:
        jobs = trace.parse_event_log(trace.event_log_file(log_dir))
        layers = wl.layers(tracer.spans, jobs, usage)
        layers["trace.overhead_frac"] = wl.overhead(records)
        details["layers"] = layers
        reported = metrics.per_layer(layers)
    else:
        reported = metrics.end_to_end(e2e)
    lap("report")
    details["phase_s"] = phase
    details["quality_ok"] = quality_ok
    result = {"correct": failed == 0 and quality_ok,
              "attempted": attempted, "failed": failed,
              "metrics": reported}
    return details, result
