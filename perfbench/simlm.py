"""The benchmark's simulated LM and the knowledge it answers from.

``SimLM`` stands in for a served model. It answers every prompt
deterministically from the *document* part of the prompt (the text
between ``Context:`` and the trailing ``Claim:``/``Instruction:``), so
the operator instruction can never leak into its keyword match. Each
call charges a fixed service time per round of at most
``max_batch_size`` concurrent requests, the way a client with a capped
fan-out waits on a real endpoint.

Usage is counted through one Spark accumulator per run (``Meter``).
``LM.__getstate__`` ships a fresh ``usage`` to executors, so the
library's own counters never come back to the driver; the accumulator
does, because Spark merges its executor-side updates into the driver
copy when each task ends.

The rule functions (``filter_answer``, ``map_answer``, ``join_answer``,
``agg_summary``) are the model's knowledge; the semantic ETL output
check runs them over the generated rows in pure Python.
"""

from __future__ import annotations

import hashlib
import math
import re
import time
from typing import Any

from pyspark.accumulators import AccumulatorParam

from lotus_spark.models.cache import CachedLM
from lotus_spark.models.lm import LM, LMOutput

# the simulated model's world: product parts by department
CATEGORIES = {
    "electronics": ("battery", "screen", "charger", "speaker"),
    "kitchen": ("blender", "kettle", "toaster", "skillet"),
    "outdoor": ("tent", "lantern", "backpack", "stove"),
    "apparel": ("zipper", "sleeve", "collar", "sole"),
    "toys": ("puzzle", "robot", "kite", "doll"),
    "garden": ("hose", "rake", "shovel", "sprinkler"),
}
PART_CATEGORY = {p: c for c, ps in CATEGORIES.items() for p in ps}
COMPLAINT_WORDS = ("broken", "refund", "cracked", "leaking", "defective")
NO_PART = "none"

# every instruction names words the model matches on: an LM that read
# the instruction as part of the document would answer wrongly
FILTER_INSTRUCTION = (
    "{text} describes a broken, cracked, leaking or defective product, "
    "or asks for a refund")
MAP_INSTRUCTION = (
    "Which product part (a battery, a zipper, a tent ...) does {text} "
    "complain about? Answer with the part only.")
JOIN_INSTRUCTION = "The {part} is sold in the {category} department"
AGG_INSTRUCTION = "Summarize the complaints in {text}"

_DOC_FIELD = re.compile(r"\[(\w+)\]: «(.*?)»", re.DOTALL)
_SPLIT_DOCS = re.compile(r"\tDocument \d+:\n")
_COUNTS = re.compile(r"reviews=(\d+) words=(\d+)")


def document_part(content: str) -> str:
    """The context block of a user message, without the instruction."""
    body = content.split("Context:\n", 1)[-1]
    for tail in ("\n\nClaim: ", "\n\nInstruction: "):
        cut = body.rfind(tail)
        if cut >= 0:
            return body[:cut]
    return body


def _fields(doc: str) -> dict[str, str]:
    return dict(_DOC_FIELD.findall(doc))


def filter_answer(text: str) -> bool:
    return any(w in COMPLAINT_WORDS for w in text.split())


def map_answer(text: str) -> str:
    for w in text.split():
        if w in PART_CATEGORY:
            return w
    return NO_PART


def join_answer(part: str, category: str) -> bool:
    return PART_CATEGORY.get(part) == category


def agg_summary(n_reviews: int, n_words: int) -> str:
    return f"reviews={n_reviews} words={n_words}"


def _agg_answer(doc_block: str) -> str:
    """Fold step: a leaf document counts as one review with its words; a
    partial answer contributes its own counts. The answer is the same
    for every packing and fold order, so a grouped fold can be checked
    exactly."""
    n = w = 0
    for d in _SPLIT_DOCS.split(doc_block):
        if not d.strip():
            continue
        m = _COUNTS.search(d)
        if m:
            n += int(m.group(1))
            w += int(m.group(2))
        else:
            n += 1
            w += len(_fields(d).get("text", "").split())
    return agg_summary(n, w)


def answer(task: str, doc: str) -> str:
    if task == "agg":
        return _agg_answer(doc)
    f = _fields(doc)
    if task == "filter":
        return "True" if filter_answer(f.get("text", "")) else "False"
    if task == "map":
        return map_answer(f.get("text", ""))
    if task == "join":
        ok = join_answer(f.get("part", ""), f.get("category", ""))
        return "True" if ok else "False"
    raise ValueError(f"unknown task {task!r}")


class CounterParam(AccumulatorParam):
    """Accumulator over ``{name: int}`` counters and ``{name: set}``
    distinct-key sets, merged by sum and by union."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            if isinstance(v, set):
                a.setdefault(k, set()).update(v)
            else:
                a[k] = a.get(k, 0) + v
        return a


class Meter:
    """Handle on the usage accumulator of one Spark session. It travels
    to the executors inside every model. While ``epoch`` is non-zero the
    models also record a 64-bit hash of every prompt under that epoch,
    for the distinct-prompt count; the traced run sets a new epoch for
    each request."""

    def __init__(self, sc):
        self.acc = sc.accumulator({}, CounterParam())
        self.epoch = 0

    def snapshot(self) -> dict:
        return {k: (set(v) if isinstance(v, set) else v)
                for k, v in self.acc.value.items()}


def delta(before: dict, after: dict) -> dict:
    """Counter growth between two ``Meter.snapshot`` values."""
    out = {}
    for k, v in after.items():
        if isinstance(v, set):
            out[k] = v - before.get(k, set())
        else:
            out[k] = v - before.get(k, 0)
    return out


class SimLM(LM):
    """Deterministic simulated model for one operator's task."""

    model = "perfbench-sim"

    def __init__(self, task: str, meter: Meter, service_s: float,
                 max_batch_size: int, max_ctx_len: int = 2048):
        super().__init__()
        self.task = task
        self.meter = meter
        self.service_s = float(service_s)
        self.max_batch_size = int(max_batch_size)
        self.max_ctx_len = int(max_ctx_len)
        self.max_tokens = 256

    def __call__(self, batch: list, **kwargs: Any) -> LMOutput:
        t0 = time.perf_counter()
        contents = [m[-1]["content"] for m in batch]
        outputs = [answer(self.task, document_part(c)) for c in contents]
        rounds = math.ceil(len(batch) / self.max_batch_size)
        time.sleep(self.service_s * rounds)
        tokens = sum(self.count_tokens(m["content"])
                     for msgs in batch for m in msgs)
        upd = {
            f"{self.task}.requests": len(batch),
            f"{self.task}.batches": 1,
            f"{self.task}.prompt_tokens": tokens,
            f"{self.task}.busy_us": int((time.perf_counter() - t0) * 1e6),
        }
        if self.meter.epoch:
            upd[f"{self.task}.prompts@{self.meter.epoch}"] = {
                int.from_bytes(hashlib.blake2b(
                    repr(msgs).encode(), digest_size=8).digest(), "big")
                for msgs in batch}
        self.meter.acc.add(upd)
        self.usage.total_calls += len(batch)
        return LMOutput(outputs=outputs)


class CountingCache(CachedLM):
    """``CachedLM`` that also counts the prompts offered to it, so the
    cache hit ratio is (offered - reached the model) / offered."""

    def __call__(self, batch: list, **kwargs: Any):
        self.lm.meter.acc.add({f"{self.lm.task}.offered": len(batch)})
        return super().__call__(batch, **kwargs)
