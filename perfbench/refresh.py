"""Workload ``corpus_refresh``: the write path on the persisted indexes.

Set-up builds BM25, IVF-PQ and MinHash indexes over a generated T0
corpus and keeps them as pristine copies. A unit is one refresh cycle:
restore the T0 copies (untimed), then, timed, diff T0 against the
generated T1 snapshot, dedup the increment within itself and against
the MinHash index, and apply the diff to all three indexes. A few
hybrid queries then read the refreshed indexes. The checks: every
index's id set equals T1's ids, exact copies of T0 docs in the
increment are found by ``dedup_against_index``, each fresh text keeps
exactly one id through both dedups, and the reads reach the recall
floor against an exact reference over T1.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from lotus_spark.functions.dedup import minhash_lsh_dedup
from lotus_spark.functions.dedup_index import (
    dedup_against_index, write_minhash_index,
)
from lotus_spark.functions.index_cdc import (
    apply_snapshot_to_bm25_index, apply_snapshot_to_ivfpq_index,
    apply_snapshot_to_minhash_index,
)
from lotus_spark.functions.snapshot import snapshot_diff
from perfbench import common, gen
from perfbench.serving import (
    K, N_PROBE, RECALL_FLOOR, ExactHybrid, batch_query, build_indexes,
    recall, single_query, split_query,
)


class CorpusRefresh:
    name = "corpus_refresh"
    # a T0 build costs about half a minute in a fresh process, so one
    # build per run is what the run-time budget allows
    setup_reps = 1
    min_steps = 1
    # a traced run times one traced cycle; its reads carry the overhead
    # pairs and the leg split (see ``read``)
    trace_modes = ("traced",)
    # in a traced run, the first reads also run as separate legs (the
    # leg split) and as traced/untraced repeats (the trace overhead);
    # few, so a traced run stays well inside its time limit
    split_reads = 1
    overhead_pairs = 2

    def __init__(self, ctx):
        self.ctx = ctx

    def generate(self) -> dict:
        ctx, sz = self.ctx, self.ctx.size
        t0, props = gen.corpus(ctx.seed, sz["corpus_docs"])
        t1, info = gen.snapshot_t1(ctx.seed, t0)
        self.info = info
        self.t1_ids = set(int(i) for i in t1["doc_id"])
        self.changed = sum(len(info[k]) for k in (
            "removed_ids", "changed_ids", "added_ids"))
        n_warm = sz["warm_reads"]
        stream, qprops = gen.query_stream(
            ctx.seed, t1, n_warm + sz["refresh_reads"] + sz["batch_queries"],
            history=n_warm)
        self.warm_reads, self.reads = stream[:n_warm], stream[n_warm:]
        self.ref = ExactHybrid(t1)
        os.makedirs(ctx.path("gen"), exist_ok=True)
        self.t0, self.t1 = (ctx.path("gen", "t0.parquet"),
                            ctx.path("gen", "t1.parquet"))
        gen.write_table(t0, self.t0)
        gen.write_table(t1, self.t1)
        return {"t0": props, "t1": info["props"], "reads": qprops,
                "read_plan": {"warm_single_calls": 1,
                              "warm_batched_call_size": n_warm - 1,
                              "single_calls": sz["refresh_reads"],
                              "batched_call_size": sz["batch_queries"],
                              "k": K, "n_probe": N_PROBE,
                              "recall_floor": RECALL_FLOOR},
                "changed_rows": self.changed,
                "exact_copies_added": len(info["exact_copy_ids"]),
                "fresh_groups": len(info["fresh_groups"]),
                "fresh_repeats": sum(len(g) - 1
                                     for g in info["fresh_groups"])}

    def setup(self, rep: int) -> None:
        """Build the three T0 indexes; the last build is the pristine copy
        every refresh cycle starts from."""
        spark = self.ctx.spark
        base = common.fresh_dir(self.ctx.path("pristine", str(rep)))
        build_indexes(spark, self.t0, f"{base}/bm25", f"{base}/ivfpq")
        docs = spark.read.parquet(self.t0).select("doc_id", "text")
        write_minhash_index(docs, f"{base}/minhash", "text", "doc_id")
        self.pristine = base

    def warm(self, traced: bool) -> None:
        """The query stream's past, sent untimed to the pristine indexes:
        one single call and one batched call. It compiles the read plans
        and fills the serving path's term-bucket cache with the terms
        those queries used, so the timed reads see the stream's stated
        share of unseen terms. The refresh cycle gets no warm-up: like a
        daily refresh job, it pays its process's first-use costs."""
        bm25, vec = f"{self.pristine}/bm25", f"{self.pristine}/ivfpq"
        (text, v), *batch = self.warm_reads
        single_query(self.ctx, bm25, vec, text, v)
        batch_query(self.ctx, bm25, vec, batch)
        if traced:
            split_query(self.ctx, bm25, vec, text, v)

    def overhead(self, records: list[dict]) -> float:
        """Traced against untraced repeats of the same single reads."""
        pairs = [p for r in records for p in r["pairs"]]
        return (common.median([t for t, _ in pairs])
                / common.median([u for _, u in pairs]) - 1.0)

    def _restore(self) -> str:
        live = common.fresh_dir(self.ctx.path("live"))
        shutil.copytree(self.pristine, live)
        return live

    def step(self, mode: str = "plain") -> dict:
        """One refresh cycle and its reads; traced (``mode`` is never
        ``split`` here), the reads carry their own repeats and leg split."""
        live = self._restore()
        before = common.dir_files(live)
        t0 = time.perf_counter()
        out = self.refresh(live)
        dt = time.perf_counter() - t0
        after = common.dir_files(live)
        written = sum(sz for p, (sz, mt) in after.items()
                      if before.get(p, (None, None))[1] != mt)
        if out["span"] is not None:
            out["span"].counts.update({"index_cdc.bytes_written": written,
                                       "index_cdc.files_after": len(after)})
        ok = self.ids_ok(live) and self.dedup_ok(out["kept_ids"],
                                                 out["new_ids"])
        reads = self.read(live)
        return {**reads, "s": dt,
                "ok": ok and not reads["failed"],
                "attempted": 1 + reads["reads"],
                "failed": int(not ok) + reads["failed"],
                "bytes_written": written, "files_after": len(after)}

    def read(self, live: str) -> dict:
        """The read-after-refresh queries: single calls, then one batched
        call; each answer is scored against the exact reference on T1.
        When traced, the first ``split_reads`` single reads are followed
        by their leg split, and the first ``overhead_pairs`` by a traced
        and an untraced repeat of themselves, in alternating order, for
        the trace overhead: both repeats find the query's plans compiled
        and its terms cached."""
        tr = self.ctx.tracer
        traced = tr.enabled
        bm25, vec = f"{live}/bm25", f"{live}/ivfpq"
        n_single = self.ctx.size["refresh_reads"]
        single, batch = self.reads[:n_single], self.reads[n_single:]
        lat, pairs, answers = [], [], []
        for i, (text, v) in enumerate(single):
            dt, got = common.timed(single_query, self.ctx, bm25, vec,
                                   text, v)
            lat.append(dt)
            answers.append(got)
            if traced and i < self.split_reads:
                split_query(self.ctx, bm25, vec, text, v)
            if not traced or i >= self.overhead_pairs:
                continue
            pair = {}
            for on in ((True, False) if i % 2 else (False, True)):
                tr.enabled = on
                pair[on] = common.timed(single_query, self.ctx, bm25, vec,
                                        text, v, span="repeat")[0]
            tr.enabled = True
            pairs.append((pair[True], pair[False]))
        batch_s, got = common.timed(batch_query, self.ctx, bm25, vec, batch)
        answers += got
        recalls = [recall(a, self.ref.top(t, v))
                   for a, (t, v) in zip(answers, self.reads)]
        return {"read_s": lat, "pairs": pairs,
                "batch_s": batch_s,
                "reads": len(answers), "recall": recalls,
                "failed": sum(len(a) != K for a in answers)}

    def refresh(self, live: str) -> dict:
        spark, tr = self.ctx.spark, self.ctx.tracer
        t0 = spark.read.parquet(self.t0)
        t1 = spark.read.parquet(self.t1)
        with tr.span("unit") as u:
            with tr.span("snapshot.diff"):
                diff = snapshot_diff(t0.select("doc_id", "text"),
                                     t1.select("doc_id", "text"),
                                     "doc_id").persist()
                diff.count()  # materializes the diff the steps share
            try:
                with tr.span("dedup.lsh_dedup"):
                    inc = t1.select("doc_id", "text").join(
                        diff.filter(F.col("change") != "removed"),
                        "doc_id", "left_semi")
                    kept = minhash_lsh_dedup(inc, "text", "doc_id")
                    kept_ids = [r["doc_id"] for r in
                                kept.select("doc_id").collect()]
                with tr.span("dedup_index.probe") as s:
                    # the survivors by id, so the probe does not redo
                    # the LSH dedup
                    new = dedup_against_index(
                        spark, f"{live}/minhash",
                        inc.filter(F.col("doc_id").isin(kept_ids)),
                        "text", "doc_id")
                    new_ids = {r["doc_id"] for r in
                               new.select("doc_id").collect()}
                    if s is not None:
                        s.counts["dedup_index.matches"] = (
                            len(kept_ids) - len(new_ids))
                stats = {}
                with tr.span("index_cdc.minhash.apply"):
                    stats["minhash"] = apply_snapshot_to_minhash_index(
                        spark, f"{live}/minhash", diff, t1, "text")
                with tr.span("index_cdc.ivfpq.apply"):
                    stats["ivfpq"] = apply_snapshot_to_ivfpq_index(
                        spark, f"{live}/ivfpq", diff,
                        t1.select("doc_id", "embedding"), id_col="doc_id")
                with tr.span("index_cdc.bm25.apply"):
                    stats["bm25"] = apply_snapshot_to_bm25_index(
                        spark, f"{live}/bm25", diff, t1)
            finally:
                diff.unpersist()
            if u is not None:
                u.counts.update({
                    "index_cdc.rows_deleted": sum(
                        s["deleted"] for s in stats.values()),
                    "index_cdc.rows_upserted": sum(
                        s["upserted"] for s in stats.values())})
        return {"kept_ids": set(kept_ids), "new_ids": new_ids, "span": u}

    def dedup_ok(self, kept_ids: set, new_ids: set) -> bool:
        """No exact copy of a T0 doc passes the index probe, and each fresh
        text, alone or with its repeats, keeps exactly one id through the
        LSH dedup and the probe."""
        if set(self.info["exact_copy_ids"]) & new_ids:
            return False
        return all(len(kept_ids.intersection(g)) == 1
                   and len(new_ids.intersection(g)) == 1
                   for g in self.info["fresh_groups"])

    def ids_ok(self, live: str) -> bool:
        """Every index holds exactly T1's ids, read from the index files
        outside the timing."""
        tables = {"bm25": (f"{live}/bm25/doclens", "id"),
                  "ivfpq": (f"{live}/ivfpq", "doc_id"),
                  "minhash": (f"{live}/minhash/sigs", "id")}
        for path, col in tables.values():
            ids = common.parquet_column(path, col)
            if len(ids) != len(self.t1_ids) or set(ids) != self.t1_ids:
                return False
        return True

    def end_to_end(self, records: list[dict]) -> tuple[dict, dict]:
        cycles = [r["s"] for r in records]
        reads = [x for r in records for x in r["read_s"]]
        recalls = [x for r in records for x in r["recall"]]
        # a unit is the cycle and the reads after it, so a write that
        # leaves the indexes slower to read counts against itself
        units = [r["s"] + sum(r["read_s"]) + r["batch_s"] for r in records]
        metrics = {
            "unit_p50_s": common.median(units),
            "quality": sum(recalls) / len(recalls),
        }
        read_phase = sum(sum(r["read_s"]) + r["batch_s"] for r in records)
        bytes_w = common.median([r["bytes_written"] for r in records])
        extra = {"refresh_s": cycles, "cycles": len(cycles),
                 "changed_rows_per_s": self.changed / common.median(cycles),
                 "read_after_refresh_p50_s": common.median(reads),
                 "batch_call_s": [r["batch_s"] for r in records],
                 "read_qps": sum(r["reads"] for r in records) / read_phase,
                 "bytes_written_per_changed_row": bytes_w / self.changed,
                 "files_after": records[-1]["files_after"],
                 "read_recall_at_10": metrics["quality"]}
        return metrics, extra

    def quality_ok(self, metrics: dict) -> bool:
        return metrics["quality"] >= RECALL_FLOOR

    def layers(self, spans, jobs, usage) -> dict:
        """The cycle's layers, then the single reads' (``read.``), the
        batched call's (``serving.batch.``) and the leg split of the
        rewritten reads (``split.``)."""
        from perfbench.trace import layer_totals

        out = layer_totals(spans, jobs, "unit")
        reads = layer_totals(spans, jobs, "read")
        out["read.s"] = reads["unit.s"]
        out["read.jobs"] = reads["spark.jobs"]
        for k in ("driver.plan_s", "driver.self_s", "spark.tasks",
                  "spark.input_bytes"):
            out[f"read.{k}"] = reads[k]
        batch = layer_totals(spans, jobs, "batch")
        out["serving.batch.s"] = batch["unit.s"]
        out["serving.batch.jobs"] = batch["spark.jobs"]
        split = layer_totals(spans, jobs, "split.read")
        out.update({k: v for k, v in split.items()
                    if k.startswith("split.")})
        return out
