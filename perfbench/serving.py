"""The hybrid read path: index build, single and batched queries, and
the exact reference their answers are scored against.

``corpus_refresh`` reads its refreshed indexes through these helpers:
``hybrid_search_index`` calls and one ``hybrid_search_index_batch``
call per cycle, with query terms that follow the corpus' Zipf
popularity and a stated share of terms never queried before, so they
miss the serving path's per-term bucket cache.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from lotus_spark.functions.ann import (
    ivf_index, knn_topk_ivfpq, pq_index, read_ivfpq_index, write_ivfpq_index,
)
from lotus_spark.functions.bm25 import rrf_fuse
from lotus_spark.functions.bm25_store import (
    bm25_search_index, write_bm25_index,
)
from lotus_spark.functions.serving import (
    hybrid_search_index, hybrid_search_index_batch,
)

K, LEXICAL_K, VECTOR_K, N_PROBE, RRF_K = 10, 20, 20, 8, 60
N_CELLS, N_BUCKETS = 16, 4
RECALL_FLOOR = 0.7


def build_indexes(spark, corpus_path: str, bm25_path: str, vec_path: str):
    """BM25 over the texts and IVF-PQ over the embeddings of one corpus."""
    docs = spark.read.parquet(corpus_path)
    write_bm25_index(docs.select("doc_id", "text"), bm25_path, "text",
                     "doc_id", n_buckets=N_BUCKETS)
    indexed, cents = ivf_index(docs.select("doc_id", "embedding"),
                               "embedding", n_cells=N_CELLS, seed=42,
                               method="deterministic", id_col="doc_id")
    encoded, books = pq_index(indexed, "embedding", "doc_id", m=8, nbits=4,
                              seed=101)
    write_ivfpq_index(encoded, vec_path, cents, books)


class ExactHybrid:
    """Reference answers: exact BM25 (the library's Okapi form and
    tokenization) and numpy exact-cosine top lists, fused by reciprocal
    rank with the serving call's list sizes."""

    def __init__(self, table: dict, k1: float = 1.2, b: float = 0.75):
        self.ids = np.asarray(table["doc_id"])
        self.emb = np.array(table["embedding"])
        self.emb /= np.linalg.norm(self.emb, axis=1, keepdims=True)
        self.post: dict[str, dict[int, int]] = {}
        self.dl = {}
        for i, t in zip(self.ids.tolist(), table["text"]):
            toks = t.strip().lower().split()
            self.dl[i] = len(toks)
            for w in toks:
                d = self.post.setdefault(w, {})
                d[i] = d.get(i, 0) + 1
        n_tok = [v for v in self.dl.values() if v > 0]
        self.n, self.avgdl = len(n_tok), sum(n_tok) / len(n_tok)
        self.k1, self.b = k1, b

    def lexical(self, text: str, k: int) -> list[int]:
        scores: dict[int, float] = {}
        for w in sorted(set(text.strip().lower().split())):
            p = self.post.get(w)
            if not p:
                continue
            idf = math.log(1.0 + (self.n - len(p) + 0.5) / (len(p) + 0.5))
            for i, tf in p.items():
                part = idf * (tf * (1.0 + self.k1)) / (
                    tf + (self.dl[i] * self.b / self.avgdl + 1.0 - self.b)
                    * self.k1)
                scores[i] = scores.get(i, 0.0) + round(part, 9)
        return [i for i, _ in sorted(scores.items(),
                                     key=lambda kv: (-kv[1], kv[0]))[:k]]

    def vector(self, vec, k: int) -> list[int]:
        q = np.asarray(vec) / np.linalg.norm(vec)
        s = self.emb @ q
        order = np.lexsort((self.ids, -s))[:k]
        return self.ids[order].tolist()

    def top(self, text: str, vec, k: int = K) -> list[int]:
        fused: dict[int, float] = {}
        for ranked in (self.lexical(text, LEXICAL_K),
                       self.vector(vec, VECTOR_K)):
            for r, i in enumerate(ranked, 1):
                fused[i] = fused.get(i, 0.0) + 1.0 / (RRF_K + r)
        return [i for i, _ in sorted(fused.items(),
                                     key=lambda kv: (-kv[1], kv[0]))[:k]]


def recall(got: list[int], want: list[int]) -> float:
    return len(set(got) & set(want)) / max(1, len(want))


def single_query(ctx, bm25_path: str, vec_path: str, text: str, vec,
                 span: str = "read") -> list[int]:
    """One hybrid query: the library's one call, collected. Traced, it
    runs in a ``span`` span around a span of the call itself."""
    tr = ctx.tracer
    with tr.span(span), tr.span("serving.hybrid_search_index"):
        rows = hybrid_search_index(
            ctx.spark, bm25_path, vec_path, text, vec, k=K,
            lexical_k=LEXICAL_K, vector_k=VECTOR_K, n_probe=N_PROBE,
            rrf_k=RRF_K, vector_id_col="doc_id").collect()
    return [r["doc_id"] for r in rows]


def split_query(ctx, bm25_path: str, vec_path: str, text: str, vec
                ) -> list[int]:
    """The same query rewritten as its three legs, each a separate call
    collected in its own span, so each leg's time and jobs are its own.
    Only the traced run's leg split uses it: the rewritten plan is not
    the one ``single_query`` runs, so its figures are named ``split.``."""
    tr, spark = ctx.tracer, ctx.spark
    with tr.span("split.read"):
        with tr.span("split.bm25_store.search"):
            lex = bm25_search_index(spark, bm25_path, text,
                                    k=LEXICAL_K).collect()
        with tr.span("split.ann.knn_ivfpq"):
            stored, cents, books, cell = read_ivfpq_index(spark, vec_path)
            vrows = knn_topk_ivfpq(
                stored, cents, books, vec, k=VECTOR_K, n_probe=N_PROBE,
                id_col="doc_id", cell_col=cell).collect()
        with tr.span("split.serving.fuse"):
            schema = "doc_id long, score double"
            lists = [spark.createDataFrame(
                [(r["doc_id"], float(r["score"])) for r in rows], schema)
                for rows in (lex, vrows)]
            fused = rrf_fuse(lists, "doc_id", k=K, rrf_k=RRF_K).orderBy(
                F.desc("rrf_score"), "doc_id").collect()
    return [r["doc_id"] for r in fused]


def batch_query(ctx, bm25_path: str, vec_path: str, qs: list
                ) -> list[list[int]]:
    """Hybrid queries answered by one batched call, in one span."""
    queries = {f"q{i}": tv for i, tv in enumerate(qs)}
    with ctx.tracer.span("batch"):
        rows = hybrid_search_index_batch(
            ctx.spark, bm25_path, vec_path, queries, k=K,
            lexical_k=LEXICAL_K, vector_k=VECTOR_K, n_probe=N_PROBE,
            rrf_k=RRF_K, vector_id_col="doc_id").collect()
    got: dict[str, list] = {q: [] for q in queries}
    for r in sorted(rows, key=lambda r: (-r["rrf_score"], r["doc_id"])):
        got[r["query_id"]].append(r["doc_id"])
    return list(got.values())
