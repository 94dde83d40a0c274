"""Seeded input generator for the three perfbench workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical tables. The library under test only ever sees the
parquet files written by ``write_table``; the properties each generator
controls (duplicate share, near-duplicate share, change fractions,
fresh query-term share) are returned next to the data so the run can
record them with its results.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.simlm import CATEGORIES, COMPLAINT_WORDS

_SYL = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "be", "do",
        "fu", "ga", "hi", "jo", "pe", "so")


def vocabulary(n: int) -> list[str]:
    """``n`` distinct pronounceable words; word i spells i in base 16
    syllables, so the same index is the same word for every seed."""
    words = []
    for i in range(n):
        s, j = "", i
        while True:
            s = _SYL[j % 16] + s
            j //= 16
            if j == 0:
                break
        words.append(s + "x")  # suffix keeps words apart from real ones
    return words


def zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def write_table(cols: dict, path: str) -> None:
    pq.write_table(pa.table(cols), path)


def _duplicate(rng, texts: list[str], share: float) -> int:
    """Overwrite ``share`` of the texts with exact copies of others."""
    n = len(texts)
    n_dup = int(round(share * n))
    dst = rng.choice(n, size=n_dup, replace=False)
    src_pool = np.setdiff1d(np.arange(n), dst)
    for d in dst:
        texts[d] = texts[int(rng.choice(src_pool))]
    return n_dup


def reviews(seed: int, n_rows: int, dup_share: float = 0.3,
            vocab_size: int = 2000) -> tuple[dict, dict]:
    """The semantic-ETL review table ``(review_id, text)``.

    A review is 12-24 Zipf filler words, names one product part in 90%
    of rows and a complaint word in 45%; ``dup_share`` of the rows are
    exact copies of other rows' text."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(vocab_size)
    probs = zipf_probs(vocab_size)
    parts = [p for ps in CATEGORIES.values() for p in ps]
    texts = []
    for _ in range(n_rows):
        words = [vocab[i] for i in
                 rng.choice(vocab_size, size=int(rng.integers(12, 25)),
                            p=probs)]
        if rng.random() < 0.9:
            words.insert(int(rng.integers(0, len(words))),
                         parts[int(rng.integers(len(parts)))])
        if rng.random() < 0.45:
            words.insert(int(rng.integers(0, len(words))),
                         COMPLAINT_WORDS[int(rng.integers(
                             len(COMPLAINT_WORDS)))])
        texts.append(" ".join(words))
    n_dup = _duplicate(rng, texts, dup_share)
    table = {"review_id": np.arange(n_rows, dtype=np.int64), "text": texts}
    props = {"rows": n_rows, "dup_share": n_dup / n_rows,
             "distinct_texts": len(set(texts)), "vocab_size": vocab_size,
             "zipf_s": 1.1}
    return table, props


def categories() -> dict:
    return {"category": sorted(CATEGORIES)}


def corpus(seed: int, n_docs: int, dim: int = 32, n_topics: int = 16,
           dup_share: float = 0.05, near_dup_share: float = 0.1,
           vocab_size: int = 4000) -> tuple[dict, dict]:
    """The retrieval corpus ``(doc_id, text, embedding)``: documents and
    embeddings share ids. Each document belongs to a topic; its text
    mixes Zipf filler with the topic's own words and its embedding is
    the topic centre plus noise (unit norm). ``dup_share`` of the docs
    are exact copies of another doc, ``near_dup_share`` are copies with
    two words replaced and a slightly moved embedding."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(vocab_size)
    probs = zipf_probs(vocab_size)
    topic_words = np.array_split(rng.permutation(vocab_size), n_topics)
    centres = rng.normal(size=(n_topics, dim))
    topics = rng.integers(n_topics, size=n_docs)
    texts, embs = [], np.empty((n_docs, dim))
    for i, t in enumerate(topics):
        n_fill = int(rng.integers(10, 20))
        n_topic = int(rng.integers(6, 12))
        w = list(rng.choice(vocab_size, size=n_fill, p=probs))
        w += list(rng.choice(topic_words[t], size=n_topic))
        rng.shuffle(w)
        texts.append(" ".join(vocab[j] for j in w))
        embs[i] = centres[t] + 0.6 * rng.normal(size=dim)
    n_dup = int(round(dup_share * n_docs))
    n_near = int(round(near_dup_share * n_docs))
    picked = rng.choice(n_docs, size=n_dup + n_near, replace=False)
    pool = np.setdiff1d(np.arange(n_docs), picked)
    for j, d in enumerate(picked):
        src = int(rng.choice(pool))
        if j < n_dup:
            texts[d], embs[d] = texts[src], embs[src]
        else:
            texts[d] = _perturb(rng, texts[src], vocab, 2)
            embs[d] = embs[src] + 0.05 * rng.normal(size=dim)
    embs /= np.linalg.norm(embs, axis=1, keepdims=True)
    table = {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
             "embedding": list(embs)}
    props = {"docs": n_docs, "dim": dim, "topics": n_topics,
             "dup_share": n_dup / n_docs,
             "near_dup_share": n_near / n_docs, "vocab_size": vocab_size}
    return table, props


def _perturb(rng, text: str, vocab: list[str], n: int) -> str:
    words = text.split()
    for pos in rng.choice(len(words), size=min(n, len(words)),
                          replace=False):
        words[int(pos)] = vocab[int(rng.integers(len(vocab)))]
    return " ".join(words)


def snapshot_t1(seed: int, t0: dict, removed: float = 0.05,
                changed: float = 0.05, added: float = 0.05,
                near_dup_share: float = 0.3) -> tuple[dict, dict]:
    """T1 from T0: drop ``removed`` of the docs, rewrite ``changed`` of
    them (two words replaced, embedding moved), and add ``added`` × |T0|
    new docs. ``near_dup_share`` of the new docs copy a surviving T0 doc
    (half exactly, half with two words replaced); the rest are copies of
    fresh generated docs, one in five of them repeated inside the
    increment so the increment has duplicates of its own. ``fresh_groups``
    lists the ids of each fresh text: one id, or the text and its
    repeats."""
    rng = np.random.default_rng([seed, 3])
    ids = np.asarray(t0["doc_id"])
    texts = list(t0["text"])
    embs = np.array(t0["embedding"])
    n0, dim = len(ids), embs.shape[1]
    vocab = vocabulary(4000)
    order = rng.permutation(n0)
    n_rm, n_ch = int(removed * n0), int(changed * n0)
    rm, ch = set(order[:n_rm].tolist()), order[n_rm:n_rm + n_ch]
    for i in ch:
        texts[i] = _perturb(rng, texts[i], vocab, 2)
        e = embs[i] + 0.1 * rng.normal(size=dim)
        embs[i] = e / np.linalg.norm(e)
    keep = [i for i in range(n0) if i not in rm]
    # copies of changed docs would not match their T0 version exactly
    stable = sorted(set(keep) - set(ch.tolist()))
    n_add = int(added * n0)
    n_near = int(round(near_dup_share * n_add))
    fresh, _ = corpus(seed + 7919, n_add, dim=dim, dup_share=0.0,
                      near_dup_share=0.0)
    add_text, add_emb, exact_copy = [], [], []
    next_id = int(ids.max()) + 1
    for j in range(n_add):
        if j < n_near:
            src = stable[int(rng.integers(len(stable)))]
            t = texts[src] if j % 2 == 0 else _perturb(rng, texts[src],
                                                        vocab, 2)
            e = embs[src]
            if j % 2 == 0:
                exact_copy.append(next_id + j)
        elif j >= n_near + 1 and rng.random() < 0.2:
            k = n_near + int(rng.integers(j - n_near))  # earlier fresh doc
            t, e = add_text[k], add_emb[k]
        else:
            t, e = fresh["text"][j], fresh["embedding"][j]
        add_text.append(t)
        add_emb.append(np.asarray(e))
    groups: dict[str, list[int]] = {}
    for j in range(n_near, n_add):
        groups.setdefault(add_text[j], []).append(next_id + j)
    table = {
        "doc_id": np.concatenate([ids[keep], np.arange(
            next_id, next_id + n_add, dtype=np.int64)]),
        "text": [texts[i] for i in keep] + add_text,
        "embedding": [embs[i] for i in keep] + add_emb,
    }
    props = {"removed_frac": n_rm / n0, "changed_frac": n_ch / n0,
             "added_frac": n_add / n0,
             "added_near_dup_share": n_near / max(1, n_add)}
    return table, {"props": props, "exact_copy_ids": exact_copy,
                   "fresh_groups": list(groups.values()),
                   "added_ids": list(range(next_id, next_id + n_add)),
                   "changed_ids": sorted(int(ids[i]) for i in ch),
                   "removed_ids": sorted(int(ids[i]) for i in rm)}


def query_stream(seed: int, t: dict, n_queries: int, n_terms: int = 3,
                 fresh_share: float = 0.2, history: int = 0
                 ) -> tuple[list, dict]:
    """Hybrid queries ``(text, vec)`` aimed at random corpus docs.

    Terms are drawn from the target doc's words, weighted by the
    corpus-wide Zipf popularity, so popular terms recur across queries.
    Evenly spaced term slots, ``fresh_share`` of them, instead take a
    word of the target doc that no earlier query used: it misses any
    per-term cache the serving path keeps. After the past, the other
    slots are drawn, by the same popularity, from the target's words
    that earlier queries used, when it has any. The vector is the target's embedding
    plus noise. The first ``history`` queries are the stream's past
    (sent untimed, to warm the serving path); the properties describe
    the queries after them, and ``unseen_term_share`` counts every slot
    whose term no earlier query used, the fresh slots included."""
    rng = np.random.default_rng([seed, 4])
    texts = t["text"]
    embs = np.array(t["embedding"])
    freq: dict[str, int] = {}
    for tx in texts:
        for w in tx.split():
            freq[w] = freq.get(w, 0) + 1
    used: set[str] = set()
    out, n_fresh, n_unseen, n_slots = [], 0, 0, 0
    for q in range(n_queries):
        d = int(rng.integers(len(texts)))
        words = sorted(set(texts[d].split()))
        terms: list[str] = []
        for j in range(n_terms):
            unused = [w for w in words if w not in used and w not in terms]
            k = q * n_terms + j
            fresh = bool(unused) and (int((k + 1) * fresh_share)
                                      > int(k * fresh_share))
            # after the past, the other slots repeat a term an earlier
            # query used, where the target doc has one
            pool = [w for w in words if w in used] if q >= history else []
            pool = pool or words
            if fresh:
                w = unused[int(rng.integers(len(unused)))]
            else:
                p = np.array([freq[w] for w in pool], dtype=float)
                w = pool[int(rng.choice(len(pool), p=p / p.sum()))]
            if q >= history:
                n_slots += 1
                n_fresh += fresh
                n_unseen += w not in used
            terms.append(w)
        used.update(terms)
        v = embs[d] + 0.2 * rng.normal(size=embs.shape[1])
        out.append((" ".join(terms), (v / np.linalg.norm(v)).tolist()))
    props = {"queries": n_queries - history, "history_queries": history,
             "terms_per_query": n_terms,
             "fresh_term_share": n_fresh / max(1, n_slots),
             "unseen_term_share": n_unseen / max(1, n_slots)}
    return out, props
