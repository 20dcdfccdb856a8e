"""Seeded input generators. Every input of every workload comes from
here and depends only on the seed and the size arguments; the engine is
never called."""

from __future__ import annotations

import math

import numpy as np

DIM = 64
LANGS = ("en", "de", "fr", "zh")
LANG_P = (0.55, 0.2, 0.15, 0.1)
CATEGORIES = tuple(f"cat{i:02d}" for i in range(12))


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words of two to three syllables."""
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    out, seen = [], set()
    while len(out) < n:
        w = "".join(
            cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))]
            for _ in range(int(rng.integers(2, 4)))
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


# --- rag_serve ----------------------------------------------------------------


def kb_corpus(seed: int, n_docs: int, n_topics: int = 16, noise: float = 0.1) -> dict:
    """A knowledge base with text, typed metadata and clustered embeddings
    (topic centroid + gaussian noise), as numpy columns."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng, 200 * n_topics + 2000)
    general = vocab[200 * n_topics:]
    cents = rng.standard_normal((n_topics, DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    topic = rng.choice(n_topics, size=n_docs, p=zipf_weights(n_topics, 0.5))
    emb = (cents[topic] + noise * rng.standard_normal((n_docs, DIM))).astype(np.float32)
    n_words = rng.integers(20, 41, size=n_docs)
    total = int(n_words.sum())
    own = rng.integers(0, 200, size=total)
    gen = rng.choice(len(general), size=total, p=zipf_weights(len(general)))
    pick = rng.random(total) < 0.4
    ends = np.cumsum(n_words)
    texts = []
    for t, end, n in zip(topic, ends, n_words):
        sl = slice(end - n, end)
        texts.append(" ".join(
            vocab[200 * t + o] if p else general[g] for o, g, p in zip(own[sl], gen[sl], pick[sl])
        ))
    n_cats = rng.integers(1, 5, size=n_docs)
    cats = [sorted(rng.choice(CATEGORIES, size=c, replace=False).tolist()) for c in n_cats]
    return {
        "id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "label": [f"topic{t:02d}" for t in topic],
        "views": rng.integers(0, 10000, size=n_docs).astype(np.int64),
        "lang": rng.choice(LANGS, size=n_docs, p=LANG_P).tolist(),
        "categories": cats,
        "emb": emb,
        "topic": topic,
        "centroids": cents,
        "vocab": vocab,
    }


QUESTION_MIX = (("routed", 0.4), ("fallthrough", 0.2), ("self_query", 0.2), ("hybrid", 0.2))


def _vec_literal(v) -> str:
    return "[" + ",".join(repr(float(x)) for x in v) + "]"


def question_pool(seed: int, corpus: dict, per_kind: int = 32) -> dict[str, list[dict]]:
    """Per question kind, ``per_kind`` concrete questions. Each carries
    the Vector SQL text or filter parameters and the parameters the
    benchmark's numpy reference needs."""
    rng = np.random.default_rng([seed, 2])
    cents, vocab = corpus["centroids"], corpus["vocab"]
    n_topics = len(cents)

    def near_topic():
        t = int(rng.integers(n_topics))
        v = cents[t] + 0.1 * rng.standard_normal(DIM)
        return t, [float(x) for x in v]

    def words_of(t, n):
        return [vocab[200 * t + int(i)] for i in rng.choice(200, size=n, replace=False)]

    pool = {k: [] for k, _ in QUESTION_MIX}
    for i in range(per_kind):
        # routed kNN template with a PREWHERE, both vector forms
        t, v = near_topic()
        pred = [("views_gt", int(rng.integers(0, 4000))), ("lang_eq", "en"),
                ("ncat_ge", 2), ("views_lang", (int(rng.integers(0, 3000)), "en"))][i % 4]
        if i % 2 == 0:
            text = " ".join(words_of(t, 4))
            vec_sql, qvec, neural = f"NeuralArray('{text}')", None, text
        else:
            vec_sql, qvec, neural = _vec_literal(v), v, None
        where = {
            "views_gt": lambda p: f"views > {p}",
            "lang_eq": lambda p: f"lang = '{p}'",
            "ncat_ge": lambda p: f"length(categories) >= {p}",
            "views_lang": lambda p: f"views > {p[0]} AND lang = '{p[1]}'",
        }[pred[0]](pred[1])
        pool["routed"].append({
            "kind": "routed", "pred": pred, "qvec": qvec, "neural": neural, "k": 10,
            "sql": f"SELECT id, label, views FROM kb PREWHERE {where} "
                   f"ORDER BY DISTANCE(emb, {vec_sql}) AS dist LIMIT 10",
        })
        # fall-through Vector SQL: a join, an aggregate over a kNN, a plain aggregate
        t, v = near_topic()
        form = i % 3
        if form == 0:
            vmin = int(rng.integers(0, 5000))
            sql = (f"SELECT k.id, t.title, DISTANCE(k.emb, {_vec_literal(v)}) AS dist "
                   f"FROM kb k JOIN topics t ON k.label = t.label WHERE k.views > {vmin} "
                   f"ORDER BY dist, k.id LIMIT 10")
            params = {"vmin": vmin}
        elif form == 1:
            lang = LANGS[int(rng.integers(len(LANGS)))]
            sql = (f"SELECT label, count(*) AS n FROM (SELECT label FROM kb WHERE lang = '{lang}' "
                   f"ORDER BY DISTANCE(emb, {_vec_literal(v)}), id LIMIT 50) "
                   f"GROUP BY label ORDER BY n DESC, label")
            params = {"lang": lang}
        else:
            c = int(rng.integers(1, 4))
            sql = (f"SELECT lang, count(*) AS n, sum(views) AS v FROM kb "
                   f"WHERE length(categories) >= {c} GROUP BY lang ORDER BY lang")
            params = {"ncat": c}
        pool["fallthrough"].append({"kind": "fallthrough", "form": form, "qvec": v,
                                    "params": params, "sql": sql})
        # self-query filter ASTs
        t, v = near_topic()
        form = i % 4
        if form == 0:
            params = {"lang": LANGS[int(rng.integers(len(LANGS)))], "vmin": int(rng.integers(0, 5000))}
        elif form == 1:
            params = {"cat": CATEGORIES[int(rng.integers(len(CATEGORIES)))], "vmax": int(rng.integers(3000, 10000))}
        elif form == 2:
            a, b = rng.choice(n_topics, size=2, replace=False)
            params = {"labels": (f"topic{a:02d}", f"topic{b:02d}")}
        else:
            params = {"ncat": int(rng.integers(1, 4)), "lang": LANGS[int(rng.integers(len(LANGS)))]}
        pool["self_query"].append({"kind": "self_query", "form": form, "qvec": v,
                                   "params": params, "k": 10})
        # hybrid funnel
        t, v = near_topic()
        pool["hybrid"].append({"kind": "hybrid", "qvec": v, "terms": words_of(t, 3), "k": 5})
    return pool


QUESTION_CYCLE = 5


def question_stream(seed: int, pool: dict[str, list[dict]]):
    """Endless question sequence in cycles of ``QUESTION_CYCLE`` that hold
    each kind exactly by its share (shuffled within the cycle), each
    question drawn Zipf-skewed from its kind's pool so popular ones
    repeat."""
    rng = np.random.default_rng([seed, 3])
    cycle = [k for k, share in QUESTION_MIX for _ in range(round(share * QUESTION_CYCLE))]
    while True:
        for kind in rng.permutation(cycle):
            qs = pool[str(kind)]
            yield qs[int(rng.choice(len(qs), p=zipf_weights(len(qs))))]


# --- kb_build ----------------------------------------------------------------------


def _shingles(text: str, k: int = 3) -> set:
    w = text.split()
    return {tuple(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _variant(rng, words: list[str], vocab: list[str], frac: float) -> list[str]:
    w = list(words)
    for p in rng.choice(len(w), size=max(1, int(frac * len(w))), replace=False):
        w[p] = vocab[int(rng.integers(len(vocab)))]
    return w


def build_corpus(seed: int, n_base: int, id_start: int = 0, n_eval: int = 40) -> dict:
    """Raw documents with planted exact duplicates (~5%), near-duplicate
    clusters (~10% of documents, 2-4 edited copies each) and documents
    that quote a held-out eval text (~3%)."""
    rng = np.random.default_rng([seed, 5])
    vocab = vocabulary(rng, 6000)
    evals = [" ".join(vocab[int(i)] for i in rng.integers(0, len(vocab), size=30)) for _ in range(n_eval)]
    docs: list[tuple[int, str]] = []
    nid = [id_start]

    def add(text):
        docs.append((nid[0], text))
        nid[0] += 1
        return nid[0] - 1

    base = []
    for _ in range(n_base):
        words = [vocab[int(i)] for i in rng.integers(0, len(vocab), size=int(rng.integers(40, 90)))]
        if rng.random() < 0.03:
            e = evals[int(rng.integers(n_eval))].split()
            s = int(rng.integers(0, len(e) - 15))
            at = int(rng.integers(len(words)))
            words = words[:at] + e[s:s + 15] + words[at:]
        base.append(add(" ".join(words)))
    texts = dict(docs)
    for src in rng.choice(base, size=max(1, n_base // 20), replace=False):
        add(texts[int(src)])
    for src in rng.choice(base, size=max(1, n_base // 30), replace=False):
        words = texts[int(src)].split()
        for _ in range(int(rng.integers(2, 5))):
            add(" ".join(_variant(rng, words, vocab, float(rng.uniform(0.02, 0.06)))))
    order = rng.permutation(len(docs))
    return {"docs": [docs[i] for i in order], "evals": evals, "vocab": vocab, "next_id": nid[0]}


def increment_batches(seed: int, n_batches: int, batch_docs: int, id_start: int, vocab: list[str]) -> list:
    """Batches that land after the build. A quarter of each batch are
    edited copies of documents of the previous batch."""
    rng = np.random.default_rng([seed, 6])
    out, nid, prev = [], id_start, []
    for _ in range(n_batches):
        batch = []
        for j in range(batch_docs):
            if prev and j < batch_docs // 4:
                words = _variant(rng, prev[int(rng.integers(len(prev)))][1].split(), vocab, 0.03)
            else:
                words = [vocab[int(i)] for i in rng.integers(0, len(vocab), size=int(rng.integers(40, 90)))]
            batch.append((nid, " ".join(words)))
            nid += 1
        out.append(batch)
        prev = batch
    return out


def near_dup_pairs(texts: dict[int, str], threshold: float) -> set[tuple[int, int]]:
    """Every pair (i < j) whose 3-shingle Jaccard, rounded to 6 digits,
    reaches ``threshold``; candidates come from a shingle index."""
    sh = {i: _shingles(t) for i, t in texts.items()}
    index: dict = {}
    for i, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(i)
    cands = {(min(a, b), max(a, b)) for ids in index.values() for a in ids for b in ids if a != b}
    return {(a, b) for a, b in cands if round(len(sh[a] & sh[b]) / len(sh[a] | sh[b]), 6) >= threshold}


def reference_pipeline(docs: list[tuple[int, str]], evals: list[str], threshold: float,
                       ngram: int = 13, chunk_words: int = 12) -> dict:
    """What the build must produce: exact-dedup survivors (min id per
    text), near-duplicate pairs at ``threshold`` among them, canonical
    survivors (component minimum), eval-contaminated ids, the final
    survivors and their chunk count."""
    first: dict[str, int] = {}
    for i, t in sorted(docs):
        first.setdefault(t, i)
    dedup = {i: t for t, i in first.items()}
    pairs = near_dup_pairs(dedup, threshold)
    parent = {i: i for i in dedup}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    keep = {i for i in dedup if find(i) == i}

    def grams(t):
        w = t.split()
        return {tuple(w[i:i + ngram]) for i in range(max(len(w) - ngram + 1, 1))}

    eval_grams = set().union(*(grams(e) for e in evals))
    contaminated = {i for i in keep if grams(dedup[i]) & eval_grams}
    final = keep - contaminated
    chunks = sum(max(1, math.ceil(len(dedup[i].split()) / chunk_words)) for i in final)
    return {"dedup": set(dedup), "pairs": pairs, "keep": keep,
            "contaminated": contaminated, "final": final, "chunks": chunks}
