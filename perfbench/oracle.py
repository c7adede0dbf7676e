"""Seeded input generators and the independent exact references the
benchmark checks the engine against.

Everything here is plain numpy / Python: no Spark, no engine imports, so
the reference shares no code path with what it checks.
"""

from __future__ import annotations

import re
from collections import defaultdict
from itertools import combinations

import numpy as np


# ---------------------------------------------------------------------------
# vectors
# ---------------------------------------------------------------------------

def clustered_vectors(seed: int, n: int, n_queries: int, dim: int,
                      clusters: int) -> tuple[np.ndarray, np.ndarray]:
    """(base, queries): Gaussian clusters, so LSH routing is meaningful.

    The base is rounded to float32 because it travels through an
    ``.fvecs`` file (float32 on disk) before the engine widens it to
    double; the queries are sent as doubles and stay float64."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 5.0, (clusters, dim))
    base = centers[rng.integers(0, clusters, n)] + rng.normal(0.0, 1.0, (n, dim))
    queries = (centers[rng.integers(0, clusters, n_queries)]
               + rng.normal(0.0, 1.0, (n_queries, dim)))
    return base.astype(np.float32).astype(np.float64), queries


def exact_topk(base: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """(n_queries, k) ids of the exact L2 nearest neighbours, ties by id."""
    sq = (base * base).sum(axis=1)
    out = np.empty((len(queries), k), dtype=np.int64)
    for i, q in enumerate(queries):
        d2 = sq - 2.0 * (base @ q)
        cand = np.argpartition(d2, k)[:k + 8]
        exact = np.sqrt(((base[cand] - q) ** 2).sum(axis=1))
        out[i] = cand[np.lexsort((cand, exact))][:k]
    return out


def check_topk(rows: list[tuple], base: np.ndarray, query: np.ndarray,
               k: int, truth: np.ndarray) -> tuple[list[str], float]:
    """Check one query's answer rows ``(id, distance, rank)``.

    Returns (problems, recall@k).  A problem is a wrong row count, ranks
    other than 1..k, a distance out of order, or a distance that differs
    from numpy's L2 of (query, plaintext id) by more than 1e-9 — the last
    catches rows dropped or mis-scored by the decrypt stage."""
    problems = []
    rows = sorted(rows, key=lambda r: r[2])
    if len(rows) != k:
        problems.append(f"{len(rows)} rows, expected {k}")
    if [r[2] for r in rows] != list(range(1, len(rows) + 1)):
        problems.append("ranks are not 1..n")
    dists = [r[1] for r in rows]
    if any(a > b for a, b in zip(dists, dists[1:])):
        problems.append("distances not ascending by rank")
    for pid, dist, _ in rows:
        if not 0 <= pid < len(base):
            problems.append(f"id {pid} out of range")
            continue
        want = float(np.sqrt(((base[pid] - query) ** 2).sum()))
        if abs(dist - want) > 1e-9 * max(1.0, want):
            problems.append(f"id {pid}: distance {dist!r} != {want!r}")
    recall = len({r[0] for r in rows} & set(truth.tolist())) / k
    return problems, recall


# ---------------------------------------------------------------------------
# text near-duplicates
# ---------------------------------------------------------------------------

def _mutate(words: list[str], rate: float, vocab: list[str],
            rng: np.random.Generator) -> list[str]:
    out = list(words)
    for i in range(len(out)):
        if rng.random() < rate:
            out[i] = vocab[rng.integers(len(vocab))]
    return out


def near_dup_corpus(seed: int, n_docs: int, doc_words: int = 40,
                    vocab_size: int = 20_000) -> list[tuple[int, str]]:
    """``n_docs`` (doc_id, text) rows with planted near-duplicates.

    Roughly half the corpus is unique background text.  The rest is
    planted in clusters of three shapes, so the verify threshold is met
    from both sides and connected components has work to do:

    * pairs at a light mutation rate (Jaccard well above 0.5);
    * pairs at a heavy mutation rate (Jaccard near or below 0.5);
    * drift chains: each link mutates the previous document lightly, so
      neighbours match while the chain's ends do not.  Chains are given
      shuffled ids, so min-label contraction needs several rounds.

    Ids are a seeded permutation of 0..n_docs-1."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(vocab_size)]

    def fresh() -> list[str]:
        return [vocab[j] for j in rng.integers(0, vocab_size, doc_words)]

    texts: list[list[str]] = []
    while len(texts) < n_docs:
        shape = rng.integers(0, 6)
        if shape <= 2:
            texts.append(fresh())
        elif shape == 3:
            a = fresh()
            texts += [a, _mutate(a, 0.04, vocab, rng)]
        elif shape == 4:
            a = fresh()
            texts += [a, _mutate(a, 0.14, vocab, rng)]
        else:
            chain = [fresh()]
            for _ in range(int(rng.integers(4, 9))):
                chain.append(_mutate(chain[-1], 0.07, vocab, rng))
            texts += chain
    texts = texts[:n_docs]
    ids = rng.permutation(n_docs)
    return [(int(ids[i]), " ".join(t)) for i, t in enumerate(texts)]


def shingle_set(text: str, k: int) -> frozenset:
    """k-word shingles of the lower-cased, whitespace-split text (a text
    shorter than k is one shingle)."""
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    if len(toks) < k:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


def similar(a: frozenset, b: frozenset, threshold: float) -> bool:
    """Jaccard(a, b) >= threshold, in the pipeline's integer form."""
    inter = len(a & b)
    return inter >= threshold * (len(a) + len(b) - inter)


def jaccard_pairs(docs: list[tuple[int, str]], k: int,
                  threshold: float) -> list[tuple[int, int]]:
    """Every pair (a < b) whose exact shingle-set Jaccard >= threshold.
    Pairs sharing no shingle have Jaccard 0, so only pairs that meet in
    the inverted index are scored."""
    sets = {i: shingle_set(t, k) for i, t in docs}
    postings = defaultdict(list)
    for i, s in sets.items():
        for sh in s:
            postings[sh].append(i)
    seen = set()
    for ids in postings.values():
        seen.update(combinations(sorted(ids), 2))
    return sorted((a, b) for a, b in seen
                  if similar(sets[a], sets[b], threshold))


def components(ids: list[int], pairs: list[tuple[int, int]]) -> dict[int, int]:
    """id -> minimum id of its connected component (union-find)."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def check_dedup(rows: list[tuple[int, int, int]], ids: list[int],
                truth: dict[int, int]) -> tuple[list[str], float, float]:
    """Check ``near_dup_pipeline`` output rows (id, canonical_id, keep)
    against the exact clustering ``truth`` (id -> cluster minimum).

    Problems: a document missing or repeated, a canonical id that is not
    its cluster's minimum member, ``keep`` not set exactly on canonicals.
    Returns (problems, pair recall, pair precision), where a pair is two
    documents placed in one cluster."""
    problems = []
    got = {}
    for i, c, keep in rows:
        if i in got:
            problems.append(f"doc {i} appears twice")
        got[i] = c
        if keep != int(i == c):
            problems.append(f"doc {i}: keep={keep} with canonical {c}")
    missing = set(ids) - set(got)
    if missing:
        problems.append(f"{len(missing)} docs missing")
    members = defaultdict(list)
    for i, c in got.items():
        members[c].append(i)
    for c, m in members.items():
        if min(m) != c:
            problems.append(f"cluster {c} has smaller member {min(m)}")
    joint = defaultdict(int)
    for i, c in got.items():
        if i in truth:
            joint[(c, truth[i])] += 1

    def pairs(counts):
        return sum(n * (n - 1) // 2 for n in counts)

    tp = pairs(joint.values())
    got_pairs = pairs(len(m) for m in members.values())
    true_sizes = defaultdict(int)
    for c in truth.values():
        true_sizes[c] += 1
    true_pairs = pairs(true_sizes.values())
    recall = tp / true_pairs if true_pairs else 1.0
    precision = tp / got_pairs if got_pairs else 1.0
    return problems, recall, precision
