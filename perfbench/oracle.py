"""Independent answers for every request type, computed in plain Python
over the generator's own copy of the data.

Nothing here imports the engine: tokenization follows the analyzer rule
written down in ``search/tokenize.py`` (see ``gen.tokens``), BM25 the
Okapi formula with the engine's defaults (k1=1.2, b=0.75, six-decimal
scores, ties by id), shingles the token 3-grams of ``pipeline/dedup.py``,
the kNN recall floor a replay of the IVF-PQ method documented in
``pipeline/similarity.py``.
"""

from __future__ import annotations

import math
from collections import Counter
from decimal import Decimal

import numpy as np

from gen import tokens

SCORE_TOL = 2e-6


class Corpus:
    """One version of the document table, with the lookups the checks
    need. ``docs`` maps row key -> {text, source, lang, n_chars}."""

    def __init__(self, docs: dict[str, dict], token_cache: dict | None = None):
        self.docs = docs
        cache = token_cache if token_cache is not None else {}
        self.toks = {}
        for k, d in docs.items():
            t = d["text"]
            if t not in cache:
                cache[t] = tokens(t)
            self.toks[k] = cache[t]
        self._tf: dict[str, Counter] = {}

    def tf(self, k: str) -> Counter:
        if k not in self._tf:
            self._tf[k] = Counter(self.toks[k])
        return self._tf[k]

    # ------------------------------------------------------------ bm25

    def bm25(self, terms: list[str], k: int = 10, k1: float = 1.2, b: float = 0.75):
        """[(id, score)] top-k, score desc then id asc."""
        terms = sorted({t.lower() for t in terms})
        indexed = [d for d in self.toks if self.toks[d]]
        n = float(len(indexed))
        avg_dl = sum(len(self.toks[d]) for d in indexed) / n
        df = {t: 0 for t in terms}
        hits = []
        for d in indexed:
            tf = self.tf(d)
            present = [t for t in terms if t in tf]
            for t in present:
                df[t] += 1
            if present:
                hits.append((d, present))
        out = []
        for d, present in hits:
            dl = len(self.toks[d])
            tf = self.tf(d)
            s = 0.0
            for t in present:
                idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * (tf[t] * (k1 + 1)) / (tf[t] + k1 * (1 - b + b * dl / avg_dl))
            out.append((d, round(s, 6)))
        out.sort(key=lambda r: (-r[1], r[0]))
        return out[:k], out

    # ---------------------------------------------------------- phrase

    def phrase(self, words: list[str]) -> dict[str, int]:
        """{id: number of start positions of the exact token sequence}."""
        words = [w.lower() for w in words]
        n = len(words)
        out = {}
        for d, toks in self.toks.items():
            c = sum(1 for i in range(len(toks) - n + 1) if toks[i:i + n] == words)
            if c:
                out[d] = c
        return out

    # ---------------------------------------------------------- select

    def select(self, req: dict):
        """(page ids, facets, n_chars stats) of a select request:
        q = ``text:<term> OR source:<src>``, fq lang = X and
        n_chars >= min, sort n_chars desc then id asc, start/rows."""
        term = req["q"].split()[0].split(":", 1)[1].lower()
        src = req["q"].split()[2].split(":", 1)[1]
        matched = [
            k for k, d in self.docs.items()
            if (term in self.tf(k) or d["source"] == src)
            and d["lang"] == req["lang"]
            and int(d["n_chars"]) >= req["min_chars"]
        ]
        order = sorted(matched, key=lambda k: (-int(self.docs[k]["n_chars"]), k))
        page = order[req["start"]:req["start"] + req["rows"]]
        facets = {
            f: sorted(Counter(self.docs[k][f] for k in matched).items(), key=lambda r: (-r[1], r[0]))
            for f in ("source", "lang")
        }
        vals = [int(self.docs[k]["n_chars"]) for k in matched]
        stats = None
        if vals:
            mean = Decimal(sum(vals)) / len(vals)
            stats = {"min": min(vals), "max": max(vals), "sum": sum(vals),
                     "mean": float(mean), "count": len(vals)}
        return page, facets, stats


def shingle_set(text: str) -> set[str]:
    toks = tokens(text)
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def near_dups(store: dict[str, set[str]], text: str, threshold: float = 0.5) -> dict[str, float]:
    """{old id: jaccard} for corpus docs whose 3-gram shingle Jaccard
    with ``text`` is at least ``threshold`` (six decimals)."""
    new = shingle_set(text)
    out = {}
    if not new:
        return out
    for k, old in store.items():
        common = len(new & old)
        if not common:
            continue
        j = round(common / (len(new) + len(old) - common), 6)
        if j >= threshold:
            out[k] = j
    return out


def _round(x, decimals: int):
    """Half-up rounding, as Spark's ``round``."""
    f = 10.0 ** decimals
    return np.sign(x) * np.floor(np.abs(x) * f + 0.5) / f


def _sq_l2(a, b):
    """Squared L2 over the last axis, summed left to right."""
    d = (a - b) ** 2
    acc = np.zeros(d.shape[:-1])
    for j in range(d.shape[-1]):
        acc = acc + d[..., j]
    return acc


class Vectors:
    """The embeddings as the engine stores them (float32), with the
    exact cosine top-k and a replay of the IVF-PQ serve path: one cell
    per label (six-decimal mean), PQ codewords sampled from the rows
    ``seed_ids``, the ``shortlist`` best ADC distances in the
    ``n_probe`` nearest cells, re-ranked by exact cosine. The replay's
    recall is the floor a served answer must reach, so serving cannot
    get cheaper by probing or re-ranking less."""

    def __init__(self, embeddings: dict, seed_ids: list[int], m: int):
        ks = sorted(embeddings)
        self.ids = np.array([int(k[1:]) for k in ks])
        self.x = np.array([embeddings[k][0] for k in ks], dtype=np.float32).astype(np.float64)
        self.row = {int(i): r for r, i in enumerate(self.ids)}
        labels = np.array([embeddings[k][1] for k in ks])
        self.cids = np.unique(labels)
        self.cent = np.array([_round(self.x[labels == c].mean(axis=0), 6) for c in self.cids])
        self.cell = self.cids[np.argmin(_round(_sq_l2(self.x[:, None, :], self.cent[None]), 6), axis=1)]
        self.w = self.x.shape[1] // m
        seeds = self.x[[self.row[i] for i in sorted(seed_ids)]]
        self.books = [seeds[:, s * self.w:(s + 1) * self.w] for s in range(m)]
        self.codes = np.stack([
            np.argmin(_round(_sq_l2(self._sub(self.x, s)[:, None, :], cb[None]), 9), axis=1)
            for s, cb in enumerate(self.books)], axis=1)

    def _sub(self, v, s):
        return v[..., s * self.w:(s + 1) * self.w]

    def _top(self, rows, q, k) -> set[int]:
        """The k best of ``rows`` by (six-decimal cosine desc, id asc)."""
        x = self.x[rows]
        sc = _round(x @ q / (np.linalg.norm(x, axis=1) * np.linalg.norm(q)), 6)
        return set(self.ids[rows[np.lexsort((self.ids[rows], -sc))[:k]]].tolist())

    def exact(self, query, k: int) -> set[int]:
        return self._top(np.arange(len(self.ids)), np.asarray(query, dtype=np.float64), k)

    def ivf_pq(self, query, k: int, n_probe: int, shortlist: int) -> set[int]:
        q = np.asarray(query, dtype=np.float64)
        dq = _round(_sq_l2(self.cent, q), 6)
        probes = self.cids[np.lexsort((self.cids, dq))[:n_probe]]
        approx = np.zeros(len(self.ids))
        for s, cb in enumerate(self.books):
            approx = approx + _round(_sq_l2(cb, self._sub(q, s)), 9)[self.codes[:, s]]
        cand = np.flatnonzero(np.isin(self.cell, probes))
        short = cand[np.lexsort((self.ids[cand], _round(approx[cand], 6)))[:shortlist]]
        return self._top(short, q, k)


def cosine(a: list[float], b: list[float]) -> float:
    num = sum(x * y for x, y in zip(a, b))
    den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
    return num / den


# -------------------------------------------------------------- checks

def check_bm25(corpus: Corpus, terms: list[str], rows: list[tuple], k: int = 10) -> bool:
    """Engine top-k must equal the oracle's: same scores within
    SCORE_TOL, in order, with ties at the cut allowed either way."""
    top, full = corpus.bm25(terms, k)
    if len(rows) != len(top):
        return False
    score = dict(full)
    kth = top[-1][1] if top else None
    for (rid, rs), (_oid, os_) in zip(rows, top):
        # the id may differ from the oracle's only between tied scores
        if rid not in score or abs(score[rid] - rs) > SCORE_TOL or abs(rs - os_) > SCORE_TOL:
            return False
    # every oracle hit strictly above the cut must be present
    got = {r[0] for r in rows}
    return all(d in got for d, s in top if kth is None or s > kth + SCORE_TOL)


def check_phrase(corpus: Corpus, words: list[str], rows: list[tuple]) -> bool:
    return dict(rows) == corpus.phrase(words)


def check_select(corpus: Corpus, req: dict, page: list[str], facets: dict, stats) -> bool:
    want_page, want_facets, want_stats = corpus.select(req)
    if page != want_page or facets != want_facets:
        return False
    if want_stats is None:
        return stats is None or stats["count"] == 0
    return (
        stats["count"] == want_stats["count"]
        and int(stats["min"]) == want_stats["min"]
        and int(stats["max"]) == want_stats["max"]
        and abs(float(stats["sum"]) - want_stats["sum"]) < 1e-6
        and abs(float(stats["mean"]) - want_stats["mean"]) < 1e-5
    )


def knn_recall(vectors: Vectors, query: list[float], rows: list[tuple], k: int = 10) -> float:
    """Share of the exact cosine top-k among the returned ids."""
    return len(vectors.exact(query, k) & {r[0] for r in rows}) / k


def check_knn(vectors: Vectors, query: list[float], rows: list[tuple],
              k: int = 10, n_probe: int = 4, shortlist: int = 40, **_) -> bool:
    """The served kNN re-ranks its shortlist by exact cosine: k results,
    each score the true cosine (six decimals), in (score desc, id asc)
    order, with recall@k at least that of the IVF-PQ replay with the
    same parameters."""
    if len(rows) != min(k, len(vectors.ids)):
        return False
    for rid, s in rows:
        if rid not in vectors.row or abs(round(cosine(vectors.x[vectors.row[rid]], query), 6) - s) > 1e-5:
            return False
    floor = len(vectors.exact(query, k) & vectors.ivf_pq(query, k, n_probe, shortlist)) / k
    return rows == sorted(rows, key=lambda r: (-r[1], r[0])) and knn_recall(vectors, query, rows, k) >= floor


def check_neardup(store: dict[str, set[str]], text: str, rows: list[tuple], threshold: float = 0.5) -> bool:
    want = near_dups(store, text, threshold)
    got = {old: j for old, j in rows}
    return set(got) == set(want) and all(abs(got[k] - want[k]) <= 1e-6 for k in want)
