"""Seeded input generator for the benchmark.

Everything the engine receives is made here from ``seed`` alone: the
document corpus (Zipf vocabulary, varied lengths, ``source``/``lang``
facets, planted near-duplicate families), clustered 64-d embeddings
keyed by document, the cell-log mutation stream (puts, updates,
deletes, out-of-order cells) and the request mix. The same seed gives
byte-identical inputs; ``fingerprint`` hashes them so the self-test
can prove it.

The generator also keeps its own copy of the data: ``Fold`` folds the
cell log with the engine's documented conflict rule
(newest ``(ts, seq)`` per cell; a row is live iff its newest row-level
event is a put), which is what the answer checks compare against.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import random
import re

import numpy as np

# Sizes and mix weights; BENCHMARK.json records the same values.
N_DOCS = 5000
VOCAB = 3000
ZIPF_S = 1.05
DOC_LEN = (6, 120)
N_FAMILIES = 60
FAMILY_SIZE = (2, 4)
DIM = 64
N_CLUSTERS = 16
SOURCES = ["web", "news", "forum", "wiki", "code", "book", "social", "mail"]
SOURCE_W = [30, 20, 14, 12, 9, 7, 5, 3]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_W = [50, 20, 12, 10, 8]
QUALIFIERS = ["text", "source", "lang", "n_chars"]
FAMILY = "cf"

#: documents per batch of the mutation stream (~1 % of the base index):
#: new docs (the first holds the batch's probe marker), updates, row
#: deletes, and stale out-of-order cells that must lose. Puts (new,
#: update, stale) to deletes is 40:8 = 5:1, the ratio of the reference's
#: 10k add / 2k delete buffers (streaming/cdc_stream.py); the split of
#: the puts among new docs, updates and stale cells is assumed
BATCH_MIX = {"new": 20, "update": 16, "delete": 8, "stale": 4}
N_BATCHES = 400

#: request mix of the ``search`` workload: weight of each type. The
#: reference serves full-text search and aggregate/facet queries
#: (PAPER.md), so ``bm25`` and ``select`` carry 8 of 11; ``phrase`` (the
#: rest of full-text retrieval) and the pipeline operators the north
#: star adds (``knn``, ``neardup``) carry 1 each. The exact weights are
#: assumed, not measured traffic; run.py prints each type's CPU too.
#: Types follow a fixed smooth interleaving of these weights (see
#: ``interleave``); the seed draws each request's parameters
MIX = {"bm25": 4, "select": 4, "phrase": 1, "knn": 1, "neardup": 1}
#: request mix of the readers in ``ingest_search``
LIVE_MIX = {"bm25": 1, "select": 1}
N_REQUESTS = 4000

TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")
BASE_TS = dt.datetime(2024, 1, 1, 0, 0, 0)


def tokens(text: str) -> list[str]:
    """The engine's analyzer rule (search/tokenize.py): lowercase, split
    on runs of characters outside [a-z0-9], drop empties."""
    return [t for t in TOKEN_SPLIT.split(text.lower()) if t]


def key(i: int) -> str:
    """Row key of document ``i``; zero-padded so string order is numeric."""
    return f"d{i:07d}"


def _vocab(rng: random.Random, n: int) -> list[str]:
    onsets = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z",
              "br", "st", "tr", "ch", "sh", "pl", "gr"]
    vowels = ["a", "e", "i", "o", "u", "ai", "ou", "ea"]
    codas = ["", "n", "r", "s", "t", "l", "m", "x"]
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(
            rng.choice(onsets) + rng.choice(vowels) + rng.choice(codas)
            for _ in range(rng.choice((1, 2, 2, 3)))
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    # frequent words are short (Zipf's law of abbreviation); it also keeps
    # the corpus byte size nearly the same from seed to seed
    return sorted(words, key=len)


class Inputs:
    """All generated inputs of one seed."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = random.Random(seed)
        self.rng = rng
        self.vocab = _vocab(rng, VOCAB)
        ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
        w = 1.0 / ranks**ZIPF_S
        self._cum = list(np.cumsum(w / w.sum()))
        self.docs = self._corpus(N_DOCS)
        self.embeddings = self._embeddings()

    # ------------------------------------------------------------ corpus

    def words(self, n: int) -> list[str]:
        return self.rng.choices(self.vocab, cum_weights=self._cum, k=n)

    def render(self, words: list[str]) -> str:
        """Join words into text with the casing and punctuation the
        analyzer must strip."""
        rng = self.rng
        out = []
        for i, w in enumerate(words):
            if i == 0 or rng.random() < 0.05:
                w = w.capitalize()
            out.append(w)
            r = rng.random()
            if r < 0.06:
                out[-1] += ","
            elif r < 0.09:
                out[-1] += "."
        return " ".join(out)

    def _doc_len(self) -> int:
        lo, hi = DOC_LEN
        return max(lo, min(hi, int(self.rng.lognormvariate(math.log(35), 0.6))))

    def new_doc(self, i: int) -> dict:
        rng = self.rng
        text = self.render(self.words(self._doc_len()))
        return {
            "id": key(i),
            "text": text,
            "source": rng.choices(SOURCES, SOURCE_W)[0],
            "lang": rng.choices(LANGS, LANG_W)[0],
            "n_chars": str(len(text)),
        }

    def variant(self, base_text: str) -> str:
        """A near-duplicate: ~5 % of the base's tokens replaced."""
        toks = tokens(base_text)
        for j in range(len(toks)):
            if self.rng.random() < 0.05:
                toks[j] = self.words(1)[0]
        return " ".join(toks)

    def _corpus(self, n: int) -> dict[str, dict]:
        docs = {key(i): self.new_doc(i) for i in range(n)}
        # planted near-duplicate families: a long base doc and variants
        ids = list(docs)
        self.families: list[list[str]] = []
        for f in range(N_FAMILIES):
            members = self.rng.sample(ids, self.rng.randint(*FAMILY_SIZE))
            base = docs[members[0]]
            if len(tokens(base["text"])) < 40:
                base["text"] = self.render(self.words(60))
                base["n_chars"] = str(len(base["text"]))
            for m in members[1:]:
                docs[m]["text"] = self.variant(base["text"])
                docs[m]["n_chars"] = str(len(docs[m]["text"]))
            self.families.append(members)
        return docs

    def _embeddings(self) -> dict[str, tuple[list[float], int]]:
        g = np.random.default_rng(self.seed)
        centers = g.normal(size=(N_CLUSTERS, DIM))
        out = {}
        for k in sorted(self.docs):
            c = int(g.integers(N_CLUSTERS))
            v = centers[c] + 0.35 * g.normal(size=DIM)
            out[k] = ([round(float(x), 4) for x in v], c)
        return out

    # --------------------------------------------------------- cell log

    def base_cells(self) -> list[tuple]:
        """Cell log that bulk-loads the corpus: one put per field."""
        cells = []
        seq = 0
        for k in sorted(self.docs):
            d = self.docs[k]
            for q in QUALIFIERS:
                cells.append(("put", k, FAMILY, q, d[q], BASE_TS, seq))
                seq += 1
        self.seq = seq
        return cells

    def batches(self, n_batches: int = N_BATCHES) -> list[list[tuple]]:
        """The mutation stream: ``n_batches`` cell-log batches. Each mixes
        new docs, updates of live docs, deletes and stale (out-of-order)
        cells whose ``ts`` is older than the cell they shadow, and is
        shuffled so cell order within a file never matters. Batch ``b``
        always opens with a new doc holding the marker token
        ``marker(b)`` — the read-your-writes probe looks for it."""
        self.rng = rng = random.Random(f"{self.seed}-batches")
        self.seq = len(self.docs) * len(QUALIFIERS)
        self.next_id = len(self.docs)
        live = sorted(self.docs)
        live_set = set(live)
        cell_ts = {}  # (key, qualifier) -> newest ts written
        out = []
        for b in range(n_batches):
            ts = BASE_TS + dt.timedelta(minutes=b + 1)
            cells: list[tuple] = []

            def put(k, q, v, t):
                cells.append(("put", k, FAMILY, q, v, t, self._next_seq()))
                cell_ts[(k, q)] = max(cell_ts.get((k, q), t), t)

            marker_doc = self.new_doc(self.next_id)
            marker_doc["text"] = f"{self.marker(b)} " + marker_doc["text"]
            marker_doc["n_chars"] = str(len(marker_doc["text"]))
            self.next_id += 1
            new_docs = [marker_doc]
            for _ in range(BATCH_MIX["new"] - 1):
                new_docs.append(self.new_doc(self.next_id))
                self.next_id += 1
            old = rng.sample(live, BATCH_MIX["update"] + BATCH_MIX["delete"] + BATCH_MIX["stale"])
            updates = old[:BATCH_MIX["update"]]
            deletes = old[BATCH_MIX["update"]:BATCH_MIX["update"] + BATCH_MIX["delete"]]
            stale = old[BATCH_MIX["update"] + BATCH_MIX["delete"]:]
            for doc in new_docs:
                for q in QUALIFIERS:
                    put(doc["id"], q, doc[q], ts)
                live.append(doc["id"])
                live_set.add(doc["id"])
            for i, k in enumerate(updates):
                text = self.render(self.words(self._doc_len()))
                put(k, "text", text, ts)
                put(k, "n_chars", str(len(text)), ts)
                if i % 3 == 0:
                    put(k, "source", rng.choices(SOURCES, SOURCE_W)[0], ts)
            for k in deletes:
                cells.append(("delete", k, FAMILY, None, None, ts, self._next_seq()))
                live_set.discard(k)
            for k in stale:  # older than the newest cell, so it must lose
                t_old = min(cell_ts.get((k, "source"), BASE_TS), ts) - dt.timedelta(seconds=30)
                put(k, "source", "stale", t_old)
            live = [k for k in live if k in live_set]
            rng.shuffle(cells)
            out.append(cells)
        return out

    def _next_seq(self) -> int:
        self.seq += 1
        return self.seq

    def marker(self, b: int) -> str:
        return f"zqmark{self.seed}x{b}"

    # ---------------------------------------------------------- requests

    def requests(self, mix: dict[str, int], n: int = N_REQUESTS, salt: str = "") -> list[dict]:
        """Seeded request list. Query terms are drawn Zipf-distributed
        from the vocabulary, so popular requests repeat."""
        self.rng = rng = random.Random(f"{self.seed}-requests-{sorted(mix)}{salt}")
        keys = sorted(self.docs)
        long_docs = [k for k in keys if len(tokens(self.docs[k]["text"])) >= 12]
        kinds = interleave(mix, n)
        out = []
        for kind in kinds:
            if kind == "bm25":
                req = {"terms": sorted(set(self.words(rng.choice((2, 3, 3)))))}
            elif kind == "select":
                term = self.words(1)[0]
                src = rng.choice(SOURCES[:5])
                lo = rng.choice((0, 100, 200))
                req = {
                    "q": f"text:{term} OR source:{src}",
                    "lang": rng.choice(LANGS[:3]),
                    "min_chars": lo,
                    "start": rng.choice((0, 0, 10)),
                    "rows": 10,
                }
            elif kind == "phrase":
                toks = tokens(self.docs[rng.choice(long_docs)]["text"])
                p = rng.randrange(len(toks) - 2)
                req = {"words": toks[p:p + rng.choice((2, 3))]}
            elif kind == "knn":
                vec, c = self.embeddings[rng.choice(keys)]
                req = {"vec": [round(x + rng.gauss(0, 0.2), 4) for x in vec]}
            else:  # neardup: one incoming doc, a variant of a family member
                fam = rng.choice(self.families)
                base = self.docs[rng.choice(fam)]["text"]
                req = {"id": f"n{rng.randrange(10**6):06d}", "text": self.variant(base)}
            req["type"] = kind
            out.append(req)
        return out


def interleave(weights: dict[str, int], n: int) -> list[str]:
    """Smooth weighted round-robin: ``n`` type names in which any prefix
    holds each type in proportion to its weight."""
    total = sum(weights.values())
    cur = {k: 0 for k in weights}
    out = []
    for _ in range(n):
        for k, w in weights.items():
            cur[k] += w
        pick = max(cur, key=lambda k: cur[k])
        cur[pick] -= total
        out.append(pick)
    return out


class Fold:
    """The generator's own copy of the index state: folds cell-log
    batches over the base corpus with the engine's rule — per
    (row, qualifier) the newest ``(ts, seq)`` put wins; a row is live
    iff its newest row-level event (puts and deletes alike) is a put."""

    def __init__(self, base: dict[str, dict]):
        self.cell: dict[tuple, tuple] = {}
        self.row: dict[str, tuple] = {}
        for k, d in base.items():
            for q in QUALIFIERS:
                self.cell[(k, q)] = ((BASE_TS, -1), d[q])
            self.row[k] = ((BASE_TS, -1), "put")

    def apply(self, batch: list[tuple]) -> None:
        for op, k, _fam, q, v, ts, seq in batch:
            o = (ts, seq)
            if op == "put" and ((k, q) not in self.cell or o > self.cell[(k, q)][0]):
                self.cell[(k, q)] = (o, v)
            if k not in self.row or o > self.row[k][0]:
                self.row[k] = (o, op)

    def docs(self) -> dict[str, dict]:
        out = {}
        for k, (_o, op) in self.row.items():
            if op == "put":
                out[k] = {q: self.cell[(k, q)][1] if (k, q) in self.cell else None
                          for q in QUALIFIERS}
        return out


def fingerprint(obj) -> str:
    """Stable hash of any JSON-able input (datetimes as ISO strings)."""
    blob = json.dumps(obj, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()[:16]
