"""Property-based tests (hypothesis): CDC semantics hold on arbitrary
mutation logs, and near-dup measures agree with pure-Python references.

Strategy sizes are kept small — each example round-trips through the
JVM; the value is the adversarial shapes (timestamp ties, delete-first
logs, re-inserts), not volume.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SCHEMA = (
    "op string, row_key string, family string, qualifier string, "
    "value string, ts timestamp, seq long"
)

_keys = st.sampled_from(["a", "b", "c"])
_quals = st.sampled_from(["q1", "q2"])
_ops = st.sampled_from(["put", "put", "put", "delete"])  # puts 3:1
_ts = st.integers(min_value=0, max_value=5)  # few values → frequent ties


@st.composite
def cell_logs(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    rows = []
    for seq in range(n):
        op = draw(_ops)
        key = draw(_keys)
        qual = draw(_quals) if op == "put" else None
        val = f"v{draw(st.integers(0, 9))}" if op == "put" else None
        rows.append((op, key, "cf", qual, val, dt.datetime(2024, 1, 1, 0, 0, draw(_ts)), seq))
    return rows


def _py_latest_per_key(rows):
    best: dict[str, tuple] = {}
    for r in rows:
        key = r[1]
        cur = best.get(key)
        if cur is None or (r[5], r[6]) > (cur[5], cur[6]):
            best[key] = r
    return best


def _py_live_docs(rows):
    """Pure-python oracle for documents_from_cells semantics."""
    latest_row = _py_latest_per_key(rows)
    cells: dict[tuple, tuple] = {}
    for r in rows:
        if r[0] != "put":
            continue
        k = (r[1], r[3])
        cur = cells.get(k)
        if cur is None or (r[5], r[6]) > (cur[5], cur[6]):
            cells[k] = r
    docs: dict[str, dict] = {}
    for (key, qual), r in cells.items():
        if latest_row[key][0] == "put":
            docs.setdefault(key, {})[qual] = r[4]
    return docs


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(cell_logs())
def test_latest_per_key_matches_python_oracle(spark, rows):
    from hbase_increment_index_spark.cdc.compaction import latest_per_key

    df = spark.createDataFrame(rows, SCHEMA)
    got = {r["row_key"]: (r["op"], r["seq"]) for r in latest_per_key(df).collect()}
    want = {k: (v[0], v[6]) for k, v in _py_latest_per_key(rows).items()}
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(cell_logs())
def test_documents_pivot_matches_python_oracle(spark, rows):
    from hbase_increment_index_spark.cdc.index_builder import documents_from_cells

    df = spark.createDataFrame(rows, SCHEMA)
    out = documents_from_cells(df, ["q1", "q2"]).collect()
    got = {
        r["id"]: {q: r[q] for q in ("q1", "q2") if r[q] is not None} for r in out
    }
    assert got == _py_live_docs(rows)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.text(alphabet=st.characters(codec="utf-8"), max_size=40), min_size=1, max_size=6))
def test_tokenizer_matches_python_re(spark, texts):
    """Spark tokens() == Python re tokens for arbitrary unicode input —
    the contract every oracle SQL tokenizer fragment relies on."""
    import re

    from hbase_increment_index_spark.search.tokenize import tokens

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {r["i"]: list(r["toks"]) for r in df.select("i", tokens("text").alias("toks")).collect()}
    want = {
        i: [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if t != ""]
        for i, txt in enumerate(texts)
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(cell_logs(), st.integers(min_value=1, max_value=10))
def test_merge_state_split_invariance(spark, rows, cut):
    """Applying a log in two chunks == applying it in one batch — the
    exactly-once micro-batch property the streaming path relies on.
    (This property is exactly what killed the earlier document-level
    merge: arrival order must not override event-time order.)"""
    from hbase_increment_index_spark.cdc.index_builder import (
        compact_state,
        documents_from_cells,
        documents_from_state,
        merge_state,
    )

    cut = min(cut, len(rows))
    first, second = rows[:cut], rows[cut:]
    all_df = spark.createDataFrame(rows, SCHEMA)
    want = {
        (r["id"], r["q1"], r["q2"]) for r in documents_from_cells(all_df, ["q1", "q2"]).collect()
    }
    state = compact_state(spark.createDataFrame(first, SCHEMA))
    if second:
        state = merge_state(state, spark.createDataFrame(second, SCHEMA))
    got = {
        (r["id"], r["q1"], r["q2"])
        for r in documents_from_state(state, ["q1", "q2"]).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
            max_size=80,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_scrub_pii_idempotent_and_digit_free(spark, texts):
    """Scrubbing twice == scrubbing once (placeholders never re-match),
    and no email/ip/phone pattern survives a scrub."""
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.pipeline.text import scrub_pii

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    once = scrub_pii(df, "text").select("id", F.col("clean_text").alias("text"))
    twice = scrub_pii(once, "text")
    rows = twice.collect()
    for r in rows:
        assert r["n_email"] == 0 and r["n_ip"] == 0 and r["n_phone"] == 0
        # idempotent: second pass changed nothing
    a = {r["id"]: r["text"] for r in once.collect()}
    b = {r["id"]: r["clean_text"] for r in rows}
    assert a == b


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-100.0,
                max_value=100.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=2,
            max_size=8,
        ).filter(lambda v: any(x != 0 for x in v)),
        min_size=1,
        max_size=5,
    )
)
def test_quantize_int8_reconstruction_bound(spark, vecs):
    """Dequantized values are within scale/2 of the original, codes fit
    int8, and the max-|x| element always maps to ±127."""
    from hbase_increment_index_spark.pipeline.similarity import quantize_int8

    # pad/truncate to equal dims not required — each row independent
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    for i, v in enumerate(vecs):
        r = out[i]
        codes = [int(c) for c in r["q_csv"].split(",")]
        s = max(abs(x) for x in v) / 127.0
        assert all(-128 <= c <= 127 for c in codes)
        assert max(abs(c) for c in codes) == 127
        for c, x in zip(codes, v):
            assert abs(c * s - x) <= s / 2 + 1e-9 * abs(x)
        assert r["q_sum"] == sum(codes)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=60),
        min_size=1,
        max_size=6,
    )
)
def test_repetition_features_bounded(spark, texts):
    """All repetition ratios live in [0, 1]; type_token_ratio == 1 iff
    all tokens distinct (when tokens exist)."""
    from hbase_increment_index_spark.pipeline.text import repetition_features

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for r in repetition_features(df, "doc_id").collect():
        for c in ("type_token_ratio", "dup_bigram_frac", "dup_trigram_frac", "top_token_frac"):
            assert 0.0 <= r[c] <= 1.0, (c, r)
        if r["n_tokens"] > 0:
            assert r["top_token_frac"] >= 1.0 / r["n_tokens"] - 1e-6


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["absent", "x", "y", "z"]),  # v1 state per id
            st.sampled_from(["absent", "x", "y", "z"]),  # final state per id
        ),
        min_size=1,
        max_size=8,
    )
)
def test_merge_facet_counts_equals_rebuild(spark, states):
    """IVM invariant: for ANY v1 corpus and ANY batch of inserts,
    updates and deletes, merging the ±delta into the materialized facet
    equals the facet rebuilt from the final corpus."""
    from collections import Counter

    from pyspark.sql import functions as F

    from hbase_increment_index_spark.search.facets import facet_field, merge_facet_counts

    v1 = {i: s1 for i, (s1, _) in enumerate(states) if s1 != "absent"}
    final = {i: s2 for i, (_, s2) in enumerate(states) if s2 != "absent"}
    touched = {i for i in range(len(states)) if v1.get(i) != final.get(i)}

    ddl = "id long, cat string"
    mk = lambda d, keep: spark.createDataFrame(
        [(i, c) for i, c in d.items() if i in keep], ddl
    )
    counts_v1 = facet_field(
        spark.createDataFrame(list(v1.items()) or [(None, None)], ddl).filter(
            F.col("id").isNotNull()
        ),
        "cat",
    )
    merged = {
        r["cat"]: r["n"]
        for r in merge_facet_counts(
            counts_v1, mk(v1, touched), mk(final, touched), F.col("cat"), "cat"
        ).collect()
    }
    assert merged == dict(Counter(final.values()))


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(["x", "y", "z"]), min_size=0, max_size=8),
        min_size=1,
        max_size=5,
    ),
    st.lists(st.sampled_from(["x", "y", "z"]), min_size=1, max_size=3),
)
def test_phrase_match_matches_python_oracle(spark, docs_tokens, phrase):
    """Index-served phrase matching equals the naive sliding-window
    count on ANY corpus, including overlapping and repeated-term
    phrases and empty documents."""
    from hbase_increment_index_spark.search.inverted import (
        build_positional_index,
        phrase_match_from_index,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pp = build_positional_index(docs, "doc_id", "text")
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_match_from_index(pp, phrase, "doc_id").collect()
    }
    want = {}
    for i, toks in enumerate(docs_tokens):
        n = sum(
            1
            for s in range(len(toks) - len(phrase) + 1)
            if toks[s : s + len(phrase)] == phrase
        )
        if n:
            want[i] = n
    assert got == want


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(["x", "y", "z"]), min_size=0, max_size=8),
        min_size=1,
        max_size=5,
    ),
    st.lists(st.sampled_from(["x", "y", "z"]), min_size=1, max_size=3),
    st.integers(min_value=0, max_value=3),
)
def test_sloppy_phrase_matches_python_oracle(spark, docs_tokens, phrase, slop):
    """Greedy-chain sloppy phrase equals the brute-force oracle (exists
    an in-order position chain with span ≤ (k-1)+slop, counting start
    positions with a surviving chain) on ANY corpus — including
    repeated terms, overlaps, and slop=0 ≡ exact phrase."""
    from hbase_increment_index_spark.search.inverted import (
        build_positional_index,
        sloppy_phrase_from_index,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pp = build_positional_index(docs, "doc_id", "text")
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in sloppy_phrase_from_index(pp, phrase, "doc_id", slop=slop).collect()
    }

    window = len(phrase) - 1 + slop

    def chain_ok(toks, start):
        # greedy: smallest next position per term minimizes the span
        if toks[start] != phrase[0]:
            return False
        cur = start
        for term in phrase[1:]:
            nxt = next((p for p in range(cur + 1, len(toks)) if toks[p] == term), None)
            if nxt is None:
                return False
            cur = nxt
        return cur - start <= window

    want = {}
    for i, toks in enumerate(docs_tokens):
        n = sum(1 for s in range(len(toks)) if chain_ok(toks, s))
        if n:
            want[i] = n
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=1, max_value=500),
        ),
        min_size=3,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=7),
)
def test_temperature_resample_partition_invariant(spark, rows, nparts):
    """The kept row set is content-addressed: identical under any input
    partitioning (the rerun-stability claim of pipeline.sampling), and
    every keep_rate is in (0, 1]."""
    from hbase_increment_index_spark.pipeline.sampling import temperature_resample

    df = spark.createDataFrame(rows, "doc_id long, source string, n_toks long")
    base = temperature_resample(df, "doc_id", "n_toks", "source", alpha=0.5)
    kept1 = {r["doc_id"] for r in base.collect()}
    rep = temperature_resample(
        df.repartition(nparts), "doc_id", "n_toks", "source", alpha=0.5
    )
    kept2 = {r["doc_id"] for r in rep.collect()}
    assert kept1 == kept2
    rates = [r["keep_rate"] for r in base.select("keep_rate").distinct().collect()]
    assert all(0.0 < x <= 1.0 for x in rates)


# ------------------------------------------------- duplicated spans

def _py_dup_spans(docs: dict[int, list[str]], n: int):
    """Pure-Python reference for pipeline.dedup.duplicated_spans."""
    from collections import defaultdict

    grams = {}  # doc -> [(pos, gram)]
    where = defaultdict(set)  # gram -> {docs}
    for d, toks in docs.items():
        g = [
            (i + 1, " ".join(toks[i : i + n]))
            for i in range(max(len(toks) - n + 1, 0))
        ]
        grams[d] = g
        for _, s in g:
            where[s].add(d)
    out = {}
    for d, g in grams.items():
        dup_pos = sorted(p for p, s in g if len(where[s]) > 1)
        if not dup_pos:
            continue
        spans = []
        for p in dup_pos:
            if spans and p - spans[-1][1] <= n:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        out[d] = {
            "n_dup_grams": len(dup_pos),
            "n_spans": len(spans),
            "dup_tokens": sum(hi - lo + n for lo, hi in spans),
        }
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12),
        min_size=2,
        max_size=6,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_duplicated_spans_matches_python_oracle(spark, token_lists, n):
    from hbase_increment_index_spark.pipeline.dedup import duplicated_spans

    docs = {i: toks for i, toks in enumerate(token_lists)}
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in docs.items()], "id long, txt string"
    )
    got = {
        r["id"]: {
            "n_dup_grams": r["n_dup_grams"],
            "n_spans": r["n_spans"],
            "dup_tokens": r["dup_tokens"],
        }
        for r in duplicated_spans(df, "id", "txt", n=n).collect()
    }
    assert got == _py_dup_spans(docs, n)


# ------------------------------------------------------------ eDisMax

def _py_edismax(docs, fields_boosts, terms, mm, tie):
    """Pure-Python eDisMax reference: per-field tf·idf with dismax
    combination (mirrors search.edismax.edismax_topk's formula)."""
    import math
    import re

    def toks(s):
        return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]

    n_docs = float(len(docs))
    terms = sorted({t.lower() for t in terms})
    # per field/term df and per doc/field/term tf
    w = {}  # (doc, term) -> list of field scores
    for field, boost in fields_boosts.items():
        tf = {}
        for d, row in docs.items():
            for t in toks(row[field]):
                if t in terms:
                    tf[(d, t)] = tf.get((d, t), 0) + 1
        df = {}
        for (d, t), c in tf.items():
            df[t] = df.get(t, 0) + 1
        for (d, t), c in tf.items():
            w.setdefault((d, t), []).append(boost * c * math.log(n_docs / df[t]))
    per_doc = {}
    for (d, t), ws in w.items():
        dismax = max(ws) + tie * (sum(ws) - max(ws))
        s, c = per_doc.get(d, (0.0, 0))
        per_doc[d] = (s + dismax, c + 1)
    return {
        d: (round(s, 6), c) for d, (s, c) in per_doc.items() if c >= mm
    }


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.lists(st.sampled_from(["apple", "pear", "kiwi", "fig"]), min_size=0, max_size=6),
            st.lists(st.sampled_from(["apple", "pear", "plum"]), min_size=0, max_size=4),
        ),
        min_size=2,
        max_size=6,
    ),
    st.integers(min_value=1, max_value=2),
    st.sampled_from([0.0, 0.1, 1.0]),
)
def test_edismax_matches_python_reference(spark, rows, mm, tie):
    from hbase_increment_index_spark.search.edismax import edismax_topk

    docs = {
        i: {"title": " ".join(a), "body": " ".join(b)}
        for i, (a, b) in enumerate(rows)
    }
    df = spark.createDataFrame(
        [(i, d["title"], d["body"]) for i, d in docs.items()],
        "id long, title string, body string",
    )
    got = {
        r["id"]: (r["score"], r["matched"])
        for r in edismax_topk(
            df, "id", {"title": 2.0, "body": 1.0}, ["apple", "pear"],
            mm=mm, tie=tie, k=100,
        ).collect()
    }
    expect = _py_edismax(docs, {"title": 2.0, "body": 1.0}, ["apple", "pear"], mm, tie)
    assert set(got) == set(expect)
    for d in expect:
        assert got[d][1] == expect[d][1]
        assert abs(got[d][0] - expect[d][0]) < 1e-6


# ----------------------------------------------- Soundex / S-stemmer


def _py_soundex(word: str) -> str:
    """Pure-Python reference of the engine's Soundex variant: map all
    letters (vowels/H/W/Y → 0), collapse runs, drop the first code,
    strip zeros, pad to 4."""
    import re

    u = re.sub(r"[^A-Za-z]", "", word).upper()
    if not u:
        return ""
    table = str.maketrans("ABCDEFGHIJKLMNOPQRSTUVWXYZ", "01230120022455012623010202")
    mapped = u.translate(table)
    collapsed = re.sub(r"(.)\1+", r"\1", mapped)
    tail = collapsed[1:].replace("0", "")
    return (u[0] + tail + "000")[:4]


def _py_sstem(w: str) -> str:
    if w.endswith("eies") or w.endswith("aies"):
        return w
    if w.endswith("ies"):
        return w[:-3] + "y"
    if w.endswith("aes") or w.endswith("ees") or w.endswith("oes"):
        return w
    if w.endswith("es"):
        return w[:-1]
    if w.endswith("us") or w.endswith("ss"):
        return w
    if w.endswith("s"):
        return w[:-1]
    return w


@given(
    words=st.lists(
        st.text(
            alphabet="abcdefghijklmnopqrstuvwxyzAEIOUYHWS0' -",
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_soundex_matches_python_reference(spark, words):
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.search.phonetic import soundex_code

    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = {r.w: r.c for r in df.select("w", soundex_code(F.col("w")).alias("c")).collect()}
    for w in words:
        assert got[w] == _py_soundex(w), w


@given(
    words=st.lists(
        st.text(alphabet="abcdehiorstuy", min_size=1, max_size=10),
        min_size=1,
        max_size=15,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sstemmer_matches_python_reference(spark, words):
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.search.analysis import stem

    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = {r.w: r.s for r in df.select("w", stem(F.col("w")).alias("s")).collect()}
    for w in words:
        assert got[w] == _py_sstem(w), w


@given(
    words=st.lists(
        st.text(alphabet="abcdeiorsuy", min_size=1, max_size=10),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_stem_sql_matches_spark_expression(spark, words):
    """The DuckDB stem fragment and the Spark stem expression agree on
    arbitrary lowercase words (not just the pointwise cases)."""
    import duckdb

    from pyspark.sql import functions as F

    from hbase_increment_index_spark.search.analysis import stem, stem_sql

    df = spark.createDataFrame([(w,) for w in set(words)], ["w"])
    got = {r.w: r.s for r in df.select("w", stem(F.col("w")).alias("s")).collect()}
    con = duckdb.connect()
    import pandas as pd

    con.register("v", pd.DataFrame({"w": sorted(set(words))}))
    want = dict(con.execute(f"SELECT w, {stem_sql('w')} FROM v").fetchall())
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_paths_agree(spark, edges):
    """The size-adaptive driver union-find and the distributed
    label-propagation loop compute identical (doc, component) maps on
    arbitrary graphs (chains, cliques, stars, disjoint mixes)."""
    from hbase_increment_index_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    )
    fast = {
        r["doc"]: r["component"] for r in connected_components(pairs).collect()
    }
    dist = {
        r["doc"]: r["component"]
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert fast == dist
    # component = min member: every component id labels itself
    for doc, comp in fast.items():
        assert comp <= doc and fast[comp] == comp


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="ab ", min_size=0, max_size=12),
            st.sampled_from(["web", "book", "code"]),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_dedup_savings_matches_python_oracle(spark, docs):
    """e1g's per-source (n_docs, n_dup_docs, bytes_total, bytes_saved)
    against a brute-force python fold on arbitrary small corpora with
    the same normalized-fingerprint dup rule and min-id canonical."""
    import re as _re

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.pipeline.text import fingerprint

    rows = [(i, text, src) for i, (text, src) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    w = Window.partitionBy(fingerprint("text")).orderBy(F.col("doc_id").asc())
    got = {
        r["source"]: (r["n_docs"], r["n_dup_docs"], r["bytes_total"], r["bytes_saved"])
        for r in df.withColumn("is_dup", F.row_number().over(w) > 1)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("is_dup").cast("long")).cast("long").alias("n_dup_docs"),
            F.sum(F.length("text").cast("long")).cast("long").alias("bytes_total"),
            F.sum(
                F.when(F.col("is_dup"), F.length("text").cast("long")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("bytes_saved"),
        )
        .collect()
    }

    def norm(t: str) -> str:
        return _re.sub(r"\s+", " ", t.strip().lower())

    seen: dict[str, int] = {}
    for i, text, _src in rows:
        seen.setdefault(norm(text), i)
    want: dict[str, list[int]] = {}
    for i, text, src in rows:
        is_dup = seen[norm(text)] != i
        agg = want.setdefault(src, [0, 0, 0, 0])
        agg[0] += 1
        agg[1] += int(is_dup)
        agg[2] += len(text)
        agg[3] += len(text) if is_dup else 0
    assert got == {k: tuple(v) for k, v in want.items()}


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    days=st.lists(st.integers(min_value=0, max_value=9), min_size=0, max_size=15),
)
def test_timeseries_gap_fill_property(spark, days):
    """timeseries() gap semantics on arbitrary data: the bucket spine
    is exactly the [start, end) day lattice regardless of which days
    hold data, empty buckets carry count 0 / null sums, and filled
    buckets match a plain groupBy."""
    from collections import Counter

    from hbase_increment_index_spark.search.streaming_expr import run_stream_expr

    rows = [
        (i, dt.datetime(2024, 5, 1 + d, 12, 0), float(d))
        for i, d in enumerate(days)
    ]
    df = spark.createDataFrame(rows, "id long, dtc timestamp, v double") if rows else (
        spark.createDataFrame([], "id long, dtc timestamp, v double")
    )
    out = run_stream_expr(
        spark, {"t": df},
        'timeseries(t, field="dtc", start="2024-05-01", end="2024-05-11", '
        'gap="+1DAY", sum(v), count(*))',
    ).collect()
    assert [r["bucket"] for r in out] == [f"2024-05-{d:02d}" for d in range(1, 11)]
    want = Counter(d for d in days)
    for r in out:
        d = int(r["bucket"][-2:]) - 1
        assert r["count_star"] == want.get(d, 0)
        if want.get(d, 0) == 0:
            assert r["sum_v"] is None
        else:
            assert r["sum_v"] == float(d) * want[d]


# ------------------------------------------------ atomic-update journal fold


def _py_journal_fold(events):
    """Reference fold for resolve_journal_ordered: the literal Solr
    atomic-update semantics, applied one event at a time."""
    import re as _re

    acc: list[str] = []
    for op, val in events:
        if op == "append":
            acc.append(val)
        elif op == "add-distinct":
            if val not in acc:
                acc.append(val)
        elif op == "remove":
            acc = [x for x in acc if x != val]
        elif op == "removeregex":
            acc = [x for x in acc if not _re.fullmatch(val, x)]
    return ",".join(acc) if acc else None


_journal_event = st.tuples(
    st.sampled_from(["append", "add-distinct", "remove", "removeregex"]),
    st.sampled_from(["a", "b", "c", "d", "a1", "b2"]),
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.lists(_journal_event, min_size=1, max_size=12), min_size=1, max_size=40))
def test_journal_ordered_fold_matches_python(spark, logs):
    """Many random per-cell event sequences resolved in ONE Spark job
    must each equal the sequential Python fold — the distributed
    higher-order aggregate implements exactly Solr's in-order
    atomic-update application. (removeregex values are plain literals
    here; under Solr's full-match semantics — Pattern.matches, modeled
    by re.fullmatch — 'a' removes 'a' but NOT 'a1', exercised against
    the same semantics on both sides.)"""
    from hbase_increment_index_spark.cdc.mutations import resolve_journal_ordered

    rows = [
        (op, f"cell{ci}", "cf", "q", val, float(i), i)
        for ci, events in enumerate(logs)
        for i, (op, val) in enumerate(events)
    ]
    mlog = spark.createDataFrame(
        rows,
        "op string, row_key string, family string, qualifier string, "
        "value string, ts double, seq long",
    )
    got = {
        r["row_key"]: r["value"] for r in resolve_journal_ordered(mlog).collect()
    }
    want = {f"cell{ci}": _py_journal_fold(events) for ci, events in enumerate(logs)}
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.sampled_from(["spark", "hash", "join", "scan", "merge", "row", "data"]),
            min_size=4,
            max_size=16,
        ).map(" ".join),
        min_size=2,
        max_size=8,
        unique=True,
    ),
    st.data(),
)
def test_minhash_query_identity(spark, texts, data):
    """{!min_hash} identity property: querying with a document's own
    text must rank that document first with sim_est 1.0 (every lane
    minimum equal) — for any corpus and any choice of query doc."""
    from hbase_increment_index_spark.pipeline.dedup import minhash_text_query

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    pick = data.draw(st.integers(min_value=0, max_value=len(texts) - 1))
    out = minhash_text_query(
        docs, "doc_id", "text", texts[pick], threshold=0.0
    ).collect()
    exact_ids = {i for i, t in enumerate(texts) if t == texts[pick]}
    assert out and out[0]["sim_est"] == 1.0 and out[0]["doc_id"] in exact_ids


# ------------------------------------------- incremental cluster merge


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda p: p[0] != p[1]),
        min_size=0, max_size=12,
    ),
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(lambda p: p[0] != p[1]),
        min_size=1, max_size=12,
    ),
)
def test_cluster_merge_equals_rebuild_property(spark, base_pairs, new_pairs):
    """For ANY base pair set and ANY delta pair set (bridges,
    singleton promotions, delta-only chains included), folding the
    delta pairs into the stored CC labels must equal re-clustering
    the union from scratch — the e2r merge ≡ rebuild invariant."""
    from hbase_increment_index_spark.pipeline.dedup import (
        connected_components,
        merge_cluster_labels,
    )

    bp = spark.createDataFrame(
        base_pairs or [(900, 901)], "id_a long, id_b long"
    )
    np_ = spark.createDataFrame(new_pairs, "id_a long, id_b long")
    stored = connected_components(bp)
    merged = {
        (r["doc"], r["component"])
        for r in merge_cluster_labels(stored, np_).collect()
    }
    rebuilt = {
        (r["doc"], r["component"])
        for r in connected_components(bp.unionByName(np_)).collect()
    }
    assert merged == rebuilt


# ----------------------------------------------------- metaphone chain


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.text(alphabet="abcdefghijklmnopqrstuvwxyz '-", min_size=0, max_size=14), min_size=1, max_size=25))
def test_metaphone_cross_engine_property(spark, words):
    """The Spark Metaphone expression chain and the DuckDB SQL twin
    must agree code-for-code on ARBITRARY words (including empties,
    punctuation, silent-letter clusters) — the single-sourced rule
    list is replayed identically by both regex engines."""
    import duckdb

    from hbase_increment_index_spark.search.phonetic import (
        metaphone_code,
        metaphone_sql,
    )

    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = [r["c"] for r in df.select(metaphone_code("w").alias("c")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {metaphone_sql('?')}", [w]).fetchone()[0]
        for w in words
    ]
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(  # existing corpus: token soups over a tiny alphabet
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8),
        min_size=1,
        max_size=6,
    ),
    st.lists(  # incoming delta
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8),
        min_size=1,
        max_size=4,
    ),
)
def test_store_served_pairing_equals_direct(spark, existing_toks, incoming_toks):
    """Store-served invariant (r12): for ANY corpus and ANY delta,
    pairing the delta against the persisted shingle-postings store
    (incremental_near_dups_from_index) produces EXACTLY the direct
    re-shingle-everything form's (id_new, id_old, jaccard) rows —
    including empty docs, shingle-less docs, and duplicate shingles."""
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.pipeline.dedup import (
        build_shingle_postings,
        incremental_near_dups,
        incremental_near_dups_from_index,
        shingle_doc_sizes,
    )

    existing = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(existing_toks)],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [(1000 + i, " ".join(t)) for i, t in enumerate(incoming_toks)],
        "doc_id long, text string",
    )
    direct = {
        (r["id_new"], r["id_old"], r["jaccard"])
        for r in incremental_near_dups(
            existing, incoming, "doc_id", "text", n=2, threshold=0.2
        ).collect()
    }
    store = build_shingle_postings(existing, "doc_id", "text", n=2)
    served = {
        (r["id_new"], r["id_old"], r["jaccard"])
        for r in incremental_near_dups_from_index(
            store, shingle_doc_sizes(store), incoming, "doc_id", "text",
            n=2, threshold=0.2,
        ).collect()
    }
    assert served == direct


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(  # corpus of token soups; clusters form via shared bigrams
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=6),
        min_size=1,
        max_size=7,
    ),
    st.sets(st.integers(min_value=0, max_value=6), max_size=4),
)
def test_scoped_cluster_delete_equals_rebuild(spark, token_docs, delete_idx):
    """CC delete-path invariant (r12): for ANY corpus and ANY delete
    set — including deletes of component minima and bridge docs —
    re-clustering only the affected components equals re-clustering
    the post-delete corpus from scratch."""
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.pipeline.dedup import (
        connected_components,
        delete_from_clusters,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(token_docs)],
        "doc_id long, text string",
    )
    stored = connected_components(
        ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.3)
    )
    dele = [i for i in delete_idx if i < len(token_docs)]
    deleted = spark.createDataFrame([(i,) for i in dele] or [(-1,)], "doc_id long")
    final = docs.filter(~F.col("doc_id").isin(dele) if dele else F.lit(True))
    scoped = {
        (r["doc"], r["component"])
        for r in delete_from_clusters(
            stored, deleted, final, "doc_id", "text", n=2, threshold=0.3
        ).collect()
    }
    rebuilt = {
        (r["doc"], r["component"])
        for r in connected_components(
            ngram_jaccard_pairs(final, "doc_id", "text", n=2, threshold=0.3)
        ).collect()
    }
    assert scoped == rebuilt


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(  # v1 corpus of token soups; clusters form via shared bigrams
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=6),
        min_size=1,
        max_size=6,
    ),
    st.sets(st.integers(min_value=0, max_value=5), max_size=3),  # deletes
    st.lists(  # upserts: (index, new token soup) — index < len reuses an
        st.tuples(  # existing id (UPDATE), index >= len is an INSERT
            st.integers(min_value=0, max_value=9),
            st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=6),
        ),
        max_size=3,
    ),
)
def test_commit_cluster_labels_equals_rebuild(spark, v1_toks, delete_idx, upserts):
    """Composed CC commit invariant (r13): for ANY v1 corpus and ANY
    mixed batch — deletes (incl. bridges and minima), text-changing
    updates (old pairs out AND new pairs in), inserts — the one-verb
    fold (commit_cluster_labels) equals a
    from-scratch re-clustering of the final corpus."""
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.pipeline.dedup import (
        build_shingle_postings,
        commit_cluster_labels,
        connected_components,
        ngram_jaccard_pairs,
        shingle_doc_sizes,
    )

    dele = sorted(i for i in delete_idx if i < len(v1_toks))
    changed_map: dict[int, str] = {}
    for idx, toks in upserts:
        if idx in dele:
            continue  # a key can't be both upserted and deleted here
        changed_map[idx] = " ".join(toks)
    v1 = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(v1_toks)],
        "doc_id long, text string",
    )
    stored = connected_components(
        ngram_jaccard_pairs(v1, "doc_id", "text", n=2, threshold=0.3)
    )
    store = build_shingle_postings(v1, "doc_id", "text", n=2)
    changed = spark.createDataFrame(
        [(i, t) for i, t in sorted(changed_map.items())] or [(-1, "")],
        "doc_id long, text string",
    )
    if not changed_map:
        changed = changed.filter(F.lit(False))
    deleted = spark.createDataFrame([(i,) for i in dele] or [(-1,)], "doc_id long")
    merged = {
        (r["doc"], r["component"])
        for r in commit_cluster_labels(
            stored,
            store,
            shingle_doc_sizes(store),
            changed,
            deleted,
            "doc_id",
            "text",
            n=2,
            threshold=0.3,
        ).collect()
    }
    final = v1.filter(
        ~F.col("doc_id").isin([*dele, *changed_map]) if (dele or changed_map)
        else F.lit(True)
    ).unionByName(changed)
    rebuilt = {
        (r["doc"], r["component"])
        for r in connected_components(
            ngram_jaccard_pairs(final, "doc_id", "text", n=2, threshold=0.3)
        ).collect()
    }
    assert merged == rebuilt
