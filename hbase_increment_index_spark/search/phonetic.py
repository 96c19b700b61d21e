"""Phonetic matching — Solr's PhoneticFilterFactory (Soundex) as a
pure expression chain.

Solr deployments of the reference's era commonly add a phonetic
analyzer (``<filter class="solr.PhoneticFilterFactory"
encoder="Soundex"/>``) so name-like fields match on pronunciation.
This module implements textbook American Soundex as a Column
expression — no UDF, fully codegen'd, and portable: every step
(translate, regexp_replace without backreferences, substr, rpad) has
an identical DuckDB counterpart, so phonetic queries oracle-check
bit-for-bit. RE2 (DuckDB) lacks backreferences, so run-collapsing is
seven per-digit ``regexp_replace(c, 'd{2,}', 'd')`` passes instead of
one ``(\\d)\\1+`` — same result, engine-portable.

Variant note: H and W are treated as vowels (separators), the common
simplified Soundex; classic NARA Soundex instead makes them
transparent between same-coded consonants. Documented so the oracle
and any external comparison use the same convention.

Zero-shuffle: soundex_code is a projection; a sounds-like search is
vocabulary-filter + the usual postings aggregation. At 100 TB the
phonetic code is indexed once next to the postings (a column in the
vocabulary table), making the query a point lookup on the code.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# letter → digit map (A..Z order), vowels/H/W/Y → 0 (separator)
_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_CODES = "01230120022455012623010202"


def soundex_code(col: Column | str) -> Column:
    """Textbook Soundex code (e.g. 'spark' → 'S162') as an expression.

    first letter + (run-collapsed digit string of the rest, zeros
    dropped), right-padded with zeros to 4. Non-letters are stripped
    first, so input containing no letters at all yields ''.
    """
    c = F.col(col) if isinstance(col, str) else col
    u = F.upper(F.regexp_replace(c, "[^A-Za-z]", ""))
    mapped = F.translate(u, _LETTERS, _CODES)
    collapsed = mapped
    for d in "0123456":
        collapsed = F.regexp_replace(collapsed, d + "{2,}", d)
    tail = F.regexp_replace(F.substring(collapsed, 2, 1000), "0", "")
    code = F.concat(F.substring(u, 1, 1), tail)
    return F.when(u == "", F.lit("")).otherwise(F.rpad(F.substring(code, 1, 4), 4, "0"))


def soundex_sql(expr: str) -> str:
    """The same chain as a DuckDB SQL fragment over column/expression
    ``expr`` — used by oracle queries to reproduce codes exactly."""
    u = f"upper(regexp_replace({expr}, '[^A-Za-z]', '', 'g'))"
    collapsed = f"translate({u}, '{_LETTERS}', '{_CODES}')"
    for d in "0123456":
        collapsed = f"regexp_replace({collapsed}, '{d}{{2,}}', '{d}', 'g')"
    tail = f"regexp_replace(substr({collapsed}, 2), '0', '', 'g')"
    return (
        f"CASE WHEN {u} = '' THEN '' "
        f"ELSE rpad(substr(substr({u}, 1, 1) || {tail}, 1, 4), 4, '0') END"
    )


def phonetic_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_word: str,
) -> DataFrame:
    """Sounds-like full-text match: documents containing ANY token
    whose Soundex equals the query's — `q=f:word` with a phonetic
    analyzer. One projection filter (exists over the token array), no
    shuffle; the phonetic code evaluation inlines into codegen."""
    from hbase_increment_index_spark.search.tokenize import tokens

    q_code = soundex_code(F.lit(query_word))
    return df.filter(
        F.exists(tokens(text_col), lambda t: soundex_code(t) == q_code)
    ).select(id_col, text_col)


# ---------------------------------------------------------------- Metaphone

# Original Metaphone (Lawrence Philips, Computer Language 7(12), 1990 —
# the second PhoneticFilterFactory encoder real deployments pick,
# commons-codec's encoder="Metaphone"), expressed as an ORDERED global
# regex-replace chain. Input is lowercase a-z; outputs are UPPERCASE
# (plus '0' for the th sound), so a produced code letter can never
# re-match a later input rule. The chain is RE2-safe: no lookarounds,
# no pattern backreferences (run-collapse is per-letter, the Soundex
# trick above), group references only in replacements — so DuckDB
# replays the identical chain and codes oracle-check bit-for-bit.
#
# Variant notes (documented, engine-consistent): rules are applied as
# sequential GLOBAL replaces rather than the original's stateful
# per-character scan, which fixes the rare overlapping-context cases
# (e.g. 'ahah') to the chain's left-to-right reading; non-initial 'gh'
# is silent everywhere (the Philips rule without the
# exceptions list); 'gned/gnes' endings take the plain gn$ rule.
_METAPHONE_RULES: list[tuple[str, str]] = (
    # adjacent-duplicate collapse, except c (classic exemption so 'cc'
    # can still soften: acce → AKS)
    [(ltr + "{2,}", ltr) for ltr in "abdefghijklmnopqrstuvwxyz"]
    + [
        # word-initial exceptions
        ("^ae", "E"),
        ("^gn", "N"), ("^kn", "N"), ("^pn", "N"), ("^wr", "R"),
        ("^wh", "W"),
        ("^x", "S"),
        ("^gh", "K"),
        ("^a", "A"), ("^e", "E"), ("^i", "I"), ("^o", "O"), ("^u", "U"),
        # silent trailing b after m
        ("mb$", "M"),
        # c clusters (order matters)
        ("sch", "sK"),
        ("cia", "Xia"),
        ("cc", "Kc"),
        ("ch", "X"),
        ("c([eiy])", "S$1"),
        ("c", "K"),
        ("Kk", "K"),  # ck: the k is silent after the hard c
        # d
        ("dg([eiy])", "J$1"),
        ("d", "T"),
        # g
        ("gh", ""),            # non-initial gh: silent (night → NT)
        ("gn$", "N"),
        ("g([eiy])", "J$1"),
        ("g", "K"),
        # p / q
        ("ph", "F"),
        ("q", "K"),
        # s
        ("si([oa])", "Xi$1"),
        ("sh", "X"),
        # t
        ("ti([oa])", "Xi$1"),
        ("tch", "X"),
        ("th", "0"),
        # straight consonants
        ("v", "F"), ("x", "KS"), ("z", "S"), ("j", "J"),
        ("k", "K"), ("s", "S"), ("t", "T"), ("b", "B"), ("f", "F"),
        ("l", "L"), ("m", "M"), ("n", "N"), ("p", "P"), ("r", "R"),
        # h: kept only before a vowel; every other h is silent
        ("h([aeiou])", "H$1"),
        ("h", ""),
        # w / y: kept only before a vowel
        ("w([aeiou])", "W$1"),
        ("y([aeiou])", "Y$1"),
        # drop everything unprocessed (non-initial vowels, silent w/y)
        ("[a-z]", ""),
    ]
)


def metaphone_code(col: Column | str) -> Column:
    """Metaphone code (e.g. 'spark' → 'SPRK', 'night' → 'NT',
    'phone' → 'FN') as a pure expression — the ordered rule chain
    above, fully codegen'd, zero shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(F.lower(c), "[^a-z]", "")
    for pat, rep in _METAPHONE_RULES:
        out = F.regexp_replace(out, pat, rep)
    return out


def metaphone_sql(expr: str) -> str:
    """The SAME chain as a DuckDB fragment ($1 group references become
    RE2's \\1 replacement syntax; patterns are shared verbatim)."""
    out = f"regexp_replace(lower({expr}), '[^a-z]', '', 'g')"
    for pat, rep in _METAPHONE_RULES:
        duck_rep = rep.replace("$1", "\\1")
        out = f"regexp_replace({out}, '{pat}', '{duck_rep}', 'g')"
    return out
