"""Solr streaming-expressions compiler: the `/stream` handler's
expression language (the batch-analytics query language of the Solr
the reference ships against — its pom bumps solrj to 9.8.0,
reference pom.xml:22, where `/stream` is a core API) compiled to
Spark DataFrame plans.

A user of the reference system who outgrew the `select` handler
writes expressions like::

    top(n=10, sort="revenue desc",
        rollup(search(lineitem, q="l_returnflag:A", fl="l_suppkey,l_extendedprice"),
               over="l_suppkey", sum(l_extendedprice), count(*)))

This module parses that text into the equivalent DataFrame plan.
Spark-first by design: Solr's streaming decorators (innerJoin,
unique, rollup) require their input streams to arrive SORTED on the
join/over keys because a Solr worker streams tuples one-by-one;
Catalyst has no such constraint — joins hash or broadcast, rollups
are partial+final hash aggregates — so the sort preconditions are
dropped rather than emulated, and the same expression plans into
shuffle-minimal physical operators.

Grammar (recursive descent, one token of lookahead)::

    expr   := NAME '(' arg (',' arg)* ')'
    arg    := expr                         # sub-stream or metric/bool
            | NAME '=' value               # named parameter
            | NAME                         # bare field (select lists)
    value  := '"' chars '"' | bare-chars

Supported stream sources/decorators (Solr names):

    search(table, q="...", fq="...", fl="a,b", sort="f asc,g desc")
    select(stream, "a as b", "c", eval(...) as d, ...)
                                       # eval := arithmetic stream
                                       # evaluators add/sub/mult/div/
                                       # pow/mod/sqrt/abs/log/log10/
                                       # ceil/floor/round/val plus the
                                       # boolean/conditional set if/gt/
                                       # gte/lt/lte/eq/and/or/not,
                                       # nested freely; compiled to
                                       # codegen'd Column expressions
    top(stream, n=N, sort="...")
    sort(stream, by="...")
    unique(stream, over="f", sort="...")
    rollup(stream, over="a,b", sum(x), avg(x), min(x), max(x), count(*))
    stats(table, q="...", metrics...)
    facet(table, q="...", buckets="a,b", bucketSizeLimit=N,
          bucketSorts="metric desc", metrics...)
    innerJoin(left, right, on="lk=rk" | "k")
    leftOuterJoin(left, right, on=...)
    hashJoin(left, hashed=right, on=...)       # alias of innerJoin
    outerHashJoin(left, hashed=right, on=...)  # alias of leftOuterJoin
    hashRollup(stream, over=..., metrics...)   # alias of rollup
    intersect(left, hashed=right, on=...)      # left-semi
    complement(left, hashed=right, on=...)     # left-anti
    merge(s1, s2, on="sort spec")              # unionByName + sort
    fetch(table, stream, on="lk=rk", fl="extra1,extra2")
    having(stream, bool)   with bool := eq|gt|lt|gteq|lteq(field, v)
                                       | and(b1,b2) | or(b1,b2) | not(b)
    timeseries(table, q="...", field="dt", start="...", end="...",
               gap="+1MONTH", metrics...)   # gap-filled date buckets
    significantTerms(table, q="...", field="text", limit=N,
                     minDocFreq=N)          # fg-vs-corpus term lift
    nodes(table, stream, walk="src->dst", gather="g")  # one graph hop;
                                       # nest nodes() calls for multi-hop
    shortestPath(table, from="a", to="b", edge="src=dst", maxDepth=4)
                                       # BFS path (step, node) rows
    update(dest, stream, key="idField")  # write-back decorator: COW
                                       # MERGE into the dest collection
    topic(ckptColl, coll, q="...", id="t1", versionField="ts")
                                       # checkpointed incremental pull
    scoreNodes(nodes(..., count(*)), coll, field="f")  # tf-idf node scores
    daemon(stream, id="d1", runInterval=30000)  # background-loop handle
    cov(col(a, x), col(a, y))          # sample covariance (n−1), one
                                       # hash agg like corr()/regress()
    ttest(col(a, x), col(b, y))        # Welch two-sample t: t_stat +
                                       # Welch–Satterthwaite df
    anova(col(a,x), col(b,y), ...)     # one-way ANOVA: F ratio +
                                       # between/within df over k series
    distance(col(a,x), col(a,y), type="euclidean|manhattan|cosine")
                                       # row-wise vector distance,
                                       # one hash agg
    chiSquareDataSet(col(a,x), col(b,y))  # two-distribution χ²:
                                       # statistic + df over aligned
                                       # value bins
    frequencyTable(col(a, x))          # per-value count/pct/cumulative
    polyfit(col(a,x), col(a,y))        # degree-2 least squares:
                                       # (c0, c1, c2) via Cramer over
                                       # the decimal moment bundle
    derivative(polyfit(...))           # d/dx of the fit: (d0, d1)
    executor(stream[, threads=N])      # run EVERY tuple's expr_s
                                       # expression, concatenate results
    movingAvg(col(a, f), over="k", window=N)   # trailing-N average
    expMovingAvg(col(a, f), over="k", window=N)  # EMA, α=2/(N+1)
    train(table, field="text", outcome="lang:de", terms="a,b",
          maxIterations=5)             # logistic-regression trainer
    classify(model, stream, field="text")  # apply a trained model:
                                       # probability_d + predicted_i
                                       # per tuple, one codegen
                                       # projection (model = train()
                                       # or terms=/weights= literals)
    random(table, q="...", rows=N, seed="s")  # deterministic sample
                                       # (content-hash E-S keys)
    delete(dest, stream, key="idField")  # write-back decorator: COW
                                       # deleteById (update()'s twin)
    facet2D(table, q="...", x="fx", y="fy", dimensions="nx,ny",
            metric)                    # 2-D faceting: top-nx x buckets,
                                       # top-ny y within each
    movingMedian(col(a, f), over="k", window=N)  # trailing-N exact
                                       # median (full windows only)
    zscores(col(a, f))                 # standardize the series,
                                       # (x-mean)/sample-stddev
    drill(table, q="...", fl="...", sort="...",
          rollup(input(), over="a", metrics...))  # export-handler
                                       # pushdown agg; compiles to the
                                       # native partials-then-merge
                                       # hash aggregate
    model(models, id="m1")             # pull a stored model's tuples
                                       # (feeds classify)
    list(s1, s2, ...)                  # concatenate streams
    priority(s1, s2, ...)              # first non-empty stream wins
                                       # (bounded limit(1) probes)
    echo("text")                       # one-tuple literal source
    tuple(a=expr, b=expr, ...)         # one tuple of evaluator results
    plist(s1, s2, ...)                 # list() with parallel opens —
                                       # Spark unions already schedule
                                       # branches concurrently
    eval(stream[, field="expr_s"])     # compile + run the expression
                                       # found in the inner stream's
                                       # first tuple
    reduce(stream, by="f", group(sort="...", n=N))
                                       # sort-based grouping: top-n
                                       # per by-group under group()'s
                                       # sort, flattened to rows with
                                       # a group_pos rank
    commit(dest, update(...))          # pass-through: COW merges are
                                       # durable per batch

Metric aliases are deterministic (`sum(x)` → column ``sum_x``,
`count(*)` → ``count_star``), so an oracle SQL twin can name the same
columns; double sums ride the exact-decimal path (numeric.exact_sum)
to stay order-independent under any partitioning.

Scale notes: `search` pushes `q`/`fq` predicates and the `fl`
projection straight into the scan (Catalyst pushdown — the expression
never materializes unprojected columns); `rollup`/`facet`/`stats` are
single hash aggregates with map-side partials; `top` is
TakeOrderedAndProject (per-partition heaps, no global sort);
`unique` is one window on the `over` key. Joins pick
broadcast/shuffle-hash via AQE; `fetch`'s enrichment side is keyed by
the stream's harvested keys, mirroring `q50_cross_join_parser`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hbase_increment_index_spark.functions.layout import fan_out
from hbase_increment_index_spark.numeric import exact_avg, exact_sum


class StreamExprError(ValueError):
    pass


# ---------------------------------------------------------------- parsing


@dataclass
class Call:
    name: str
    streams: list = field(default_factory=list)  # positional sub-Calls
    params: dict = field(default_factory=dict)  # name=value params
    fields: list = field(default_factory=list)  # bare positional strings
    # every argument in ORIGINAL order, as ("stream", Call) /
    # ("field", str) / ("param", name, value) — consumers that need
    # argument ORDER across kinds (select()'s evaluator+alias grammar,
    # arithmetic evaluators' operand order) read this; the split
    # streams/params/fields views above stay authoritative for
    # everything else
    args: list = field(default_factory=list)


_TOK = re.compile(
    r"""\s*(?:
        (?P<name>[A-Za-z_][\w.]*)\s*(?P<lparen>\()? |
        (?P<eq>=) | (?P<comma>,) | (?P<rparen>\)) |
        "(?P<quoted>[^"]*)" |
        (?P<star>\*) |
        (?P<bare>[^\s,()=]+)
    )""",
    re.VERBOSE,
)


def _lex(text: str):
    text = text.strip()
    pos, out = 0, []
    while pos < len(text):
        m = _TOK.match(text, pos)
        if not m or m.end() == pos:
            raise StreamExprError(f"bad token at {text[pos:pos + 20]!r}")
        pos = m.end()
        if m.group("name") is not None:
            out.append(("call" if m.group("lparen") else "name", m.group("name")))
        elif m.group("eq"):
            out.append(("eq", "="))
        elif m.group("comma"):
            out.append(("comma", ","))
        elif m.group("rparen"):
            out.append(("rparen", ")"))
        elif m.group("quoted") is not None:
            out.append(("str", m.group("quoted")))
        elif m.group("star"):
            out.append(("name", "*"))
        else:
            out.append(("str", m.group("bare")))
    return out


def parse(text: str) -> Call:
    toks = _lex(text)
    idx = 0

    def peek(k=0):
        return toks[idx + k] if idx + k < len(toks) else ("eof", "")

    def take(kind=None):
        nonlocal idx
        tok = peek()
        if kind and tok[0] != kind:
            raise StreamExprError(f"expected {kind}, got {tok}")
        idx += 1
        return tok

    def parse_call() -> Call:
        kind, name = take("call")
        call = Call(name)
        if peek()[0] == "rparen":  # empty arg list
            take()
            return call
        while True:
            kind, val = peek()
            if kind == "call":
                sub = parse_call()
                call.streams.append(sub)
                call.args.append(("stream", sub))
            elif kind == "name" and peek(1)[0] == "eq":
                take()
                take("eq")
                vkind, vval = take()
                if vkind == "call":  # e.g. hashed=search(...)
                    # rewind one token so parse_call sees the 'call' token
                    nonlocal_rewind()
                    call.params[val] = parse_call()
                elif vkind not in ("str", "name"):
                    raise StreamExprError(f"bad value for {val}: {vval}")
                else:
                    call.params[val] = vval
                call.args.append(("param", val, call.params[val]))
            elif kind in ("name", "str"):
                take()
                call.fields.append(val)
                call.args.append(("field", val))
            else:
                raise StreamExprError(f"unexpected {kind} {val!r}")
            kind, _tok = peek()
            if (
                kind == "name"
                and _tok.lower() == "as"
                and peek(1)[0] in ("name", "str")
            ):
                # Solr's `<expr> as alias` select grammar is the ONLY
                # place a bare word may follow an argument without a
                # comma; consume exactly the 'as <name>' pair (both
                # join the field list, Call.args keeping their
                # position next to the expression they annotate) so
                # any other missing comma stays a syntax error
                take()
                _akind, aval = take()
                call.fields.extend((_tok, aval))
                call.args.extend((("field", _tok), ("field", aval)))
                kind, _tok = peek()
            if kind == "rparen":
                take()
                return call
            if kind == "comma":
                take()
                continue
            raise StreamExprError("expected ',' or ')'")

    def nonlocal_rewind():
        nonlocal idx
        idx -= 1

    call = parse_call()
    if idx != len(toks):
        raise StreamExprError("trailing input after expression")
    return call


# ---------------------------------------------------------------- helpers

_METRIC_FNS = ("sum", "avg", "min", "max", "count")


def _metric_alias(fn: str, arg: str) -> str:
    return f"{fn}_{'star' if arg == '*' else arg}"


def _metric_col(call: Call, df: DataFrame):
    (arg,) = call.fields or ["*"]
    alias = _metric_alias(call.name, arg)
    if call.name == "count":
        return F.count(F.lit(1) if arg == "*" else F.col(arg)).alias(alias)
    dtype = dict(df.dtypes).get(arg)
    if call.name == "sum":
        c = exact_sum(arg, 6) if dtype == "double" else F.sum(arg)
    elif call.name == "avg":
        c = exact_avg(arg, 6) if dtype == "double" else F.avg(arg)
    else:
        c = getattr(F, call.name)(arg)
    return c.alias(alias)


def _sort_cols(spec: str):
    cols = []
    for part in spec.split(","):
        bits = part.split()
        if not bits:
            continue
        c = F.col(bits[0])
        cols.append(c.desc() if len(bits) > 1 and bits[1].lower() == "desc" else c.asc())
    return cols


def _on_pairs(spec: str):
    pairs = []
    for part in spec.split(","):
        part = part.strip()
        if "=" in part:
            lk, rk = (s.strip() for s in part.split("=", 1))
        else:
            lk = rk = part
        pairs.append((lk, rk))
    return pairs


def _bool_col(call: Call):
    ops = {"eq": "__eq__", "gt": "__gt__", "lt": "__lt__", "gteq": "__ge__", "lteq": "__le__"}
    if call.name in ("and", "or"):
        a, b = (_bool_col(s) for s in call.streams)
        return a & b if call.name == "and" else a | b
    if call.name == "not":
        (a,) = call.streams
        return ~_bool_col(a)
    if call.name not in ops:
        raise StreamExprError(f"unsupported boolean {call.name}")
    fld, raw = call.fields
    try:
        lit = float(raw) if "." in raw else int(raw)
    except ValueError:
        lit = raw
    return getattr(F.col(fld), ops[call.name])(F.lit(lit))


def _validate_gap_alignment(start: str, unit: str, gap: str) -> None:
    """timeseries() bucket labels come from date_trunc(unit, ...), which
    is only Solr's start+k*gap lattice when ``start`` is aligned to the
    gap unit. A misaligned start (start="1996-01-15" with gap=+1MONTH)
    would silently shift every bucket boundary — fail loudly instead."""
    from datetime import datetime

    try:
        dt = datetime.fromisoformat(start.strip().rstrip("Z").replace("T", " "))
    except ValueError:
        raise StreamExprError(f"unparseable timeseries start {start!r}") from None
    misaligned = {
        "year": dt.month != 1 or dt.day != 1
        or (dt.hour, dt.minute, dt.second, dt.microsecond) != (0, 0, 0, 0),
        "month": dt.day != 1
        or (dt.hour, dt.minute, dt.second, dt.microsecond) != (0, 0, 0, 0),
        "day": (dt.hour, dt.minute, dt.second, dt.microsecond) != (0, 0, 0, 0),
        "hour": (dt.minute, dt.second, dt.microsecond) != (0, 0, 0),
    }[unit]
    if misaligned:
        raise StreamExprError(
            f"timeseries start {start!r} is not aligned to gap {gap!r}: "
            f"date_trunc({unit!r}, start) != start, so bucket labels would "
            "differ from Solr's start+k*gap lattice"
        )


# ---------------------------------------------------------------- compiler


class StreamCompiler:
    """Compiles a parsed expression tree against a table catalog.

    ``tables`` maps collection name → DataFrame (the engine's index
    tables stand in for Solr collections). ``text_fields`` names the
    columns that get Solr token-match semantics for bare ``q`` values
    (the schema's text vs string distinction); None = the default
    heuristic (a column literally named 'text')."""

    def __init__(
        self,
        tables: dict[str, DataFrame],
        text_fields: set[str] | None = None,
        sink_paths: dict[str, str] | None = None,
        tables_provider=None,
    ):
        self.tables = tables
        self.text_fields = text_fields
        # destinations the update()/delete()/topic() decorators may
        # write to: collection name → parquet path of a
        # sinks.merge_upsert_parquet table (one committed generation).
        # Explicit opt-in — a query expression can never write anywhere
        # the caller didn't name.
        self.sink_paths = sink_paths or {}
        # daemon() iterations re-snapshot sources through this callable
        # (default: the static catalog) so parquet-backed collections
        # pick up files written between runs
        self.tables_provider = tables_provider or (lambda: self.tables)
        # daemon() registrations by id — posting the expression creates
        # the handle; the caller drives or starts it (Solr's /stream
        # daemon list/start/stop actions)
        self.daemons: dict[str, Daemon] = {}
        # let() variable bindings (math-expression layer); scoped per
        # let — see _op_let
        self._lets: dict[str, DataFrame] = {}

    def compile(self, text: str) -> DataFrame:
        return self._eval(parse(text))

    def _param(self, call: Call, name: str) -> str:
        try:
            return call.params[name]
        except KeyError:
            raise StreamExprError(f"{call.name} requires {name}=...") from None

    # -- source

    def _source(self, call: Call) -> DataFrame:
        from hbase_increment_index_spark.search.solr_query import parse_query

        if not call.fields:
            raise StreamExprError(f"{call.name} needs a collection name")
        table = call.fields[0]
        if table not in self.tables:
            raise StreamExprError(f"unknown collection {table!r}")
        df = self.tables[table]
        text_fields = (
            self.text_fields
            if self.text_fields is not None
            else ({"text"} if "text" in df.columns else set())
        )
        for key in ("q", "fq"):
            spec = call.params.get(key)
            if spec and spec != "*:*":
                df = df.filter(parse_query(spec, text_fields))
        if "fl" in call.params:
            df = df.select(*[c.strip() for c in call.params["fl"].split(",")])
        if "sort" in call.params:
            df = df.orderBy(*_sort_cols(call.params["sort"]))
        return df

    # -- dispatch

    def _eval(self, call: Call) -> DataFrame:
        fn = getattr(self, f"_op_{call.name}", None)
        if call.name == "search":
            return self._source(call)
        if fn is None:
            raise StreamExprError(f"unsupported decorator {call.name!r}")
        return fn(call)

    def _one_stream(self, call: Call) -> DataFrame:
        if len(call.streams) != 1:
            raise StreamExprError(f"{call.name} takes exactly one stream")
        return self._eval(call.streams[0])

    # -- decorators

    def _op_select(self, call: Call) -> DataFrame:
        """Solr ``select(stream, "a as b", c, eval(...) as d, ...)``:
        projection with optional ARITHMETIC EVALUATORS (solrj stream
        evaluators add/sub/mult/div/pow/sqrt/abs/log/log10/ceil/floor/
        mod/round/val, reference pom.xml:22) — each compiles to the
        equivalent Column expression, so computed fields stay inside
        whole-stage codegen. Quoted "a as b" fields keep the original
        rename grammar; an evaluator's alias is the unquoted trailing
        ``as name`` (argument order preserved by Call.args)."""
        inner_seen = False
        df = None
        cols: list = []
        args = [a for a in call.args if a[0] != "param"]
        i = 0
        while i < len(args):
            kind, val = args[i][0], args[i][1]
            if kind == "stream" and not inner_seen:
                inner_seen = True
                df = self._eval(val)
                i += 1
                continue
            if kind == "stream":
                col = self._arith_col(val)
                has_alias = (
                    i + 2 < len(args)
                    and args[i + 1][0] == "field"
                    and args[i + 1][1].lower() == "as"
                    and args[i + 2][0] == "field"
                )
                if not has_alias:
                    raise StreamExprError(
                        f"select: evaluator {val.name}(...) needs 'as <name>'"
                    )
                cols.append(col.alias(args[i + 2][1]))
                i += 3
                continue
            if (
                i + 2 < len(args)
                and args[i + 1][0] == "field"
                and args[i + 1][1].lower() == "as"
                and args[i + 2][0] == "field"
            ):
                # unquoted `field as alias` (the parser admits the
                # bare pair exactly like an evaluator's alias)
                cols.append(F.col(val).alias(args[i + 2][1]))
                i += 3
                continue
            m = re.match(r"(\S+)\s+as\s+(\S+)$", val, re.IGNORECASE)
            cols.append(F.col(m.group(1)).alias(m.group(2)) if m else F.col(val))
            i += 1
        if df is None:
            raise StreamExprError("select takes exactly one stream")
        return df.select(*cols)

    # Solr stream arithmetic evaluators → Column builders. Variadic
    # add/mult fold left; everything computes in double (Solr's
    # evaluator number type).
    _ARITH_EVALS = {
        "add": (2, None),
        "sub": (2, 2),
        "mult": (2, None),
        "div": (2, 2),
        "pow": (2, 2),
        "mod": (2, 2),
        "sqrt": (1, 1),
        "abs": (1, 1),
        "log": (1, 1),
        "log10": (1, 1),
        "ceil": (1, 1),
        "floor": (1, 1),
        "round": (1, 1),
        "val": (1, 1),
        # boolean / conditional evaluators (Solr's if/comparison set):
        # comparisons yield booleans, if() selects — all still one
        # Column tree, no UDF
        "if": (3, 3),
        "gt": (2, 2),
        "gte": (2, 2),
        "lt": (2, 2),
        "lte": (2, 2),
        "eq": (2, 2),
        "and": (2, None),
        "or": (2, None),
        "not": (1, 1),
    }

    def _arith_col(self, node: Call) -> Column:
        """Compile an arithmetic evaluator Call tree to one Column.
        Atoms: numeric literals → lit(double), anything else → column
        reference cast to double. Operand ORDER comes from Call.args
        (the split streams/fields lists lose it)."""
        spec = self._ARITH_EVALS.get(node.name)
        if spec is None:
            raise StreamExprError(f"unknown evaluator {node.name!r}")
        lo, hi = spec
        operands = []
        for a in node.args:
            if a[0] == "stream":
                operands.append(self._arith_col(a[1]))
            elif a[0] == "field":
                v = a[1]
                try:
                    operands.append(F.lit(float(v)))
                except ValueError:
                    operands.append(F.col(v).cast("double"))
            else:
                raise StreamExprError(
                    f"evaluator {node.name} takes no named params"
                )
        n = len(operands)
        if n < lo or (hi is not None and n > hi):
            raise StreamExprError(
                f"evaluator {node.name} takes "
                f"{lo if hi == lo else f'{lo}+' if hi is None else f'{lo}-{hi}'}"
                f" operands, got {n}"
            )
        import functools
        import operator

        if node.name == "add":
            return functools.reduce(operator.add, operands)
        if node.name == "mult":
            return functools.reduce(operator.mul, operands)
        if node.name == "sub":
            return operands[0] - operands[1]
        if node.name == "div":
            return operands[0] / operands[1]
        if node.name == "pow":
            return F.pow(operands[0], operands[1])
        if node.name == "mod":
            return operands[0] % operands[1]
        if node.name == "sqrt":
            return F.sqrt(operands[0])
        if node.name == "abs":
            return F.abs(operands[0])
        if node.name == "log":
            return F.log(operands[0])
        if node.name == "log10":
            return F.log10(operands[0])
        if node.name == "ceil":
            return F.ceil(operands[0]).cast("double")
        if node.name == "floor":
            return F.floor(operands[0]).cast("double")
        if node.name == "round":
            return F.round(operands[0], 0)
        if node.name == "if":
            return F.when(operands[0], operands[1]).otherwise(operands[2])
        if node.name == "gt":
            return operands[0] > operands[1]
        if node.name == "gte":
            return operands[0] >= operands[1]
        if node.name == "lt":
            return operands[0] < operands[1]
        if node.name == "lte":
            return operands[0] <= operands[1]
        if node.name == "eq":
            return operands[0] == operands[1]
        if node.name == "and":
            return functools.reduce(operator.and_, operands)
        if node.name == "or":
            return functools.reduce(operator.or_, operands)
        if node.name == "not":
            return ~operands[0]
        return operands[0]  # val

    def _op_top(self, call: Call) -> DataFrame:
        df = self._one_stream(call)
        n = int(self._param(call, "n"))
        # orderBy().limit() plans as TakeOrderedAndProject: per-partition
        # heaps of n rows, no global sort — the scale-correct top-k.
        return df.orderBy(*_sort_cols(self._param(call, "sort"))).limit(n)

    def _op_sort(self, call: Call) -> DataFrame:
        df = self._one_stream(call)
        return df.orderBy(*_sort_cols(call.params.get("by") or self._param(call, "sort")))

    def _op_unique(self, call: Call) -> DataFrame:
        df = self._one_stream(call)
        over = [c.strip() for c in self._param(call, "over").split(",")]
        order = _sort_cols(call.params["sort"]) if "sort" in call.params else [
            F.col(c).asc() for c in df.columns if c not in over
        ]
        if not order:
            # every column is in 'over': any representative row is the
            # unique one — a constant order keeps row_number() legal
            order = [F.lit(1)]
        w = Window.partitionBy(*over).orderBy(*order)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _metrics(self, call: Call, df: DataFrame):
        metrics = [s for s in call.streams if s.name in _METRIC_FNS]
        if not metrics:
            raise StreamExprError(f"{call.name} needs at least one metric")
        return [_metric_col(m, df) for m in metrics]

    def _op_rollup(self, call: Call) -> DataFrame:
        inner = [s for s in call.streams if s.name not in _METRIC_FNS]
        if len(inner) != 1:
            raise StreamExprError("rollup takes exactly one stream")
        df = self._eval(inner[0])
        over = [c.strip() for c in self._param(call, "over").split(",")]
        return df.groupBy(*over).agg(*self._metrics(call, df))

    def _op_stats(self, call: Call) -> DataFrame:
        df = self._source(call)
        return df.agg(*self._metrics(call, df))

    def _op_facet(self, call: Call) -> DataFrame:
        df = self._source(call)
        buckets = [c.strip() for c in self._param(call, "buckets").split(",")]
        out = df.groupBy(*buckets).agg(*self._metrics(call, df))
        sort_spec = call.params.get("bucketSorts")
        order = (
            _sort_cols(sort_spec)
            if sort_spec
            else [F.col(out.columns[len(buckets)]).desc()] + [F.col(b).asc() for b in buckets]
        )
        limit = call.params.get("bucketSizeLimit")
        out = out.orderBy(*order)
        return out.limit(int(limit)) if limit else out

    def _join_sides(self, call: Call):
        left = self._eval(call.streams[0])
        if "hashed" in call.params:
            right = self._eval(call.params["hashed"])
        else:
            right = self._eval(call.streams[1])
        pairs = _on_pairs(self._param(call, "on"))
        cond = None
        for lk, rk in pairs:
            c = left[lk] == right[rk]
            cond = c if cond is None else cond & c
        return left, right, pairs, cond

    def _equi_join(self, call: Call, how: str) -> DataFrame:
        left, right, pairs, cond = self._join_sides(call)
        if how in ("left_semi", "left_anti"):
            # keyset-only probe side: project the join keys before the
            # join so the build side never carries payload columns.
            right = right.select(*[r for _, r in pairs]).dropDuplicates()
            cond = None
            for lk, rk in pairs:
                c = left[lk] == right[rk]
                cond = c if cond is None else cond & c
            return left.join(right, cond, how)
        out = left.join(right, cond, how)
        # Solr emits one field per name; the right join key duplicates
        # the left one (same value on every emitted tuple) — drop it.
        for _, rk in pairs:
            out = out.drop(right[rk])
        return out

    def _op_innerJoin(self, call: Call) -> DataFrame:  # noqa: N802 (Solr name)
        return self._equi_join(call, "inner")

    _op_hashJoin = _op_innerJoin  # noqa: N815 — Solr's hashJoin ≡ hash inner join here

    def _op_leftOuterJoin(self, call: Call) -> DataFrame:  # noqa: N802
        return self._equi_join(call, "left_outer")

    def _op_hashRollup(self, call: Call) -> DataFrame:  # noqa: N802 (Solr name)
        """Solr ``hashRollup(...)``: rollup()'s hash-based twin — in
        Solr the difference is the worker algorithm (sorted-stream
        reduction vs hash table); Catalyst always plans a hash
        aggregate with map-side partials, so both names compile to the
        same (optimal) plan."""
        return self._op_rollup(call)

    def _op_outerHashJoin(self, call: Call) -> DataFrame:  # noqa: N802
        """Solr ``outerHashJoin(left, hashed=right, on=...)``:
        leftOuterJoin's hash twin — same sorted-vs-hash worker
        distinction as hashRollup; Catalyst picks broadcast/shuffle
        hash via AQE either way."""
        return self._op_leftOuterJoin(call)

    def _op_intersect(self, call: Call) -> DataFrame:
        return self._equi_join(call, "left_semi")

    def _op_complement(self, call: Call) -> DataFrame:
        return self._equi_join(call, "left_anti")

    def _op_merge(self, call: Call) -> DataFrame:
        dfs = [self._eval(s) for s in call.streams]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        if "on" in call.params:
            out = out.orderBy(*_sort_cols(call.params["on"]))
        return out

    def _op_fetch(self, call: Call) -> DataFrame:
        table = call.fields[0]
        if table not in self.tables:
            raise StreamExprError(f"unknown collection {table!r}")
        df = self._one_stream(call)
        (lk, rk) = _on_pairs(self._param(call, "on"))[0]
        extra = [c.strip() for c in self._param(call, "fl").split(",")]
        # one row per key on the enrichment side: Solr's fetch emits
        # exactly one tuple per input tuple even if the lookup
        # collection holds duplicate keys. The survivor is the row that
        # sorts first on the fl columns — dropDuplicates would pick an
        # arbitrary one, varying across runs/partitionings.
        w = Window.partitionBy(rk).orderBy(*[F.col(c) for c in extra])
        enrich = (
            self.tables[table]
            .select(F.col(rk), *[F.col(c) for c in extra])
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        out = df.join(enrich, df[lk] == enrich[rk], "left_outer")
        return out.drop(enrich[rk])

    def _op_having(self, call: Call) -> DataFrame:
        streams = [s for s in call.streams]
        df = self._eval(streams[0])
        return df.filter(_bool_col(streams[1]))

    # Solr timeseries() gap → (date_trunc unit, bucket label format).
    # Calendar gaps only: a timeseries bucket IS the calendar unit when
    # start is unit-aligned, so the bucket expression stays a sargable
    # single-column projection (one hash agg, no range join).
    _GAPS = {
        "+1YEAR": ("year", "yyyy", "%Y"),
        "+1MONTH": ("month", "yyyy-MM", "%Y-%m"),
        "+1DAY": ("day", "yyyy-MM-dd", "%Y-%m-%d"),
        "+1HOUR": ("hour", "yyyy-MM-dd HH", "%Y-%m-%d %H"),
    }

    def _op_timeseries(self, call: Call) -> DataFrame:
        """Solr ``timeseries()`` stream source (solrj 9.x /stream,
        reference pom.xml:22): date-bucketed metrics over [start, end)
        with GAP SEMANTICS — every bucket in the range is emitted, and
        a bucket with no matching rows carries count 0 / null metrics
        (Solr's timeseries emits the full bucket lattice, unlike
        facet's matching-buckets-only).

        Plan: one hash aggregate over the bucket projection (partial +
        final, filter and projection pushed into the scan); the bucket
        spine is a generated ≤|range/gap|-row frame, so the gap fill is
        a broadcast outer join against a tiny dimension — corpus is
        scanned exactly once regardless of range width."""
        df = self._source(call)
        fld = self._param(call, "field")
        start = self._param(call, "start")
        end = self._param(call, "end")
        gap = call.params.get("gap", "+1MONTH")
        if gap not in self._GAPS:
            raise StreamExprError(
                f"unsupported gap {gap!r}; expected one of {sorted(self._GAPS)}"
            )
        unit, fmt, _ = self._GAPS[gap]
        _validate_gap_alignment(start, unit, gap)
        metric_calls = [s for s in call.streams if s.name in _METRIC_FNS]
        if not metric_calls:
            raise StreamExprError("timeseries needs at least one metric")
        filtered = df.filter(
            (F.col(fld) >= F.lit(start)) & (F.col(fld) < F.lit(end))
        )
        bucket = F.date_format(F.date_trunc(unit, F.col(fld)), fmt).alias("bucket")
        aggs = filtered.groupBy(bucket).agg(*[_metric_col(m, df) for m in metric_calls])
        # gap spine: all bucket starts in [start, end) — hour gaps need
        # a timestamp sequence, calendar gaps walk dates
        cast_t = "timestamp" if unit == "hour" else "date"
        spine = (
            df.sparkSession.range(1)
            .select(
                F.explode(
                    F.sequence(
                        F.lit(start).cast(cast_t),
                        F.lit(end).cast(cast_t),
                        F.expr(f"INTERVAL 1 {unit.upper()}"),
                    )
                ).alias("_b")
            )
            .filter(F.col("_b") < F.lit(end).cast(cast_t))
            .select(F.date_format("_b", fmt).alias("bucket"))
        )
        # aggs is bucket-bounded (≤ |range/gap| rows) by construction —
        # broadcast explicitly; as a stats-less aggregate the static
        # planner would otherwise SMJ it against the generated spine
        out = spine.join(F.broadcast(aggs), "bucket", "left_outer")
        # empty buckets: counts are 0, value metrics stay null
        fills = [
            F.coalesce(
                F.col(alias), F.lit(0).cast("long")
            ).alias(alias) if m.name == "count" else F.col(alias)
            for m in metric_calls
            for alias in [_metric_alias(m.name, (m.fields or ["*"])[0])]
        ]
        return out.select("bucket", *fills).orderBy(F.col("bucket").asc())

    def _op_nodes(self, call: Call) -> DataFrame:
        """Solr ``nodes()`` graph streaming expression (solrj 9.x
        /stream graph traversal): one breadth-first hop — take the
        ``walk`` source-field values of the incoming tuples, match them
        against the walk target field in ``collection``, and emit the
        DISTINCT ``gather``-field values of the matched docs as
        ``node``. Multi-hop traversals nest nodes() calls, exactly the
        Solr composition. A ``count(*)`` metric sub-call switches on
        Solr's nodes aggregation: each node also carries ``count_star``,
        the number of matched docs that gathered to it (the edge count
        scoreNodes() consumes as term frequency).

        Plan per hop: the frontier key set (distinct, small by the BFS
        contract) broadcasts into a hash join against the collection —
        the same frontier-proportional shape as search.graph
        (graph_traverse); the corpus is never shuffled."""
        if not call.fields:
            raise StreamExprError("nodes needs a collection name")
        table = call.fields[0]
        if table not in self.tables:
            raise StreamExprError(f"unknown collection {table!r}")
        inner_calls = [s for s in call.streams if s.name not in _METRIC_FNS]
        metric_calls = [s for s in call.streams if s.name in _METRIC_FNS]
        if len(inner_calls) != 1:
            raise StreamExprError("nodes takes exactly one stream")
        if any(m.name != "count" for m in metric_calls):
            raise StreamExprError("nodes supports only the count(*) aggregation")
        inner = self._eval(inner_calls[0])
        walk = self._param(call, "walk")
        if "->" not in walk:
            raise StreamExprError(f"walk must be 'src->dst', got {walk!r}")
        src, dst = (s.strip() for s in walk.split("->", 1))
        gather = self._param(call, "gather")
        df = self.tables[table]
        keys = inner.select(F.col(src).alias("_v")).distinct()
        matched = df.join(F.broadcast(keys), df[dst] == F.col("_v")).drop("_v")
        if metric_calls:
            return matched.groupBy(F.col(gather).alias("node")).agg(
                F.count(F.lit(1)).alias("count_star")
            )
        return matched.select(F.col(gather).alias("node")).distinct()

    # Solr 6 documented the graph-hop expression as gatherNodes();
    # later releases renamed it nodes() and kept the old name as an
    # alias — doc-following users type either
    _op_gatherNodes = _op_nodes  # noqa: N815 (Solr name)

    def _op_shortestPath(self, call: Call) -> DataFrame:  # noqa: N802 (Solr name)
        """Solr ``shortestPath()`` streaming expression (solrj 9.x
        /stream graph surface, reference pom.xml:22): breadth-first
        shortest path between two node VALUES over an edge collection
        — each doc contributes one directed edge src-value → dst-value
        (Solr's ``edge="from_field=to_field"``). Where Solr emits every
        equal-length path, this form emits ONE canonical shortest path,
        made deterministic by the min-parent tie-break at every BFS
        level (the lexicographically-least predecessor chain), so the
        oracle can value-check it. Output: (step, node) rows from the
        source (step 0) to the target (step = path length), empty when
        the target is unreachable within ``maxDepth``.

        Plan — level-synchronous BFS with parent pointers: level d =
        (edges ⋈ broadcast frontier_{d-1}) anti-joined against all
        shallower levels, min parent per node; the path re-assembles
        by ≤ maxDepth parent-pointer joins from the target (each a
        broadcast of ≤ 1 row). Work per level ∝ frontier out-degree,
        never corpus size; the shortest-path property depth(parent) =
        depth(node) − 1 makes the BFS depth double as the emitted step
        index. Each (frontier-sized) level is eagerly
        localCheckpointed — the e2r CC discipline — so later levels'
        anti-joins and the walk-back reference materialized rows
        instead of re-expanding the whole BFS lineage. maxDepth is
        capped (≤ 6), the same bounded-unroll contract as the nested
        nodes() composition."""
        if not call.fields:
            raise StreamExprError("shortestPath needs a collection name")
        table = call.fields[0]
        if table not in self.tables:
            raise StreamExprError(f"unknown collection {table!r}")
        df = self.tables[table]
        frm = self._param(call, "from")
        to = self._param(call, "to")
        edge = self._param(call, "edge")
        if "=" not in edge:
            raise StreamExprError(f"edge must be 'src_field=dst_field', got {edge!r}")
        src, dst = (s.strip() for s in edge.split("=", 1))
        import re as _re

        for fld in (src, dst):
            if not _re.fullmatch(r"\w+", fld):
                raise StreamExprError(f"bad shortestPath edge field {fld!r}")
            if fld not in df.columns:
                raise StreamExprError(f"shortestPath edge field {fld!r} not in {table!r}")
        try:
            max_depth = int(call.params.get("maxDepth", "4"))
        except ValueError:
            raise StreamExprError(
                f"bad shortestPath maxDepth {call.params['maxDepth']!r}"
            ) from None
        if not 1 <= max_depth <= 6:
            raise StreamExprError("shortestPath maxDepth must be in [1, 6]")
        # NOT deduplicated, NOT cached: duplicate edges change neither
        # the anti-joins nor MIN(parent), and each level then costs one
        # column-pruned 2-column scan — the same per-frontier index
        # query Solr's own ShortestPathStream issues per level, and
        # cheaper than materializing a distinct edge set nobody else
        # reuses (measured at sf0.1: distinct+persist 2.1 s up front
        # vs 0.3 s per pruned scan)
        edges = df.select(
            F.col(src).cast("string").alias("u"),
            F.col(dst).cast("string").alias("v"),
        ).filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        spark = df.sparkSession
        lvl0 = spark.range(1).select(
            F.lit(frm).alias("node"),
            F.lit(None).cast("string").alias("parent"),
            F.lit(0).cast("long").alias("depth"),
        )
        # LAZY cuts (r17): nothing consumes a level until the final
        # action, which materializes every level's blocks in one job —
        # the eager form paid one blocking driver job per BFS level.
        # Each level is ONE RDD object, so the anti-joins and the
        # walk-back that reference it repeatedly share its computed
        # blocks within that job; lineage still truncates at first
        # materialization and the plan depth stays maxDepth-bounded.
        levels = [lvl0.localCheckpoint(eager=False)]
        seen = levels[0].select("node")
        for d in range(1, max_depth + 1):
            frontier = levels[-1].select(F.col("node").alias("_f"))
            cand = edges.join(F.broadcast(frontier), F.col("u") == F.col("_f")).select(
                F.col("v").alias("node"), F.col("u").alias("parent")
            )
            lv = (
                cand.join(F.broadcast(seen), "node", "left_anti")
                .groupBy("node")
                .agg(F.min("parent").alias("parent"))
                .withColumn("depth", F.lit(d).cast("long"))
                .select("node", "parent", "depth")
                .localCheckpoint(eager=False)
            )
            levels.append(lv)
            seen = seen.unionByName(lv.select("node"))
        visited = levels[0]
        for lv in levels[1:]:
            visited = visited.unionByName(lv)
        # walk the parent chain back from the target; each hop is a
        # ≤1-row broadcast, depth(node) is the step index
        steps = [visited.filter(F.col("node") == F.lit(to))]
        for _ in range(max_depth):
            up = steps[-1].select(F.col("parent").alias("_n"))
            steps.append(
                visited.join(F.broadcast(up), F.col("node") == F.col("_n")).select(
                    "node", "parent", "depth"
                )
            )
        path = steps[0]
        for st in steps[1:]:
            path = path.unionByName(st)
        return (
            path.select(F.col("depth").alias("step"), "node")
            .distinct()
            .orderBy("step")
        )

    def _op_significantTerms(self, call: Call) -> DataFrame:  # noqa: N802
        """Solr ``significantTerms()`` stream source (solrj 9.x
        /stream): terms overrepresented in the ``q``-matching
        foreground versus the whole collection. Composes the select
        handler's significant-terms aggregate (search.ranking.
        significant_terms — one corpus scan, one vocabulary-bounded
        hash agg computing both document frequencies, scalar totals
        broadcast) under the stream language's surface.

        Params: q (foreground query), field (text field), limit,
        minDocFreq; ``id`` names the document-identity column (default
        ``doc_id`` when present, else the first column)."""
        from hbase_increment_index_spark.search.ranking import significant_terms
        from hbase_increment_index_spark.search.solr_query import parse_query

        if not call.fields:
            raise StreamExprError("significantTerms needs a collection name")
        table = call.fields[0]
        if table not in self.tables:
            raise StreamExprError(f"unknown collection {table!r}")
        df = self.tables[table]
        text_fields = (
            self.text_fields
            if self.text_fields is not None
            else ({"text"} if "text" in df.columns else set())
        )
        pred = parse_query(self._param(call, "q"), text_fields)
        id_col = call.params.get(
            "id", "doc_id" if "doc_id" in df.columns else df.columns[0]
        )
        return significant_terms(
            df,
            pred,
            id_col,
            self._param(call, "field"),
            min_fg_df=int(call.params.get("minDocFreq", 3)),
            k=int(call.params.get("limit", 20)),
        )

    def _op_update(self, call: Call) -> DataFrame:
        """Solr ``update()`` write-back decorator: stream tuples are
        indexed into the destination collection. Here the destination
        is a :func:`sinks.merge_upsert_parquet` table — the stream
        language closes the loop onto a MERGE sink that commits the
        way the CDC fold's stores do (S6/S7): each update() publishes
        one new generation of the table, so read-your-writes holds on
        the served view and no reader sees a half-merged one.
        Destinations must be pre-registered via ``sink_paths``.

        Emits the one-row summary tuple Solr's update stream emits:
        ``batchIndexed`` (rows written).

        EAGER: the merge happens at compile time (inside
        run_stream_expr), not when the returned summary frame is
        consumed — Solr's update stream likewise indexes as tuples
        flow, so the side effect is part of evaluating the expression.
        The incoming batch is localCheckpoint'ed first so its lineage
        executes exactly ONCE: the count and the merge both read the
        materialized partitions (a non-deterministic upstream can't
        make batchIndexed disagree with the rows actually merged, and
        an expensive upstream isn't recomputed)."""
        from hbase_increment_index_spark.sinks import merge_upsert_parquet

        if not call.fields:
            raise StreamExprError("update needs a destination collection name")
        dest = call.fields[0]
        if dest not in self.sink_paths:
            raise StreamExprError(
                f"destination {dest!r} not registered in sink_paths"
            )
        df = self._one_stream(call).localCheckpoint(eager=True)
        key = self._param(call, "key")
        n = df.count()
        merge_upsert_parquet(df.sparkSession, self.sink_paths[dest], df, key)
        return df.sparkSession.range(1).select(
            F.lit(n).cast("long").alias("batchIndexed")
        )

    def _op_model(self, call: Call) -> DataFrame:
        """Solr ``model(models, id="m1")`` (ModelStream, solrj 9.x):
        pull a trained model's tuples from a model collection by id —
        the storage half of the documented train → update(models) →
        classify(model(...), ...) workflow. The collection is any
        registered table (e.g. a COW sink update() wrote train()'s
        iteration tuples into); ``id`` filters its ``id_`` field when
        present (a single-model table needs no id). classify() then
        takes the highest-iteration tuple, matching Solr's
        cached-latest-model pull."""
        if not call.fields:
            raise StreamExprError("model needs a collection name")
        table = call.fields[0]
        if table not in self.tables:
            raise StreamExprError(f"unknown collection {table!r}")
        df = self.tables[table]
        model_id = call.params.get("id")
        if model_id is not None:
            id_col = "id_" if "id_" in df.columns else "id"
            if id_col not in df.columns:
                raise StreamExprError(
                    f"model collection {table!r} has no id/id_ column"
                )
            df = df.filter(F.col(id_col) == model_id)
        return df

    def _op_list(self, call: Call) -> DataFrame:
        """Solr ``list(s1, s2, ...)``: run the streams in order and
        emit all their tuples — unionByName with missing columns
        null-filled (Solr tuples are open maps, so heterogenous
        streams concatenate the same way)."""
        if not call.streams:
            raise StreamExprError("list needs at least one stream")
        out = None
        for sub in call.streams:
            df = self._eval(sub)
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True
            )
        return out

    def _op_tuple(self, call: Call) -> DataFrame:
        """Solr ``tuple(a=expr, b=expr, ...)``: emit ONE tuple whose
        fields are evaluator results — the literal/derived-constant
        source of the expression language (solrj 9.x; reference
        pom.xml:22). Values may be numeric literals, strings, or
        arithmetic evaluator trees over literals (field references
        have no source frame here and fail analysis, matching Solr,
        where tuple() evaluates against an empty tuple)."""
        if not call.params:
            raise StreamExprError("tuple needs at least one name=value pair")
        cols = []
        for name, val in call.params.items():
            if isinstance(val, Call):
                cols.append(self._arith_col(val).alias(name))
            else:
                try:
                    cols.append(F.lit(float(val)).alias(name))
                except ValueError:
                    cols.append(F.lit(val).alias(name))
        return self.spark_for_literals().range(1).select(*cols)

    def _op_priority(self, call: Call) -> DataFrame:
        """Solr ``priority(topic1, topic2, ...)``: the executor()
        scheduling decorator — emit the highest-priority topic stream
        that currently has tuples (solrj 9.x; reference pom.xml:22).
        Evaluates the wrapped streams IN ORDER and returns the first
        non-empty one's tuples; the emptiness probe is a bounded
        limit(1) action per stream (the eval()/topic() discipline —
        topic streams are checkpoint-bounded deltas by contract)."""
        if not call.streams:
            raise StreamExprError("priority needs at least one stream")
        first = None
        for sub in call.streams:
            df = self._eval(sub)
            if first is None:
                first = df
            if df.limit(1).count() > 0:
                return df
        # all empty: schema follows the HIGHEST-priority stream (the
        # first), not whichever happened to be probed last
        return first

    def _op_echo(self, call: Call) -> DataFrame:
        """Solr ``echo("text")``: emit one tuple {echo: text} — the
        smoke-test source of the expression language."""
        if len(call.fields) != 1:
            raise StreamExprError("echo takes exactly one string")
        return self.spark_for_literals().range(1).select(
            F.lit(call.fields[0]).alias("echo")
        )

    def _op_analyze(self, call: Call) -> DataFrame:
        """Solr ``analyze("raw text")`` stream evaluator (solrj 9.x,
        reference pom.xml:22): run the field analysis chain —
        tokenize → lowercase → stopword filter → minimal stem
        (search.analysis, the chain the reference's deployment
        configures out-of-band, README.md:33) — over a literal and
        emit one tuple per emitted token (pos, term). The whole chain
        is a zero-shuffle projection over a 1-row literal frame."""
        if len(call.fields) != 1:
            raise StreamExprError("analyze takes one quoted text argument")
        from hbase_increment_index_spark.search.analysis import analyzed_tokens

        return (
            self.spark_for_literals()
            .range(1)
            .select(
                F.posexplode(
                    analyzed_tokens(F.lit(call.fields[0]))
                ).alias("pos", "term")
            )
        )

    def spark_for_literals(self) -> SparkSession:
        """An active session for literal-only sources (echo): any
        registered table's session — the compiler always has at least
        one table by construction."""
        for df in self.tables.values():
            return df.sparkSession
        raise StreamExprError("no tables registered")

    # Side-effecting decorators blocked in DATA-CARRIED expressions
    # (eval()/executor() task streams): update/delete write to sinks,
    # commit/daemon mutate engine state, topic advances its checkpoint.
    # A stored expression is data, not code the caller wrote — so by
    # default it may only READ (defense-in-depth on top of the
    # sink_paths opt-in); pass allowWrites=true to run maintenance
    # task lists deliberately.
    _SIDE_EFFECT_OPS = frozenset(
        {"update", "delete", "commit", "daemon", "topic"}
    )

    def _assert_read_only_expr(self, expr: Call, origin: str) -> None:
        stack = [expr]
        while stack:
            c = stack.pop()
            if c.name in self._SIDE_EFFECT_OPS:
                raise StreamExprError(
                    f"{origin}: data-carried expression invokes {c.name}() "
                    f"— side-effecting operators are blocked in eval()/"
                    f"executor() task streams; pass allowWrites=true to "
                    f"run a maintenance task list deliberately"
                )
            stack.extend(c.streams)
            stack.extend(v for v in c.params.values() if isinstance(v, Call))

    def _op_plist(self, call: Call) -> DataFrame:
        """Solr ``plist(s1, s2, ...)``: list()'s parallel-open twin —
        same emitted tuples, but the wrapped streams are OPENED
        concurrently instead of sequentially (solrj 9.x's performance
        decorator, reference pom.xml:22). Spark's union already
        schedules every branch's stages concurrently across the
        executor pool, so the parallel-open contract is the plan's
        native behavior and the tuple semantics delegate to list()."""
        return self._op_list(call)

    def _op_eval(self, call: Call) -> DataFrame:
        """Solr ``eval(stream)``: read the FIRST tuple of the inner
        stream, take the streaming expression in its ``expr_s`` field
        (override with ``field=``), compile it, and emit ITS tuples —
        the second-order decorator that lets a stored/computed
        expression drive the query (solrj 9.x, reference pom.xml:22).
        The one-tuple read is a bounded driver action (limit(1), the
        topic()-checkpoint discipline); the inner expression then
        compiles to a full distributed plan."""
        df = self._one_stream(call)
        fld = call.params.get("field", "expr_s")
        if fld not in df.columns:
            raise StreamExprError(f"eval: field {fld!r} not in inner stream")
        head = df.select(fld).limit(1).collect()
        if not head or head[0][0] is None:
            raise StreamExprError("eval: inner stream produced no expression")
        parsed = parse(str(head[0][0]))
        if str(call.params.get("allowWrites", "false")).lower() != "true":
            self._assert_read_only_expr(parsed, "eval")
        return self._eval(parsed)

    def _op_reduce(self, call: Call) -> DataFrame:
        """Solr ``reduce(stream, by="f1,f2", group(sort="...", n="N"))``
        — the sort-based grouping decorator (solrj 9.x ReducerStream +
        GroupOperation, reference pom.xml:22): tuples are grouped on
        the ``by`` fields; per group the group() operation keeps the
        top ``n`` tuples under ITS sort and emits them with the group
        head first.

        Engine mapping: Solr nests the group under the head tuple as a
        list-of-maps field; a DataFrame is a flat relation, so the
        retained tuples are emitted AS ROWS with a ``group_pos`` rank
        column (1 = the head tuple Solr would emit at the top level,
        2..n = the nested group members in group-sort order) — the
        same flattening every facet bucket list in this engine uses.
        Plan: one window rank over the ``by`` key (the input sort
        Solr's reducer requires is subsumed by the hash partitioning),
        filtered to n — no global sort, no collect."""
        inner = [s for s in call.streams if s.name != "group"]
        ops = [s for s in call.streams if s.name == "group"]
        if len(inner) != 1 or len(ops) != 1:
            raise StreamExprError("reduce takes exactly one stream and one group()")
        df = self._eval(inner[0])
        by = [c.strip() for c in self._param(call, "by").split(",")]
        for c in by:
            if c not in df.columns:
                raise StreamExprError(f"reduce: by-field {c!r} not in stream")
        n = int(ops[0].params.get("n", "1"))
        order = _sort_cols(ops[0].params.get("sort") or self._param(ops[0], "sort"))
        w = Window.partitionBy(*by).orderBy(*order)
        return (
            df.withColumn("group_pos", F.row_number().over(w).cast("long"))
            .filter(F.col("group_pos") <= n)
        )

    def _op_commit(self, call: Call) -> DataFrame:
        """Solr ``commit(dest, batchSize=N, update(...))``: forward the
        inner (update/delete) stream and issue commits as tuples flow.
        The engine's COW MERGE sink is durable per merged micro-batch —
        there is no separate commit step to issue — so commit() is a
        pass-through decorator kept for expression compatibility: it
        validates the destination and returns the inner summary
        unchanged (``batchSize`` accepted and ignored; Solr's
        buffering is subsumed by the batch the inner decorator already
        merged, the same way Spark micro-batching subsumes the
        reference's add_batchCount threshold, SolrIndexTools.java:
        93-95)."""
        if not call.fields:
            raise StreamExprError("commit needs a destination collection name")
        dest = call.fields[0]
        if dest not in self.sink_paths:
            raise StreamExprError(
                f"destination {dest!r} not registered in sink_paths"
            )
        return self._one_stream(call)

    def _op_delete(self, call: Call) -> DataFrame:
        """Solr ``delete()`` write-back decorator (DeleteStream, solrj
        9.x): the inner stream's tuples are deleted BY ID from the
        destination collection — the stream-language spelling of the
        reference's delete path (postDelete → buffered deleteById,
        HbaseSolrIndexCoprocesser.java:55-61 / SolrIndexTools.java:
        105-129). Here the destination is the same
        :func:`sinks.merge_upsert_parquet` table update() writes to,
        driven with ``delete_col`` — so update()/delete() close the
        full add/delete sink pair (S6/S7) inside the expression
        language, each call committing one new generation.

        Emits Solr's summary tuple: ``totalIndexed`` (ids deleted).
        EAGER, same contract and localCheckpoint discipline as
        update()."""
        from hbase_increment_index_spark.sinks import merge_upsert_parquet

        if not call.fields:
            raise StreamExprError("delete needs a destination collection name")
        dest = call.fields[0]
        if dest not in self.sink_paths:
            raise StreamExprError(
                f"destination {dest!r} not registered in sink_paths"
            )
        key = self._param(call, "key")
        df = self._one_stream(call)
        if key not in df.columns:
            raise StreamExprError(f"delete stream lacks key column {key!r}")
        # the merge unions the delta with kept rows, so delete rows
        # must carry the DESTINATION's full schema (null-padded)
        dest_schema = df.sparkSession.read.parquet(self.sink_paths[dest]).schema
        if key not in dest_schema.names:
            raise StreamExprError(
                f"destination {dest!r} has no key column {key!r}"
            )
        batch = (
            df.select(key).distinct()
            .select(
                *[
                    F.col(key) if f.name == key
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in dest_schema.fields
                ]
            )
            .withColumn("_del", F.lit(True))
            .localCheckpoint(eager=True)
        )
        n = batch.count()
        merge_upsert_parquet(
            batch.sparkSession, self.sink_paths[dest], batch, key, delete_col="_del"
        )
        return batch.sparkSession.range(1).select(
            F.lit(n).cast("long").alias("totalIndexed")
        )

    def _op_drill(self, call: Call) -> DataFrame:
        """Solr ``drill()`` (DrillStream, solrj 9.x): push an
        aggregation INTO the /export handler on every shard, then
        re-aggregate the per-shard partials — Solr's answer to
        high-cardinality rollups that would drown the aggregator node:

            drill(coll, q="...", fl="a,b", sort="a asc",
                  rollup(input(), over="a", count(*), sum(b)))

        The inner expression runs per shard with ``input()`` bound to
        that shard's sorted export stream. On Spark this two-level
        shape IS the native hash aggregate — map-side partial
        aggregation per partition (the per-shard leg) feeding the
        final merge after one shuffle of partials — so the engine
        compiles drill() to the inner expression evaluated over the
        pushed-filter source, and Catalyst plans exactly the
        partials-then-merge topology DrillStream hand-builds (the
        whole point of preferring declarative plans: the optimization
        Solr implements as a stream decorator falls out of
        WholeStageCodegen hash aggregation for free). ``sort`` is
        accepted and ignored: it exists to make Solr's streaming merge
        possible, and a hash aggregate needs no sorted input."""
        if not call.fields:
            raise StreamExprError("drill needs a collection name")
        if len(call.streams) != 1:
            raise StreamExprError("drill takes exactly one inner expression")
        call.params.pop("sort", None)  # merge-order hint only; see docstring
        src = self._source(call)
        inner = call.streams[0]

        def bind_input(c: Call) -> None:
            for idx, sub in enumerate(c.streams):
                if sub.name == "input" and not sub.streams:
                    c.streams[idx] = Call(name="__drill_input__")
                else:
                    bind_input(sub)

        bind_input(inner)
        prev = self.tables.get("__drill_input__")
        self.tables["__drill_input__"] = src
        # the parser resolves input() as a zero-arg call; _eval routes
        # __drill_input__ through the table catalog
        try:
            return self._eval(inner)
        finally:
            if prev is None:
                self.tables.pop("__drill_input__", None)
            else:
                self.tables["__drill_input__"] = prev

    def _op___drill_input__(self, call: Call) -> DataFrame:  # noqa: N802
        return self.tables["__drill_input__"]

    def _op_scoreNodes(self, call: Call) -> DataFrame:  # noqa: N802 (Solr name)
        """Solr ``scoreNodes()`` (solrj 9.x /stream graph scoring):
        tf-idf-scores the nodes a ``nodes(..., count(*))`` hop gathered,
        turning a graph walk into a recommender. Per ScoreNodesStream,
        tf = the node's gathered edge count, idf uses the node value's
        document frequency in the collection's gather field:

            nodeScore = count_star * log((numDocs + 1) / (docFreq + 1))

        Params: collection (positional) and ``field`` — where docFreq
        is counted (Solr reads these from node metadata; here they are
        explicit). Plan: the node set is frontier-small, so docFreq is
        one hash agg over the collection semi-joined against the
        broadcast node set; numDocs is a 1-row scalar crossJoin. The
        corpus is scanned once and never shuffled."""
        if not call.fields:
            raise StreamExprError("scoreNodes needs a collection name")
        table = call.fields[0]
        if table not in self.tables:
            raise StreamExprError(f"unknown collection {table!r}")
        inner = self._one_stream(call)
        if "count_star" not in inner.columns or "node" not in inner.columns:
            raise StreamExprError(
                "scoreNodes needs a nodes(..., count(*)) stream "
                "(columns node, count_star)"
            )
        fld = self._param(call, "field")
        df = self.tables[table]
        node_set = inner.select(F.col("node").alias("_nv")).distinct()
        dfreq = (
            df.join(F.broadcast(node_set), df[fld] == F.col("_nv"))
            .groupBy(F.col("_nv").alias("node"))
            .agg(F.count(F.lit(1)).alias("docFreq"))
        )
        n_docs = df.agg(F.count(F.lit(1)).alias("_numDocs"))
        return (
            inner.join(F.broadcast(dfreq), "node", "left")
            .withColumn("docFreq", F.coalesce(F.col("docFreq"), F.lit(0)))
            .crossJoin(F.broadcast(n_docs))
            .select(
                "node",
                "count_star",
                "docFreq",
                F.round(
                    F.col("count_star")
                    * F.log((F.col("_numDocs") + 1) / (F.col("docFreq") + 1)),
                    6,
                ).alias("nodeScore"),
            )
        )

    def _op_topic(self, call: Call) -> DataFrame:
        """Solr ``topic()`` (solrj 9.x /stream): checkpointed
        incremental pull — "give me the docs newer than my last pull",
        the reference coprocessor's change-capture thesis
        (HbaseSolrIndexCoprocesser.java:37-61 keeps an index current
        under writes) surfaced as a query decorator.

            topic(checkpointCollection, collection, q="...",
                  id="topicId", versionField="ts", fl="...")

        State: one (topic_id, _ckpt) row per topic in a
        merge_upsert_parquet table at
        ``sink_paths[checkpointCollection]`` (same sink the update()
        decorator uses — explicit opt-in, bounded to |topics| rows);
        each advance commits one new generation of it.
        Each evaluation pulls rows with versionField strictly greater
        than the stored checkpoint (first pull: everything matching
        ``q``), then advances the checkpoint to the max version pulled;
        an empty pull leaves the checkpoint untouched. Solr's topic
        uses ``_version_``; the engine's collections are plain tables,
        so the monotonic column is named explicitly.

        EAGER like update(): the pull materializes (localCheckpoint)
        and the checkpoint row merges during expression evaluation, so
        two evaluations of the same expression ARE two pulls. Plan:
        pushed-filter scan (q AND version > ckpt both reach the
        parquet reader); checkpoint read/advance touches the 1-row-
        per-topic state table only."""
        from hbase_increment_index_spark.sinks import (
            _committed_state_exists,
            merge_upsert_parquet,
        )

        if len(call.fields) < 2:
            raise StreamExprError(
                "topic needs checkpointCollection and collection names"
            )
        ckpt_coll, table = call.fields[0], call.fields[1]
        if table not in self.tables:
            raise StreamExprError(f"unknown collection {table!r}")
        if ckpt_coll not in self.sink_paths:
            raise StreamExprError(
                f"checkpoint collection {ckpt_coll!r} not registered in sink_paths"
            )
        topic_id = self._param(call, "id")
        ver = self._param(call, "versionField")
        ckpt_path = self.sink_paths[ckpt_coll]

        df = self.tables[table]
        spark = df.sparkSession
        text_fields = (
            self.text_fields
            if self.text_fields is not None
            else ({"text"} if "text" in df.columns else set())
        )
        from hbase_increment_index_spark.search.solr_query import parse_query

        q = call.params.get("q")
        if q and q != "*:*":
            df = df.filter(parse_query(q, text_fields))

        ckpt_val = None
        if _committed_state_exists(spark, ckpt_path):
            row = (
                spark.read.parquet(ckpt_path)
                .filter(F.col("topic_id") == topic_id)
                .select("_ckpt")
                .collect()
            )
            if row:
                ckpt_val = row[0][0]
        if ckpt_val is not None:
            df = df.filter(F.col(ver) > F.lit(ckpt_val))
        if "fl" in call.params:
            df = df.select(*[c.strip() for c in call.params["fl"].split(",")])
            if ver not in df.columns:
                raise StreamExprError(f"fl must retain versionField {ver!r}")
        pulled = df.localCheckpoint(eager=True)
        new_max = pulled.agg(F.max(ver)).collect()[0][0]
        if new_max is not None:
            delta = spark.range(1).select(
                F.lit(topic_id).alias("topic_id"), F.lit(new_max).alias("_ckpt")
            )
            merge_upsert_parquet(spark, ckpt_path, delta, "topic_id")
        return pulled

    def _op_knnSearch(self, call: Call) -> DataFrame:  # noqa: N802 (Solr name)
        """Solr ``knnSearch()`` stream source (solrj 9.x /stream over
        the DenseVectorField knn parser, reference pom.xml:22): the
        {!knn} exact cosine top-k (pipeline.similarity.knn_query)
        surfaced in the expression language.

            knnSearch(collection, f="embedding", vec="[0.1, ...]",
                      topK=10, id="vec_id", fq="...")

        ``fq`` is the 9.1+ PRE-filter (pushed into the scan before
        ranking). Plan: pruned scan → codegen'd cosine with the query
        vector baked in → TakeOrderedAndProject(topK) — no join, no
        corpus shuffle."""
        from hbase_increment_index_spark.pipeline.similarity import knn_query
        from hbase_increment_index_spark.search.solr_query import parse_query

        if not call.fields:
            raise StreamExprError("knnSearch needs a collection name")
        table = call.fields[0]
        if table not in self.tables:
            raise StreamExprError(f"unknown collection {table!r}")
        df = self.tables[table]
        f = self._param(call, "f")
        if not re.fullmatch(r"\w+", f):
            # same check as knn_query's field validation — an f with
            # spaces would otherwise smuggle extra local params into
            # the reconstructed {!knn} string
            raise StreamExprError(f"bad knnSearch field name {f!r}")
        vec = self._param(call, "vec").strip()
        if not (vec.startswith("[") and vec.endswith("]")):
            raise StreamExprError(f"vec must be a bracketed vector, got {vec!r}")
        try:
            k = int(call.params.get("topK", 10))
        except ValueError:
            raise StreamExprError(
                f"bad knnSearch topK {call.params['topK']!r}"
            ) from None
        id_col = call.params.get(
            "id", "vec_id" if "vec_id" in df.columns else df.columns[0]
        )
        pre = None
        if "fq" in call.params and call.params["fq"] != "*:*":
            text_fields = (
                self.text_fields
                if self.text_fields is not None
                else ({"text"} if "text" in df.columns else set())
            )
            pre = parse_query(call.params["fq"], text_fields)
        return knn_query(
            df,
            f"{{!knn f={f} topK={k}}}{vec}",
            id_col=id_col,
            pre_filter=pre,
        )

    def _op_parallel(self, call: Call) -> DataFrame:
        """Solr ``parallel()`` decorator: sends the inner expression to
        N worker nodes partitioned by a hash of ``partitionKeys``. On
        Spark this is a documented PASS-THROUGH: Catalyst already
        partitions every scan/join/agg across the cluster — the
        decorator's whole job is what the engine does natively — so
        the inner plan compiles unchanged (adding an artificial
        repartition would only insert a useless shuffle). ``workers``
        is validated for Solr-compat but does not constrain the plan."""
        if "workers" in call.params:
            try:
                workers = int(call.params["workers"])
            except ValueError:
                raise StreamExprError(
                    f"bad parallel workers {call.params['workers']!r}"
                ) from None
            if workers < 1:
                raise StreamExprError("parallel workers must be >= 1")
        inner = [s for s in call.streams]
        if len(inner) != 1:
            raise StreamExprError("parallel takes exactly one stream")
        return self._eval(inner[0])

    def _op_cartesianProduct(self, call: Call) -> DataFrame:  # noqa: N802
        """Solr ``cartesianProduct(stream, field)``: explode a
        multivalued field — one output tuple per element, the element
        replacing the array in the named field. Maps 1:1 onto
        ``explode`` (a narrow, zero-shuffle generator). ``productSort``
        re-sorts the exploded stream (Solr requires it when downstream
        decorators need order)."""
        df = self._one_stream(call)
        if not call.fields:
            raise StreamExprError("cartesianProduct needs a field to explode")
        fld = call.fields[0]
        if fld not in df.columns:
            raise StreamExprError(f"unknown field {fld!r}")
        others = [c for c in df.columns if c != fld]
        out = df.select(*others, F.explode(fld).alias(fld)).select(*df.columns)
        if "productSort" in call.params:
            out = out.orderBy(*_sort_cols(call.params["productSort"]))
        return out

    # -- math expressions (the solrj 9.x /stream math layer: let()
    #    variable bindings over tuple streams, col() column vectors,
    #    describe()/regress() statistics — Solr evaluates these with
    #    Commons Math on a collected vector; here they stay DataFrame
    #    aggregates, so the "vector" never materializes anywhere)

    def _op_let(self, call: Call) -> DataFrame:
        """Solr ``let(a=expr, b=expr, stream)``: evaluate the bindings
        in order (each visible to later bindings and to the final
        stream via col()/collection references), return the single
        positional stream's result. Bindings are scoped to this let —
        nested lets shadow and restore."""
        if len(call.streams) != 1:
            raise StreamExprError("let takes exactly one result stream")
        added = []
        try:
            for name, val in call.params.items():
                if not isinstance(val, Call):
                    raise StreamExprError(
                        f"let binding {name} must be an expression, got {val!r}"
                    )
                self._lets[name] = self._eval(val)
                added.append(name)
            return self._eval(call.streams[0])
        finally:
            for name in added:
                self._lets.pop(name, None)

    def _colref(self, call: Call) -> tuple[str, DataFrame, str]:
        """Resolve a ``col(var, field)`` argument to (var, frame,
        field) WITHOUT collapsing it to a detached vector — describe/
        regress aggregate over the source frame directly, which keeps
        x/y row pairing exact and the plan one hash aggregate."""
        if call.name != "col":
            raise StreamExprError(f"expected col(...), got {call.name}(...)")
        if len(call.fields) != 2:
            raise StreamExprError("col takes (stream, field)")
        var, fld = call.fields
        src = self._lets.get(var)
        if src is None:
            src = self.tables.get(var)
        if src is None:
            raise StreamExprError(f"unknown stream variable {var!r}")
        if fld not in src.columns:
            raise StreamExprError(f"unknown field {fld!r} in {var!r}")
        return var, src, fld

    def _op_col(self, call: Call) -> DataFrame:
        """``col(stream, field)`` used standalone: the numeric column
        as a 1-column stream (inside describe/regress it is resolved
        by _colref instead, keeping the source frame)."""
        _, src, fld = self._colref(call)
        return src.select(fld)

    def _op_describe(self, call: Call) -> DataFrame:
        """``describe(col(a, f))``: the Commons-Math
        DescriptiveStatistics tuple — n, min, max, sum, mean, var
        (sample), stdev. One hash aggregate; per-row squares in
        double, sums in exact decimal (the e22 OLS discipline), so the
        moments are partition-invariant and engine-portable."""
        if len(call.streams) != 1:
            raise StreamExprError("describe takes exactly one col(...)")
        _, src, fld = self._colref(call.streams[0])
        x = F.col(fld).cast("double")
        # fan_out: the partial aggregation is map-side CPU inside the
        # scan tasks; spread an under-partitioned source (no-op at scale)
        agg = fan_out(src).agg(
            F.count(x).alias("_n"),
            F.min(x).alias("_mn"),
            F.max(x).alias("_mx"),
            F.sum(x.cast("decimal(30,12)")).cast("double").alias("_sx"),
            F.sum((x * x).cast("decimal(30,12)")).cast("double").alias("_sxx"),
        )
        n = F.col("_n").cast("double")
        var = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")) / (n * (n - 1))
        return agg.select(
            F.lit(fld).alias("field"),
            F.col("_n").cast("long").alias("n"),
            F.round(F.col("_mn"), 6).alias("min"),
            F.round(F.col("_mx"), 6).alias("max"),
            F.round(F.col("_sx"), 6).alias("sum"),
            F.round(F.col("_sx") / n, 6).alias("mean"),
            F.round(var, 6).alias("var"),
            F.round(F.sqrt(var), 6).alias("stdev"),
        )

    def _op_regress(self, call: Call) -> DataFrame:
        """``regress(col(a, x), col(a, y))``: simple OLS y = slope·x +
        intercept over the SAME tuple stream (Commons SimpleRegression
        semantics — x/y pairing comes from the shared source rows, so
        both col() arguments must bind the same variable). Output:
        slope, intercept, r_squared. One hash aggregate with
        exact-decimal sums; no vector ever leaves the executors."""
        if len(call.streams) != 2:
            raise StreamExprError("regress takes exactly two col(...) args")
        xvar, src, xf = self._colref(call.streams[0])
        yvar, _, yf = self._colref(call.streams[1])
        if xvar != yvar:
            raise StreamExprError(
                f"regress x and y must come from the same stream "
                f"(got {xvar!r} and {yvar!r}) — row pairing is undefined otherwise"
            )
        x = F.col(xf).cast("double")
        y = F.col(yf).cast("double")
        agg = fan_out(src).agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(x.cast("decimal(30,12)")).cast("double").alias("_sx"),
            F.sum(y.cast("decimal(30,12)")).cast("double").alias("_sy"),
            F.sum((x * y).cast("decimal(30,12)")).cast("double").alias("_sxy"),
            F.sum((x * x).cast("decimal(30,12)")).cast("double").alias("_sxx"),
            F.sum((y * y).cast("decimal(30,12)")).cast("double").alias("_syy"),
        )
        n = F.col("_n").cast("double")
        cov = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
        vx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
        vy = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
        slope = cov / vx
        return agg.select(
            F.lit(xf).alias("x_field"),
            F.lit(yf).alias("y_field"),
            F.col("_n").cast("long").alias("n"),
            F.round(slope, 6).alias("slope"),
            F.round((F.col("_sy") - slope * F.col("_sx")) / n, 6).alias("intercept"),
            F.round((cov * cov) / (vx * vy), 6).alias("r_squared"),
        )

    def _op_corr(self, call: Call) -> DataFrame:
        """``corr(col(a, x), col(a, y))``: Pearson correlation over the
        same tuple stream — the same exact-decimal sum bundle as
        regress(), combined as cov/√(vx·vy). One hash aggregate."""
        if len(call.streams) != 2:
            raise StreamExprError("corr takes exactly two col(...) args")
        xvar, src, xf = self._colref(call.streams[0])
        yvar, _, yf = self._colref(call.streams[1])
        if xvar != yvar:
            raise StreamExprError(
                f"corr x and y must come from the same stream "
                f"(got {xvar!r} and {yvar!r})"
            )
        x = F.col(xf).cast("double")
        y = F.col(yf).cast("double")
        agg = fan_out(src).agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(x.cast("decimal(30,12)")).cast("double").alias("_sx"),
            F.sum(y.cast("decimal(30,12)")).cast("double").alias("_sy"),
            F.sum((x * y).cast("decimal(30,12)")).cast("double").alias("_sxy"),
            F.sum((x * x).cast("decimal(30,12)")).cast("double").alias("_sxx"),
            F.sum((y * y).cast("decimal(30,12)")).cast("double").alias("_syy"),
        )
        n = F.col("_n").cast("double")
        cov = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
        vx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
        vy = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
        return agg.select(
            F.lit(xf).alias("x_field"),
            F.lit(yf).alias("y_field"),
            F.col("_n").cast("long").alias("n"),
            F.round(cov / F.sqrt(vx * vy), 6).alias("corr"),
        )

    def _op_cov(self, call: Call) -> DataFrame:
        """``cov(col(a, x), col(a, y))``: SAMPLE covariance over the
        same tuple stream (solrj math expressions' cov(), the n−1
        denominator commons-math uses) — the corr() sum bundle minus
        the variance legs. One hash aggregate."""
        if len(call.streams) != 2:
            raise StreamExprError("cov takes exactly two col(...) args")
        xvar, src, xf = self._colref(call.streams[0])
        yvar, _, yf = self._colref(call.streams[1])
        if xvar != yvar:
            raise StreamExprError(
                f"cov x and y must come from the same stream "
                f"(got {xvar!r} and {yvar!r})"
            )
        x = F.col(xf).cast("double")
        y = F.col(yf).cast("double")
        agg = fan_out(src).agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(x.cast("decimal(30,12)")).cast("double").alias("_sx"),
            F.sum(y.cast("decimal(30,12)")).cast("double").alias("_sy"),
            F.sum((x * y).cast("decimal(30,12)")).cast("double").alias("_sxy"),
        )
        n = F.col("_n").cast("double")
        # degenerate streams: n <= 1 has no sample covariance (the n-1
        # denominator would be 0/negative); emit NULL cov explicitly
        # rather than a silent divide-by-zero (commons-math throws;
        # NULL keeps the tuple shape stable for oracle comparison)
        cov = F.when(
            F.col("_n") > 1,
            (F.col("_sxy") - F.col("_sx") * F.col("_sy") / n) / (n - 1),
        )
        return agg.select(
            F.lit(xf).alias("x_field"),
            F.lit(yf).alias("y_field"),
            F.col("_n").cast("long").alias("n"),
            F.round(cov, 6).alias("cov"),
        )

    def _series_stats(self, stream: Call, suffix: str) -> DataFrame:
        """(n, Σx, Σx²) for one col(...) argument — the sum bundle every
        closed-form test statistic below reads; decimal sums keep the
        bundle partition-order independent."""
        _, src, f = self._colref(stream)
        c = F.col(f).cast("double")
        return fan_out(src).agg(
            F.count(c).alias(f"_n{suffix}"),
            F.sum(c.cast("decimal(30,12)")).cast("double").alias(f"_s{suffix}"),
            F.sum((c * c).cast("decimal(30,12)")).cast("double").alias(
                f"_ss{suffix}"
            ),
        ), f

    def _op_ttest(self, call: Call) -> DataFrame:
        """``ttest(col(a, x), col(b, y))``: Welch's two-sample t-test —
        solrj math expressions' ttest() (commons-math TTest, unpaired,
        unequal variances; reference pom.xml:22). Emits the t statistic
        and the Welch–Satterthwaite degrees of freedom, both
        closed-form rationals of the two (n, Σ, Σ²) sum bundles — one
        hash aggregate per side, the 1-row frames broadcast-joined.
        The p-value (a regularized-incomplete-beta special function)
        is deliberately NOT emitted: the engine's correctness contract
        is exact-decimal oracle parity, and no closed decimal form of
        the beta tail exists — t and df determine it for any table."""
        if len(call.streams) != 2:
            raise StreamExprError("ttest takes exactly two col(...) args")
        agg_a, xf = self._series_stats(call.streams[0], "a")
        agg_b, yf = self._series_stats(call.streams[1], "b")
        agg = agg_a.crossJoin(F.broadcast(agg_b))
        na, nb = F.col("_na").cast("double"), F.col("_nb").cast("double")
        va = (F.col("_ssa") - F.col("_sa") * F.col("_sa") / na) / (na - 1)
        vb = (F.col("_ssb") - F.col("_sb") * F.col("_sb") / nb) / (nb - 1)
        se2 = va / na + vb / nb
        ok = (F.col("_na") > 1) & (F.col("_nb") > 1)
        t = F.when(ok, (F.col("_sa") / na - F.col("_sb") / nb) / F.sqrt(se2))
        dfw = F.when(
            ok,
            (se2 * se2)
            / ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)),
        )
        return agg.select(
            F.lit(xf).alias("x_field"),
            F.lit(yf).alias("y_field"),
            F.col("_na").cast("long").alias("n_a"),
            F.col("_nb").cast("long").alias("n_b"),
            F.round(t, 6).alias("t_stat"),
            F.round(dfw, 6).alias("df"),
        )

    def _op_anova(self, call: Call) -> DataFrame:
        """``anova(col(a, x), col(b, y), ...)``: one-way ANOVA over k
        series — solrj math expressions' anova() (commons-math
        OneWayAnova; reference pom.xml:22). F = (SSB/(k−1)) /
        (SSW/(N−k)) from the per-series sum bundles: one hash
        aggregate per series, the k 1-row bundles unioned, the grand
        totals broadcast back onto them, per-group terms decimal-
        summed (order-independent) into the two sums of squares. The
        p-value is omitted for the same oracle-parity reason as
        ttest() — F with its two df determine it."""
        if len(call.streams) < 2:
            raise StreamExprError("anova takes at least two col(...) args")
        groups = None
        for i, s in enumerate(call.streams):
            agg, _ = self._series_stats(s, "")
            g = agg.select(
                F.lit(i).alias("_g"),
                F.col("_n").cast("double").alias("_n"),
                "_s",
                "_ss",
            )
            groups = g if groups is None else groups.unionByName(g)
        grand = groups.agg(
            F.sum(F.col("_n").cast("decimal(30,12)")).cast("double").alias("_nt"),
            F.sum(F.col("_s").cast("decimal(30,12)")).cast("double").alias("_st"),
        )
        k = float(len(call.streams))
        terms = groups.crossJoin(F.broadcast(grand)).select(
            "_n",
            (
                F.col("_n")
                * (F.col("_s") / F.col("_n") - F.col("_st") / F.col("_nt"))
                * (F.col("_s") / F.col("_n") - F.col("_st") / F.col("_nt"))
            ).alias("_ssb_term"),
            (F.col("_ss") - F.col("_s") * F.col("_s") / F.col("_n")).alias(
                "_ssw_term"
            ),
            F.col("_nt"),
        )
        out = terms.agg(
            F.max("_nt").alias("_nt"),
            F.sum(F.col("_ssb_term").cast("decimal(30,12)"))
            .cast("double")
            .alias("_ssb"),
            F.sum(F.col("_ssw_term").cast("decimal(30,12)"))
            .cast("double")
            .alias("_ssw"),
        )
        df_b = F.lit(k - 1.0)
        df_w = F.col("_nt") - F.lit(k)
        f_ratio = F.when(
            (df_w > 0) & (F.col("_ssw") > 0),
            (F.col("_ssb") / df_b) / (F.col("_ssw") / df_w),
        )
        return out.select(
            F.lit(int(k)).cast("long").alias("k"),
            F.col("_nt").cast("long").alias("n_total"),
            F.round("_ssb", 6).alias("ssb"),
            F.round("_ssw", 6).alias("ssw"),
            df_b.cast("long").alias("df_between"),
            df_w.cast("long").alias("df_within"),
            F.round(f_ratio, 6).alias("f_ratio"),
        )

    def _op_chiSquareDataSet(self, call: Call) -> DataFrame:  # noqa: N802
        """``chiSquareDataSet(col(a, x), col(b, y))``: commons-math
        chiSquareDataSetsComparison via solrj math expressions
        (reference pom.xml:22) — are two observed frequency
        distributions drawn from the same population? The engine bins
        each raw series by value (the frequencyTable device), aligns
        bins by full outer join, and computes χ² =
        Σ (√(k2/k1)·o1 − √(k1/k2)·o2)² / (o1+o2) with k = the side
        totals; terms are decimal-summed (order-independent). Emits
        the statistic and df = bins−1; the p-value (an incomplete
        gamma) is omitted for the same oracle-parity reason as
        ttest()."""
        if len(call.streams) != 2:
            raise StreamExprError("chiSquareDataSet takes two col(...) args")
        _, srca, xf = self._colref(call.streams[0])
        _, srcb, yf = self._colref(call.streams[1])
        # bin alignment WITHOUT a join: a full-outer join of the two
        # count frames can never broadcast (Spark plans it sort-merge),
        # but a side-tagged union + one conditional-count hash agg
        # produces the same aligned (value, o1, o2) bins in a single
        # shuffle with map-side partials
        tagged = srca.select(
            F.col(xf).alias("value"), F.lit(True).alias("_a")
        ).unionByName(
            srcb.select(F.col(yf).alias("value"), F.lit(False).alias("_a"))
        )
        bins = fan_out(tagged).groupBy("value").agg(
            F.sum(F.col("_a").cast("long")).cast("double").alias("o1"),
            F.sum((~F.col("_a")).cast("long")).cast("double").alias("o2"),
        )
        totals = bins.agg(
            F.sum(F.col("o1").cast("decimal(30,12)")).cast("double").alias("_k1"),
            F.sum(F.col("o2").cast("decimal(30,12)")).cast("double").alias("_k2"),
        )
        r = F.sqrt(F.col("_k2") / F.col("_k1"))
        s = F.sqrt(F.col("_k1") / F.col("_k2"))
        term = (
            (r * F.col("o1") - s * F.col("o2"))
            * (r * F.col("o1") - s * F.col("o2"))
            / (F.col("o1") + F.col("o2"))
        )
        out = bins.crossJoin(F.broadcast(totals)).agg(
            F.count(F.lit(1)).cast("long").alias("_bins"),
            F.sum(term.cast("decimal(30,12)")).cast("double").alias("_chi2"),
        )
        return out.select(
            F.lit(xf).alias("x_field"),
            F.lit(yf).alias("y_field"),
            F.col("_bins").alias("n_bins"),
            (F.col("_bins") - 1).cast("long").alias("df"),
            F.round("_chi2", 6).alias("chi_square"),
        )

    def _op_distance(self, call: Call) -> DataFrame:
        """``distance(col(a, x), col(a, y), type="euclidean")``:
        commons-math distance between two equal-length vectors via
        solrj math expressions (reference pom.xml:22) — here the two
        columns of ONE tuple stream (row-wise pairing, the cov()/
        corr() alignment contract, which keeps the pairing exact with
        no positional zip across engines). Types: euclidean
        (√Σ(x−y)²), manhattan (Σ|x−y|), cosine DISSIMILARITY
        (1 − cosine similarity, Solr's distance-measure convention).
        One hash aggregate over decimal partial sums."""
        metric = call.params.get("type", "euclidean")
        if len(call.streams) != 2:
            raise StreamExprError("distance takes exactly two col(...) args")
        xvar, src, xf = self._colref(call.streams[0])
        yvar, _, yf = self._colref(call.streams[1])
        if xvar != yvar:
            raise StreamExprError("distance x and y must come from one stream")
        x = F.col(xf).cast("double")
        y = F.col(yf).cast("double")
        src = fan_out(src)

        def dsum(c):
            return F.sum(c.cast("decimal(30,12)")).cast("double")

        if metric == "euclidean":
            agg = src.agg(
                F.count(F.lit(1)).alias("_n"), dsum((x - y) * (x - y)).alias("_s")
            )
            dist = F.sqrt(F.col("_s"))
        elif metric == "manhattan":
            agg = src.agg(
                F.count(F.lit(1)).alias("_n"), dsum(F.abs(x - y)).alias("_s")
            )
            dist = F.col("_s")
        elif metric == "cosine":
            agg = src.agg(
                F.count(F.lit(1)).alias("_n"),
                dsum(x * y).alias("_sxy"),
                dsum(x * x).alias("_sxx"),
                dsum(y * y).alias("_syy"),
            )
            dist = 1.0 - F.col("_sxy") / (
                F.sqrt(F.col("_sxx")) * F.sqrt(F.col("_syy"))
            )
        else:
            raise StreamExprError(f"unknown distance type {metric!r}")
        return agg.select(
            F.lit(xf).alias("x_field"),
            F.lit(yf).alias("y_field"),
            F.lit(metric).alias("type"),
            F.col("_n").cast("long").alias("n"),
            F.round(dist, 6).alias("distance"),
        )

    def _op_frequencyTable(self, call: Call) -> DataFrame:  # noqa: N802
        """``frequencyTable(col(a, x))``: commons-math Frequency via
        solrj math expressions (reference pom.xml:22) — one row per
        distinct value with count, percentage, cumulative frequency
        and cumulative percentage in value order. One hash aggregate
        + one window cumsum over the (tiny) distinct-value frame —
        the corpus is touched once."""
        if len(call.streams) != 1:
            raise StreamExprError("frequencyTable takes one col(...) arg")
        _, src, f = self._colref(call.streams[0])
        counts = fan_out(src).groupBy(F.col(f).alias("value")).agg(
            F.count(F.lit(1)).alias("count")
        )
        w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
        total = Window.partitionBy()
        return (
            counts.withColumn("cum_freq", F.sum("count").over(w))
            .withColumn(
                "pct", F.round(F.col("count") / F.sum("count").over(total), 6)
            )
            .withColumn(
                "cum_pct",
                F.round(F.col("cum_freq") / F.sum("count").over(total), 6),
            )
            .orderBy("value")
        )

    def _poly2_coeffs(self, call: Call):
        """Degree-2 least-squares coefficients (c0, c1, c2) for
        ``polyfit(col(a, x), col(a, y))`` via the normal equations,
        solved closed-form by Cramer's rule over the decimal-summed
        moment bundle (n, Σx..Σx⁴, Σy, Σxy, Σx²y) — one hash
        aggregate; every arithmetic step is spelled in one fixed
        association order so the DuckDB oracle reproduces it bit-for-
        bit before the ROUND."""
        if len(call.streams) != 2:
            raise StreamExprError("polyfit takes two col(...) args (x, y)")
        xvar, src, xf = self._colref(call.streams[0])
        yvar, _, yf = self._colref(call.streams[1])
        if xvar != yvar:
            raise StreamExprError("polyfit x and y must come from one stream")
        x = F.col(xf).cast("double")
        y = F.col(yf).cast("double")

        def dsum(c):
            return F.sum(c.cast("decimal(30,12)")).cast("double")

        agg = fan_out(src).agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            dsum(x).alias("_sx"),
            dsum(x * x).alias("_sx2"),
            dsum(x * x * x).alias("_sx3"),
            dsum(x * x * x * x).alias("_sx4"),
            dsum(y).alias("_sy"),
            dsum(x * y).alias("_sxy"),
            dsum(x * x * y).alias("_sx2y"),
        )
        n, sx, sx2 = F.col("_n"), F.col("_sx"), F.col("_sx2")
        sx3, sx4 = F.col("_sx3"), F.col("_sx4")
        sy, sxy, sx2y = F.col("_sy"), F.col("_sxy"), F.col("_sx2y")

        def det3(a1, a2, a3, b1, b2, b3, c1, c2, c3):
            return (
                a1 * (b2 * c3 - b3 * c2)
                - a2 * (b1 * c3 - b3 * c1)
                + a3 * (b1 * c2 - b2 * c1)
            )

        det = det3(n, sx, sx2, sx, sx2, sx3, sx2, sx3, sx4)
        c0 = det3(sy, sx, sx2, sxy, sx2, sx3, sx2y, sx3, sx4) / det
        c1 = det3(n, sy, sx2, sx, sxy, sx3, sx2, sx2y, sx4) / det
        c2 = det3(n, sx, sy, sx, sx2, sxy, sx2, sx3, sx2y) / det
        return agg, xf, yf, c0, c1, c2

    def _op_polyfit(self, call: Call) -> DataFrame:
        """``polyfit(col(a, x), col(a, y))``: degree-2 least-squares
        fit — solrj math expressions' polyfit (commons-math
        PolynomialCurveFitter; reference pom.xml:22), emitted as the
        coefficient tuple (c0 + c1·x + c2·x²) rather than the fitted
        sample values (the coefficients determine those, and a k-row
        coefficient tuple is oracle-checkable where n fitted doubles
        are not)."""
        agg, xf, yf, c0, c1, c2 = self._poly2_coeffs(call)
        return agg.select(
            F.lit(xf).alias("x_field"),
            F.lit(yf).alias("y_field"),
            F.col("_n").cast("long").alias("n"),
            F.round(c0, 6).alias("c0"),
            F.round(c1, 6).alias("c1"),
            F.round(c2, 6).alias("c2"),
        )

    def _op_derivative(self, call: Call) -> DataFrame:
        """``derivative(polyfit(col(a,x), col(a,y)))``: the derivative
        of the fitted polynomial — d/dx (c0 + c1·x + c2·x²) =
        c1 + 2c2·x, emitted as its coefficient tuple (d0, d1). Solr's
        derivative() differentiates the function object a polyfit
        returns; the engine's function objects ARE coefficient tuples,
        so the decorator maps them (closed-form, exact — no spline
        approximation needed for the polynomial case). Interpolation
        objects differentiate piecewise, also closed-form: a lerp
        segment's derivative is its constant slope (seg, x0, x1, d0);
        a spline/akima segment's is the quadratic (d0, d1, d2) =
        (b, 2c, 3d) over dx = x − x0 — the documented Solr
        ``derivative(spline(...))`` idiom."""
        if len(call.streams) != 1 or call.streams[0].name not in (
            "polyfit", "lerp", "spline", "akima"
        ):
            raise StreamExprError(
                "derivative takes one polyfit/lerp/spline/akima(...) arg"
            )
        inner = call.streams[0]
        if inner.name == "lerp":
            xf, yf, seg = self._lerp_segments(inner)
            return seg.select(
                F.lit(xf).alias("x_field"),
                F.lit(yf).alias("y_field"),
                "seg", "x0", "x1",
                F.round("m", 6).alias("d0"),
            )
        if inner.name in ("spline", "akima"):
            xf, yf, seg = self._cubic_segments(inner)
            return seg.select(
                F.lit(xf).alias("x_field"),
                F.lit(yf).alias("y_field"),
                "seg", "x0", "x1",
                F.round("b", 6).alias("d0"),
                F.round(F.col("c") + F.col("c"), 6).alias("d1"),
                F.round(3.0 * F.col("d"), 6).alias("d2"),
            )
        agg, xf, yf, _, c1, c2 = self._poly2_coeffs(call.streams[0])
        return agg.select(
            F.lit(xf).alias("x_field"),
            F.lit(yf).alias("y_field"),
            F.col("_n").cast("long").alias("n"),
            F.round(c1, 6).alias("d0"),
            F.round(c2 + c2, 6).alias("d1"),
        )

    def _op_cumulativeProbability(self, call: Call) -> DataFrame:  # noqa: N802
        """``cumulativeProbability(empiricalDistribution(col(a, x)), v)``
        — the empirical CDF evaluated at a point (solrj math
        expressions; reference pom.xml:22): P(X ≤ v) as the exact
        fraction of observations at or below v. Solr materializes the
        distribution object then queries it; relationally the two
        steps fuse into ONE hash aggregate (count + thresholded count)
        — an exact rational both engines compute identically, no
        distribution sketch needed.

        ``cumulativeProbability(normalDistribution(col(a, x)), v)`` —
        the PARAMETRIC normal form (commons-math NormalDistribution;
        solrj 9.8): μ and the sample stdev come from one exact-decimal
        moment aggregate (the describe() discipline), then Φ(v) =
        ½(1 + erf(z/√2)) with erf pinned as the Abramowitz–Stegun
        7.1.26 rational polynomial (|ε| ≤ 1.5e-7, well inside the
        6-decimal output round): both engines evaluate the SAME Horner
        form on the SAME doubles, sqrt is IEEE-correctly-rounded
        everywhere, and the one libm call that is NOT portable — exp —
        is pinned ROUND-in/ROUND-out (the e14/e23 device)."""
        if len(call.streams) != 1 or call.streams[0].name not in (
            "empiricalDistribution", "normalDistribution"
        ):
            raise StreamExprError(
                "cumulativeProbability takes empiricalDistribution(col(...)) "
                "or normalDistribution(col(...))"
            )
        if call.streams[0].name == "normalDistribution":
            return self._normal_cdf(call)
        ed = call.streams[0]
        if len(ed.streams) != 1 or ed.streams[0].name != "col":
            raise StreamExprError("empiricalDistribution takes one col(...)")
        if len(call.fields) != 1:
            raise StreamExprError(
                "cumulativeProbability takes one evaluation point"
            )
        try:
            v = float(call.fields[0])
        except ValueError:
            raise StreamExprError(
                f"bad evaluation point {call.fields[0]!r}"
            )
        _var, src, fld = self._colref(ed.streams[0])
        x = F.col(fld).cast("double")
        agg = fan_out(src).agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum((x <= F.lit(v)).cast("long")).alias("_le"),
        )
        return agg.select(
            F.lit(fld).alias("field"),
            F.col("_n").cast("long").alias("n"),
            F.lit(v).alias("x"),
            F.round(
                F.col("_le").cast("double") / F.col("_n").cast("double"), 6
            ).alias("probability"),
        )

    def _normal_cdf(self, call: Call) -> DataFrame:
        """The parametric-normal leg of cumulativeProbability() — see
        that docstring. One hash aggregate for (n, Σx, Σx²); the CDF
        itself is a 1-row closed-form projection."""
        nd = call.streams[0]
        if len(nd.streams) != 1 or nd.streams[0].name != "col":
            raise StreamExprError("normalDistribution takes one col(...)")
        if len(call.fields) != 1:
            raise StreamExprError(
                "cumulativeProbability takes one evaluation point"
            )
        try:
            v = float(call.fields[0])
        except ValueError:
            raise StreamExprError(f"bad evaluation point {call.fields[0]!r}")
        _var, src, fld = self._colref(nd.streams[0])
        x = F.col(fld).cast("double")
        agg = fan_out(src).agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(x.cast("decimal(30,12)")).cast("double").alias("_sx"),
            F.sum((x * x).cast("decimal(30,12)")).cast("double").alias("_sxx"),
        )
        n = F.col("_n").cast("double")
        mean = F.col("_sx") / n
        var = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")) / (
            n * (n - 1)
        )
        sd = F.sqrt(var)
        # z = (v − μ)/(σ√2); erf(|z|) via Abramowitz–Stegun 7.1.26 with
        # the exp pinned ROUND-in/ROUND-out; Φ by erf's odd symmetry.
        z = (F.lit(v) - mean) / (sd * F.sqrt(F.lit(2.0)))
        az = F.abs(z)
        t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
        poly = t * (
            F.lit(0.254829592)
            + t * (
                F.lit(-0.284496736)
                + t * (
                    F.lit(1.421413741)
                    + t * (F.lit(-1.453152027) + t * F.lit(1.061405429))
                )
            )
        )
        e = F.round(F.exp(F.round(-(az * az), 6)), 6)
        erf_pos = F.lit(1.0) - poly * e
        prob = F.when(
            z < 0.0, 0.5 * (F.lit(1.0) - erf_pos)
        ).otherwise(0.5 * (F.lit(1.0) + erf_pos))
        return agg.select(
            F.lit(fld).alias("field"),
            F.col("_n").cast("long").alias("n"),
            F.round(mean, 6).alias("mean"),
            F.round(sd, 6).alias("stdev"),
            F.lit(v).alias("x"),
            F.round(prob, 6).alias("probability"),
        )

    def _op_olsRegress(self, call: Call) -> DataFrame:  # noqa: N802 (Solr name)
        """``olsRegress(col(a, x1), col(a, x2), col(a, y))``:
        multivariate (two-predictor) ordinary least squares — solrj
        math expressions' olsRegress (commons-math OLSMultipleLinear
        Regression; reference pom.xml:22), emitted as the coefficient
        tuple of y = b0 + b1·x1 + b2·x2. Same discipline as polyfit:
        the normal equations (X'X)b = X'y solve closed-form by
        Cramer's rule over ONE exact-decimal moment bundle (n, Σx1,
        Σx2, Σx1², Σx2², Σx1x2, Σy, Σx1y, Σx2y) — a single hash
        aggregate, no iteration, every arithmetic step in one fixed
        association order so the oracle reproduces the doubles
        bit-for-bit before the ROUND."""
        if len(call.streams) != 3:
            raise StreamExprError(
                "olsRegress takes three col(...) args (x1, x2, y)"
            )
        v1, src, f1 = self._colref(call.streams[0])
        v2, _, f2 = self._colref(call.streams[1])
        v3, _, fy = self._colref(call.streams[2])
        if not (v1 == v2 == v3):
            raise StreamExprError("olsRegress columns must come from one stream")
        x1 = F.col(f1).cast("double")
        x2 = F.col(f2).cast("double")
        y = F.col(fy).cast("double")

        def dsum(c):
            return F.sum(c.cast("decimal(30,12)")).cast("double")

        # the 9-moment exact-decimal partial aggregation is map-side
        # CPU that runs inside the scan tasks — fan_out so an
        # under-partitioned source doesn't serialize it (no-op at scale)
        agg = fan_out(src).agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            dsum(x1).alias("_s1"),
            dsum(x2).alias("_s2"),
            dsum(x1 * x1).alias("_s11"),
            dsum(x2 * x2).alias("_s22"),
            dsum(x1 * x2).alias("_s12"),
            dsum(y).alias("_sy"),
            dsum(x1 * y).alias("_s1y"),
            dsum(x2 * y).alias("_s2y"),
        )
        n, s1, s2 = F.col("_n"), F.col("_s1"), F.col("_s2")
        s11, s22, s12 = F.col("_s11"), F.col("_s22"), F.col("_s12")
        sy, s1y, s2y = F.col("_sy"), F.col("_s1y"), F.col("_s2y")

        def det3(a1, a2, a3, b1, b2, b3, c1, c2, c3):
            return (
                a1 * (b2 * c3 - b3 * c2)
                - a2 * (b1 * c3 - b3 * c1)
                + a3 * (b1 * c2 - b2 * c1)
            )

        det = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
        b0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22) / det
        b1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22) / det
        b2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y) / det
        return agg.select(
            F.lit(f1).alias("x1_field"),
            F.lit(f2).alias("x2_field"),
            F.lit(fy).alias("y_field"),
            F.col("_n").cast("long").alias("n"),
            F.round(b0, 6).alias("b0"),
            F.round(b1, 6).alias("b1"),
            F.round(b2, 6).alias("b2"),
        )

    def _op_predict(self, call: Call) -> DataFrame:
        """``predict(polyfit(...)|regress(...), col(a, x) | number)``:
        apply a fitted function object to a column or a literal — the
        documented companion of regress()/polyfit() (solrj math
        expressions; reference pom.xml:22): everyone who fits a curve
        evaluates it. The engine's function objects ARE coefficient
        tuples, so predict() joins the 1-row coefficient frame
        (broadcast) onto the evaluation points and computes
        c0 + c1·x + c2·x² as ONE codegen projection — the fit
        aggregate runs once, never per point. A column argument is
        evaluated over its DISTINCT observed values (the relational
        rendering of Solr's array-in/array-out form); a bare numeric
        argument yields one tuple. Every arithmetic step is spelled in
        one fixed association order so the DuckDB oracle reproduces
        the doubles bit-for-bit before the ROUND."""
        if not call.streams or call.streams[0].name not in (
            "polyfit", "regress", "lerp", "spline", "akima"
        ):
            raise StreamExprError(
                "predict takes a polyfit/regress/lerp/spline/akima(...) "
                "function object as its first argument"
            )
        fit = call.streams[0]
        if fit.name in ("lerp", "spline", "akima"):
            return self._predict_interp(call)
        if fit.name == "polyfit":
            agg, _xf, _yf, c0, c1, c2 = self._poly2_coeffs(fit)
            coeffs = agg.select(
                c0.alias("_c0"), c1.alias("_c1"), c2.alias("_c2")
            )
        else:
            # SAME moment bundle + association order as _op_regress
            if len(fit.streams) != 2:
                raise StreamExprError("regress takes exactly two col(...) args")
            xvar, src, xf = self._colref(fit.streams[0])
            yvar, _, yf = self._colref(fit.streams[1])
            if xvar != yvar:
                raise StreamExprError("regress x and y must come from one stream")
            x = F.col(xf).cast("double")
            y = F.col(yf).cast("double")
            agg = src.agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(x.cast("decimal(30,12)")).cast("double").alias("_sx"),
                F.sum(y.cast("decimal(30,12)")).cast("double").alias("_sy"),
                F.sum((x * y).cast("decimal(30,12)")).cast("double").alias("_sxy"),
                F.sum((x * x).cast("decimal(30,12)")).cast("double").alias("_sxx"),
            )
            n = F.col("_n").cast("double")
            slope = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / (
                n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
            )
            coeffs = agg.select(
                ((F.col("_sy") - slope * F.col("_sx")) / n).alias("_c0"),
                slope.alias("_c1"),
                F.lit(0.0).alias("_c2"),
            )
        if len(call.streams) > 1:
            extra = [s for s in call.streams[1:] if s.name == "col"]
            if len(extra) != 1 or len(call.streams) != 2:
                raise StreamExprError(
                    "predict takes one col(...) or one numeric second argument"
                )
            _var, src, zf = self._colref(extra[0])
            points = src.select(
                F.col(zf).cast("double").alias("x")
            ).distinct()
        elif call.fields:
            if len(call.fields) != 1:
                raise StreamExprError("predict takes exactly one evaluation point")
            try:
                v = float(call.fields[0])
            except ValueError:
                raise StreamExprError(
                    f"predict: bad evaluation point {call.fields[0]!r}"
                )
            points = self.spark_for_literals().range(1).select(
                F.lit(v).alias("x")
            )
        else:
            raise StreamExprError("predict needs an evaluation column or number")
        xcol = F.col("x")
        pred = F.col("_c0") + F.col("_c1") * xcol + F.col("_c2") * (xcol * xcol)
        return points.crossJoin(F.broadcast(coeffs)).select(
            xcol, F.round(pred, 6).alias("prediction")
        )

    # ------------------------------------------- interpolation family
    #
    # Solr's math-expression interpolators (solrj 9.8; reference
    # pom.xml:22): lerp() / spline() / akima() build function objects
    # over (x, y) samples that derivative() and predict() then consume
    # — the documented workflow is derivative(spline(col(a,x),
    # col(a,y))). The engine's function objects are SEGMENT TABLES
    # (piecewise closed forms are exact and oracle-checkable where n
    # fitted sample values are not): lerp emits (seg, x0, x1, y0, y1,
    # m), the cubics emit (seg, x0, x1, a, b, c, d) meaning
    # a + b·dx + c·dx² + d·dx³ with dx = x − x0 on [x0, x1].

    def _interp_knots(self, call: Call):
        """Shared knot prep for the interpolators: the (x, y) KNOT
        LIST from two col(...) refs — distinct x, duplicate-x y values
        collapsed to their exact-decimal mean. Solr's interpolators
        require strictly increasing x and throw on ties; the
        relational rendering aggregates ties deterministically
        instead. One hash aggregate over the source stream — the knot
        list is bounded by |distinct x|, the caller's contract (same
        class as classify's model pull)."""
        if len(call.streams) != 2:
            raise StreamExprError(
                f"{call.name} takes two col(...) args (x, y)"
            )
        xvar, src, xf = self._colref(call.streams[0])
        yvar, _, yf = self._colref(call.streams[1])
        if xvar != yvar:
            raise StreamExprError(
                f"{call.name} x and y must come from one stream"
            )
        x = F.col(xf).cast("double")
        y = F.col(yf).cast("double")
        knots = src.groupBy(x.alias("x")).agg(
            (
                F.sum(y.cast("decimal(30,12)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("y")
        )
        return xf, yf, knots

    def _lerp_segments(self, call: Call):
        """lerp()'s segment table, UNROUNDED: consecutive knot pairs
        with slope m = (y1 − y0)/(x1 − x0). The knot list is small by
        contract, so the global-order window is a driver-size sort,
        not a corpus operation."""
        xf, yf, knots = self._interp_knots(call)
        w = Window.orderBy("x")
        seg = (
            knots.select(
                F.row_number().over(w).alias("seg"),
                F.col("x").alias("x0"),
                F.lead("x").over(w).alias("x1"),
                F.col("y").alias("y0"),
                F.lead("y").over(w).alias("y1"),
            )
            .filter(F.col("x1").isNotNull())
            .withColumn(
                "m",
                (F.col("y1") - F.col("y0")) / (F.col("x1") - F.col("x0")),
            )
        )
        return xf, yf, seg

    def _op_lerp(self, call: Call) -> DataFrame:
        """``lerp(col(a, x), col(a, y))``: linear interpolation — the
        function object as its segment table. Piecewise closed form:
        on [x0, x1], f(p) = y0 + m·(p − x0)."""
        xf, yf, seg = self._lerp_segments(call)
        return seg.select(
            F.lit(xf).alias("x_field"),
            F.lit(yf).alias("y_field"),
            "seg", "x0", "x1",
            F.round("y0", 6).alias("y0"),
            F.round("y1", 6).alias("y1"),
            F.round("m", 6).alias("m"),
        )

    def _spline_segments(self, call: Call):
        """Natural-cubic-spline segment table, UNROUNDED. The knot
        list is bounded (capped at 100k — interpolation over more
        knots than that is a data error, not a workload), so the
        tridiagonal system solves DRIVER-SIDE over the collected
        knots — the classify model-pull device; the corpus itself is
        touched only by the one knot aggregate. Every arithmetic step
        is IEEE-754 double in one fixed association order (spelled
        below), so a DuckDB recursive-CTE oracle walking the same
        Thomas sweep reproduces the coefficients bit-for-bit before
        the ROUND."""
        xf, yf, knots = self._interp_knots(call)
        rows = knots.orderBy("x").collect()
        if len(rows) > 100_000:
            raise StreamExprError(
                f"spline: {len(rows)} knots exceeds the 100000-knot cap"
            )
        if len(rows) < 3:
            raise StreamExprError("spline needs at least 3 distinct x knots")
        xs = [float(r["x"]) for r in rows]
        ys = [float(r["y"]) for r in rows]
        n = len(xs) - 1  # segment count
        h = [xs[i + 1] - xs[i] for i in range(n)]
        # forward sweep (association order fixed; the oracle's
        # recursive CTE spells the identical expressions):
        #   alpha_i = 3(y[i+1]-y[i])/h[i] - 3(y[i]-y[i-1])/h[i-1]
        #   l_i = 2(x[i+1]-x[i-1]) - h[i-1]*mu[i-1]
        #   mu_i = h[i]/l_i ;  z_i = (alpha_i - h[i-1]*z[i-1])/l_i
        mu = [0.0] * (n + 1)
        z = [0.0] * (n + 1)
        for i in range(1, n):
            alpha = (
                3.0 * (ys[i + 1] - ys[i]) / h[i]
                - 3.0 * (ys[i] - ys[i - 1]) / h[i - 1]
            )
            li = 2.0 * (xs[i + 1] - xs[i - 1]) - h[i - 1] * mu[i - 1]
            mu[i] = h[i] / li
            z[i] = (alpha - h[i - 1] * z[i - 1]) / li
        # back substitution: c_j = z_j - mu_j*c_{j+1};
        #   b_j = (y[j+1]-y[j])/h[j] - h[j]*(c_{j+1} + 2c_j)/3
        #   d_j = (c_{j+1} - c_j)/(3h[j])
        c = [0.0] * (n + 1)
        b = [0.0] * n
        d = [0.0] * n
        for j in range(n - 1, -1, -1):
            c[j] = z[j] - mu[j] * c[j + 1]
            b[j] = (ys[j + 1] - ys[j]) / h[j] - h[j] * (
                c[j + 1] + 2.0 * c[j]
            ) / 3.0
            d[j] = (c[j + 1] - c[j]) / (3.0 * h[j])
        data = [
            (i + 1, xs[i], xs[i + 1], ys[i], b[i], c[i], d[i])
            for i in range(n)
        ]
        seg = self.spark_for_literals().createDataFrame(
            data,
            "seg int, x0 double, x1 double, a double, b double, "
            "c double, d double",
        )
        return xf, yf, seg

    def _akima_segments(self, call: Call):
        """Akima-spline segment table, UNROUNDED — slopes from
        weighted divided differences (the commons-math
        AkimaSplineInterpolator construction), which unlike the
        natural spline is LOCAL: every quantity is a lag/lead window
        over the knot list, so the whole object stays lazy and
        SQL-expressible in both engines with no driver solve.

        Per knot i over segment slopes m_j = (y[j+1]-y[j])/(x[j+1]-x[j]),
        with boundary slopes linearly extrapolated (next = 2·cur − prev):
        t_i = (|s_{i+1}−s_i|·s_{i−1} + |s_{i−1}−s_{i−2}|·s_i) / W when
        W = |s_{i+1}−s_i| + |s_{i−1}−s_{i−2}| ≠ 0 else (s_{i−1}+s_i)/2.
        Segment i: a = y_i, b = t_i, c = ((3m_i − 2t_i) − t_{i+1})/h,
        d = ((t_i + t_{i+1}) − 2m_i)/h². Needs ≥ 4 knots (fewer yields
        null extrapolants; Solr's requires 5)."""
        xf, yf, knots = self._interp_knots(call)
        w = Window.orderBy("x")
        base = knots.select(
            F.row_number().over(w).alias("seg"),
            F.col("x").alias("x0"),
            F.lead("x").over(w).alias("x1"),
            F.col("y").alias("y0"),
            F.lead("y").over(w).alias("y1"),
        ).withColumn(
            "mr",
            (F.col("y1") - F.col("y0")) / (F.col("x1") - F.col("x0")),
        )
        wk = Window.orderBy("seg")
        ext = (
            base.withColumn("m_l1", F.lag("mr", 1).over(wk))
            .withColumn("m_l2", F.lag("mr", 2).over(wk))
            .withColumn("m_n1", F.lead("mr", 1).over(wk))
            # s_i: real slope, or (last knot) 2·m[i−1] − m[i−2]
            .withColumn(
                "s_i",
                F.coalesce(
                    "mr", 2.0 * F.col("m_l1") - F.col("m_l2")
                ),
            )
            # s_{i−1}: previous slope, or (first knot) 2·m_0 − m_1
            .withColumn(
                "s_im1",
                F.coalesce(
                    "m_l1", 2.0 * F.col("mr") - F.col("m_n1")
                ),
            )
            # s_{i+1}: next slope, or 2·s_i − s_{i−1}
            .withColumn(
                "s_ip1",
                F.coalesce(
                    "m_n1", 2.0 * F.col("s_i") - F.col("s_im1")
                ),
            )
            # s_{i−2}: slope two back, or 2·s_{i−1} − s_i
            .withColumn(
                "s_im2",
                F.coalesce(
                    "m_l2", 2.0 * F.col("s_im1") - F.col("s_i")
                ),
            )
        )
        w1 = F.abs(F.col("s_ip1") - F.col("s_i"))
        w2 = F.abs(F.col("s_im1") - F.col("s_im2"))
        t = F.when(
            (w1 + w2) == 0.0,
            (F.col("s_im1") + F.col("s_i")) / 2.0,
        ).otherwise((w1 * F.col("s_im1") + w2 * F.col("s_i")) / (w1 + w2))
        slopes = ext.withColumn("t", t).withColumn(
            "t_next", F.lead("t", 1).over(wk)
        )
        hcol = F.col("x1") - F.col("x0")
        seg = slopes.filter(F.col("x1").isNotNull()).select(
            "seg", "x0", "x1",
            F.col("y0").alias("a"),
            F.col("t").alias("b"),
            (
                (3.0 * F.col("mr") - 2.0 * F.col("t")) - F.col("t_next")
            ).alias("_cnum"),
            ((F.col("t") + F.col("t_next")) - 2.0 * F.col("mr")).alias(
                "_dnum"
            ),
            hcol.alias("_h"),
        ).select(
            "seg", "x0", "x1", "a", "b",
            (F.col("_cnum") / F.col("_h")).alias("c"),
            (F.col("_dnum") / (F.col("_h") * F.col("_h"))).alias("d"),
        )
        return xf, yf, seg

    def _cubic_segments(self, call: Call):
        """Dispatch a cubic function object (spline/akima) to its
        unrounded segment table."""
        if call.name == "spline":
            return self._spline_segments(call)
        return self._akima_segments(call)

    def _emit_cubic(self, xf: str, yf: str, seg: DataFrame) -> DataFrame:
        return seg.select(
            F.lit(xf).alias("x_field"),
            F.lit(yf).alias("y_field"),
            "seg", "x0", "x1",
            F.round("a", 6).alias("a"),
            F.round("b", 6).alias("b"),
            F.round("c", 6).alias("c"),
            F.round("d", 6).alias("d"),
        )

    def _op_spline(self, call: Call) -> DataFrame:
        """``spline(col(a, x), col(a, y))``: natural cubic spline —
        the function object as its per-segment coefficient table
        (a + b·dx + c·dx² + d·dx³ on [x0, x1])."""
        xf, yf, seg = self._spline_segments(call)
        return self._emit_cubic(xf, yf, seg)

    def _op_akima(self, call: Call) -> DataFrame:
        """``akima(col(a, x), col(a, y))``: Akima spline — the
        function object as its per-segment Hermite coefficient
        table."""
        xf, yf, seg = self._akima_segments(call)
        return self._emit_cubic(xf, yf, seg)

    def _interp_points(self, call: Call):
        """predict()'s evaluation points for an interpolation object:
        the DISTINCT observed values of a col(...) arg, or one bare
        numeric literal."""
        if len(call.streams) > 1:
            extra = [s for s in call.streams[1:] if s.name == "col"]
            if len(extra) != 1 or len(call.streams) != 2:
                raise StreamExprError(
                    "predict takes one col(...) or one numeric second argument"
                )
            _var, src, zf = self._colref(extra[0])
            return src.select(
                F.col(zf).cast("double").alias("x")
            ).distinct()
        if len(call.fields) != 1:
            raise StreamExprError("predict takes exactly one evaluation point")
        try:
            v = float(call.fields[0])
        except ValueError:
            raise StreamExprError(
                f"predict: bad evaluation point {call.fields[0]!r}"
            )
        return self.spark_for_literals().range(1).select(F.lit(v).alias("x"))

    def _predict_interp(self, call: Call) -> DataFrame:
        """predict() over an interpolation object: points join the
        BROADCAST segment table on containment (x0 ≤ p ≤ x1; an
        interior knot belongs to both neighbors — the lower seg wins
        deterministically, and by continuity both give the same value
        anyway). Out-of-domain points are dropped (Solr's interpolator
        throws OutOfRangeException; the relational rendering filters).
        The per-point evaluation is Horner form — one fixed
        association order shared with the oracle."""
        fit = call.streams[0]
        points = self._interp_points(call)
        if fit.name == "lerp":
            _xf, _yf, seg = self._lerp_segments(fit)
            val = F.col("y0") + F.col("m") * (F.col("x") - F.col("x0"))
        else:
            _xf, _yf, seg = self._cubic_segments(fit)
            dx = F.col("x") - F.col("x0")
            val = F.col("a") + dx * (
                F.col("b") + dx * (F.col("c") + dx * F.col("d"))
            )
        matched = points.join(
            F.broadcast(seg),
            (F.col("x") >= F.col("x0")) & (F.col("x") <= F.col("x1")),
        )
        wp = Window.partitionBy("x").orderBy(F.col("seg").asc())
        return (
            matched.withColumn("_rn", F.row_number().over(wp))
            .filter(F.col("_rn") == 1)
            .select(F.col("x"), F.round(val, 6).alias("prediction"))
        )

    def _kmeans_parts(self, call: Call):
        """Shared machinery for ``kmeans()``/``getCentroids()``: one
        Lloyd assignment step from DETERMINISTIC content-hash seeds —
        the k rows with the lexicographically smallest md5 of their id
        (both engines compute the identical hex string, so the oracle
        reproduces the seed set with no RNG state; the e16 machinery
        with hash seeding instead of the fixed id prefix).

        Plan: seed pick is a TakeOrdered-k over hashes; the k seed
        VECTORS broadcast as whole arrays; per-(vec, seed) squared-L2
        is one array fold (zip_with diff² → aggregate-sum, the proven
        IVF-assign idiom) — all inside whole-stage codegen, NO
        posexplode and no N·dim shuffle; the only exchange before the
        winner window is the window's own N·k-row shuffle (64× less
        data than a per-dimension aggregate would move at dim=64).
        The fold runs in array-index order — a fixed association both
        engines reproduce bit-for-bit (DuckDB list_sum/list_transform
        walks the same order), so the rounded distance needs no
        decimal detour. Work ∝ N·dim·k, never corpus×corpus — holds
        at 100 TB."""
        df = self._one_stream(call)
        fld = call.params.get("field", "embedding")
        idc = call.params.get("id", "vec_id")
        k = int(call.params.get("k", 8))
        # fan_out: the N·k array-fold distances run in the scan tasks
        base = fan_out(df.select(
            F.col(idc).alias("_vid"),
            F.col(fld).cast("array<double>").alias("_vec"),
        ))
        seeds = (
            base.select(
                "_vid",
                F.md5(F.encode(F.col("_vid").cast("string"), "UTF-8")).alias("_h"),
            )
            .orderBy(F.col("_h").asc(), F.col("_vid").asc())
            .limit(k)
            .select("_vid")
        )
        seed_vecs = base.join(F.broadcast(seeds), "_vid").select(
            F.col("_vid").alias("_sid"), F.col("_vec").alias("_cvec")
        )
        d = F.round(
            F.aggregate(
                F.zip_with("_vec", "_cvec", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            9,
        )
        scored = base.crossJoin(F.broadcast(seed_vecs)).select(
            "_vid", "_sid", d.alias("_d")
        )
        w = Window.partitionBy("_vid").orderBy(F.col("_d").asc(), F.col("_sid").asc())
        assign = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("_vid", "_sid")
        )
        # members' per-dimension view — only getCentroids consumes it
        x = base.select(
            "_vid", F.posexplode("_vec").alias("_pos0", "_x")
        ).select("_vid", (F.col("_pos0") + 1).alias("_pos"), "_x")
        return idc, x, assign

    def _op_kmeans(self, call: Call) -> DataFrame:
        """``kmeans(stream, field=, id=, k=)``: the clustering family
        of the math-expression language (solrj 9.8, reference
        pom.xml:22) — emit each row's cluster ASSIGNMENT after one
        Lloyd step from deterministic content-hash seeds (a cluster is
        named by its seed row's id). Solr iterates to maxIterations
        with random restarts; the engine pins one step from hash seeds
        so the result is exactly reproducible (and oracle-checkable) —
        further steps are the e16 refine loop."""
        idc, _x, assign = self._kmeans_parts(call)
        return assign.select(
            F.col("_vid").alias(idc), F.col("_sid").alias("cluster_id")
        )

    def _kmeans_scored(self, call: Call, salt: str = ""):
        """The (vec, seed, squared-L2) frame behind the kmeans family:
        deterministic content-hash seed pick (optionally SALTED — each
        multiKmeans trial prefixes its trial number so the restarts
        draw disjoint pseudo-random seed sets), broadcast seed
        vectors, in-codegen array-fold distances rounded at 9 (the
        _kmeans_parts discipline)."""
        df = self._one_stream(call)
        fld = call.params.get("field", "embedding")
        idc = call.params.get("id", "vec_id")
        k = int(call.params.get("k", 8))
        base = fan_out(df.select(
            F.col(idc).alias("_vid"),
            F.col(fld).cast("array<double>").alias("_vec"),
        ))
        hsrc = F.col("_vid").cast("string")
        if salt:
            hsrc = F.concat(F.lit(salt), hsrc)
        seeds = (
            base.select(
                "_vid", F.md5(F.encode(hsrc, "UTF-8")).alias("_h")
            )
            .orderBy(F.col("_h").asc(), F.col("_vid").asc())
            .limit(k)
            .select("_vid")
        )
        seed_vecs = base.join(F.broadcast(seeds), "_vid").select(
            F.col("_vid").alias("_sid"), F.col("_vec").alias("_cvec")
        )
        d = F.round(
            F.aggregate(
                F.zip_with("_vec", "_cvec", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            9,
        )
        scored = base.crossJoin(F.broadcast(seed_vecs)).select(
            "_vid", "_sid", d.alias("_d")
        )
        return idc, scored

    def _op_multiKmeans(self, call: Call) -> DataFrame:  # noqa: N802 (Solr name)
        """``multiKmeans(stream, field=, id=, k=, trials=)``: kmeans
        with restarts — Solr runs the fit ``trials`` times from random
        seeds and keeps the lowest total intra-cluster squared
        distance; the engine's restarts are k content-hash seed SETS
        (trial t salts the hash with 't:'), each a one-step Lloyd
        assignment, with the winner chosen by the exact-decimal cost
        sum (ties → lowest trial). All trials evaluate in ONE lazy
        plan over the shared base frame — work ∝ trials·N·dim·k, the
        kmeans scaling times a small constant, never corpus×corpus.
        Emits the winning trial's assignment with the trial id and its
        total cost."""
        trials = int(call.params.get("trials", 3))
        if trials < 1:
            raise StreamExprError("multiKmeans needs trials >= 1")
        if trials > 64:
            raise StreamExprError("multiKmeans caps trials at 64")
        per_trial = []
        idc = "vec_id"
        for t in range(trials):
            idc, scored = self._kmeans_scored(call, salt=f"{t}:")
            w = Window.partitionBy("_vid").orderBy(
                F.col("_d").asc(), F.col("_sid").asc()
            )
            assign = (
                scored.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(F.lit(t).alias("_trial"), "_vid", "_sid", "_d")
            )
            per_trial.append(assign)
        allt = per_trial[0]
        for nxt in per_trial[1:]:
            allt = allt.unionByName(nxt)
        costs = allt.groupBy("_trial").agg(
            F.sum(F.col("_d").cast("decimal(27,9)")).alias("_cost")
        )
        best = costs.orderBy(
            F.col("_cost").asc(), F.col("_trial").asc()
        ).limit(1)
        return allt.join(F.broadcast(best), "_trial").select(
            F.col("_trial").alias("trial"),
            F.col("_vid").alias(idc),
            F.col("_sid").alias("cluster_id"),
            F.round(F.col("_cost").cast("double"), 6).alias("total_sq_dist"),
        )

    def _op_fuzzyKmeans(self, call: Call) -> DataFrame:  # noqa: N802 (Solr name)
        """``fuzzyKmeans(stream, field=, id=, k=)``: fuzzy c-means
        MEMBERSHIP weights at the fixed fuzzifier m=2 — the one value
        whose weights are closed-form rational in the squared
        distances (u_ij = (1/s_ij)/Σ_l(1/s_lj)), so no libm pow and
        the oracle reproduces them exactly; other m are rejected
        rather than approximated. Seed-coincident points (s = 0) split
        weight 1 equally among their zero-distance seeds. The inverse
        distances sum through exact decimal so the per-row denominator
        is partition-order-invariant. Work ∝ N·dim·k; output N·k
        membership rows."""
        m = float(call.params.get("m", 2))
        if m != 2:
            raise StreamExprError(
                "fuzzyKmeans supports the closed-form fuzzifier m=2 only"
            )
        idc, scored = self._kmeans_scored(call)
        wv = Window.partitionBy("_vid")
        inv = F.lit(1.0) / F.col("_d")
        denom = F.sum(
            F.when(F.col("_d") > 0.0, inv.cast("decimal(30,18)"))
        ).over(wv).cast("double")
        n_zero = F.sum((F.col("_d") == 0.0).cast("long")).over(wv)
        weight = F.when(
            n_zero > 0,
            (F.col("_d") == 0.0).cast("double") / n_zero.cast("double"),
        ).otherwise(inv / denom)
        return scored.select(
            F.col("_vid").alias(idc),
            F.col("_sid").alias("cluster_id"),
            F.round(weight, 6).alias("weight"),
        )

    def _op_getCentroids(self, call: Call) -> DataFrame:  # noqa: N802 (Solr name)
        """``getCentroids(kmeans(...))``: the centroid table of the
        fit — per (cluster, dimension) the EXACT-decimal member mean,
        plus the cluster's member count. One hash aggregate over the
        assigned posexploded corpus (k·dim output rows)."""
        if len(call.streams) != 1 or call.streams[0].name != "kmeans":
            raise StreamExprError("getCentroids takes one kmeans(...) arg")
        idc, x, assign = self._kmeans_parts(call.streams[0])
        members = x.join(assign, "_vid")
        return (
            members.groupBy("_sid", "_pos")
            .agg(
                F.round(
                    F.sum(F.col("_x").cast("decimal(27,10)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("mean_v"),
                F.count(F.lit(1)).alias("_n"),
            )
            .select(
                F.col("_sid").alias("cluster_id"),
                F.col("_n").cast("long").alias("n_assigned"),
                F.col("_pos").cast("long").alias("pos"),
                "mean_v",
            )
        )

    def _op_executor(self, call: Call) -> DataFrame:
        """``executor(stream[, threads=N, field="expr_s"])``: run the
        expression carried in EVERY tuple of the inner stream and emit
        all their results — eval()'s fan-out twin (solrj 9.x's task
        executor; reference pom.xml:22). The inner stream is a task
        list (the thing a user writes, not a corpus) and the collect
        is CAPPED at ``maxTasks`` (default 10k) as scale hygiene —
        pointing executor() at a corpus-sized stream fails loudly
        instead of OOMing the driver. Each expression compiles to its
        own distributed plan and the results concatenate list()-style
        (unionByName, missing columns null-filled); data-carried
        expressions are READ-ONLY unless ``allowWrites=true``
        (update/delete/commit/daemon/topic blocked otherwise).
        ``threads`` is accepted and ignored: Spark schedules the
        unioned branches' stages concurrently already — the same
        pass-through contract as plist()/parallel()."""
        df = self._one_stream(call)
        fld = call.params.get("field", "expr_s")
        if fld not in df.columns:
            raise StreamExprError(f"executor: field {fld!r} not in inner stream")
        # Defensive scale guard: the task-list contract makes the
        # collect bounded, but a user pointing executor() at a
        # corpus-sized stream would OOM the driver at 100× — fail
        # loudly above the cap instead (raise it explicitly with
        # maxTasks= when a bigger task list is intended).
        cap = int(call.params.get("maxTasks", 10_000))
        rows = df.select(fld).limit(cap + 1).collect()
        if len(rows) > cap:
            raise StreamExprError(
                f"executor: inner stream exceeds {cap} tasks; pass "
                f"maxTasks=N to run a larger task list deliberately"
            )
        exprs = [str(r[0]) for r in rows if r[0] is not None]
        if not exprs:
            raise StreamExprError("executor: inner stream produced no expressions")
        allow_writes = str(call.params.get("allowWrites", "false")).lower() == "true"
        parsed_exprs = [parse(text) for text in exprs]
        if not allow_writes:
            for p in parsed_exprs:
                self._assert_read_only_expr(p, "executor")
        out = None
        for part_expr in parsed_exprs:
            part = self._eval(part_expr)
            out = part if out is None else out.unionByName(
                part, allowMissingColumns=True
            )
        return out

    def _op_movingAvg(self, call: Call) -> DataFrame:  # noqa: N802 (Solr name)
        """``movingAvg(col(a, f), over="k", window=N)``: trailing-N
        moving average of ``f`` along the ``over`` ordering — Solr's
        movingAvg over a numeric array, re-expressed against the
        bound stream so the series never detaches from its sort key.
        Like Solr (commons-math DescriptiveStatistics window), only
        FULL windows emit: output rows n_rows − window + 1. The sum
        rides exact decimals so the average is order-independent
        under any partitioning; ties on the sort key break by the
        value field. A single global-order window over a let-bound
        (bounded by contract) series — the same posture as q61o's
        stream percentile."""
        if len(call.streams) != 1:
            raise StreamExprError("movingAvg takes exactly one col(...) arg")
        _, src, fld = self._colref(call.streams[0])
        over = self._param(call, "over")
        if over not in src.columns:
            raise StreamExprError(f"unknown movingAvg over field {over!r}")
        try:
            window = int(call.params.get("window", "5"))
        except ValueError:
            raise StreamExprError(
                f"bad movingAvg window {call.params['window']!r}"
            ) from None
        if window < 1:
            raise StreamExprError("movingAvg window must be >= 1")
        x = F.col(fld).cast("double")
        w = Window.orderBy(F.col(over).asc(), x.asc())
        wsum = w.rowsBetween(-(window - 1), 0)
        out = src.select(
            F.col(over),
            x.alias(fld),
            (
                F.sum(x.cast("decimal(30,12)")).over(wsum).cast("double")
                / F.lit(float(window))
            ).alias("_ma"),
            F.row_number().over(w).alias("_rn"),
        )
        return (
            out.filter(F.col("_rn") >= window)
            .select(over, fld, F.round("_ma", 6).alias("moving_avg"))
        )

    def _op_movingMedian(self, call: Call) -> DataFrame:  # noqa: N802 (Solr name)
        """``movingMedian(col(a, f), over="k", window=N)``: trailing-N
        moving MEDIAN along the ``over`` ordering — Solr math
        expressions' movingMedian (commons-math DescriptiveStatistics
        window), the robust twin of movingAvg. Full windows only
        (n − window + 1 output rows), ties on the sort key break by
        the value field.

        Plan: same single global-order window as movingAvg, but the
        trailing frame is gathered with collect_list and the median
        read off the array_sort'd window — exact, no percentile
        sketch. For even windows the two middle values average (the
        R-7/commons-math convention)."""
        if len(call.streams) != 1:
            raise StreamExprError("movingMedian takes exactly one col(...) arg")
        _, src, fld = self._colref(call.streams[0])
        over = self._param(call, "over")
        if over not in src.columns:
            raise StreamExprError(f"unknown movingMedian over field {over!r}")
        try:
            window = int(call.params.get("window", "5"))
        except ValueError:
            raise StreamExprError(
                f"bad movingMedian window {call.params['window']!r}"
            ) from None
        if window < 1:
            raise StreamExprError("movingMedian window must be >= 1")
        x = F.col(fld).cast("double")
        w = Window.orderBy(F.col(over).asc(), x.asc())
        frame = w.rowsBetween(-(window - 1), 0)
        arr = F.array_sort(F.collect_list(x).over(frame))
        mid = window // 2
        med = (
            F.element_at(arr, mid + 1)
            if window % 2 == 1
            else (F.element_at(arr, mid) + F.element_at(arr, mid + 1)) / F.lit(2.0)
        )
        out = src.select(
            F.col(over),
            x.alias(fld),
            med.alias("_mm"),
            F.row_number().over(w).alias("_rn"),
        )
        return (
            out.filter(F.col("_rn") >= window)
            .select(over, fld, F.round("_mm", 6).alias("moving_median"))
        )

    def _op_zscores(self, call: Call) -> DataFrame:
        """``zscores(col(a, f))`` — Solr math expressions' zscores():
        standardize the bound series, (x − mean) / sample-stddev
        (commons-math StandardDeviation, the n−1 form). Emits the
        series with its sort key so values never detach from rows.

        Plan: ONE hash aggregate computes the exact-decimal sum and
        sum-of-squares (order-independent under any partitioning);
        mean/stddev derive in IEEE doubles on those exact sums and
        broadcast back as a 1-row frame onto a codegen projection —
        no second scan, no window. sqrt is correctly rounded by IEEE,
        so both engines compute the identical z, pinned at 6."""
        if len(call.streams) != 1:
            raise StreamExprError("zscores takes exactly one col(...) arg")
        _, src, fld = self._colref(call.streams[0])
        x = F.col(fld).cast("double")
        stats = src.agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(x.cast("decimal(30,12)")).cast("double").alias("_sx"),
            F.sum((x * x).cast("decimal(30,12)")).cast("double").alias("_sxx"),
        )
        n = F.col("_n").cast("double")
        var = F.when(
            F.col("_n") > 1,
            (F.col("_sxx") - F.col("_sx") * F.col("_sx") / n) / (n - 1),
        )
        stats = stats.select(
            (F.col("_sx") / n).alias("_mean"),
            F.sqrt(var).alias("_sd"),
        )
        return (
            src.crossJoin(F.broadcast(stats))
            .select(
                "*",
                F.round((x - F.col("_mean")) / F.col("_sd"), 6).alias("zscore"),
            )
            .drop("_mean", "_sd")
        )

    def _op_facet2D(self, call: Call) -> DataFrame:  # noqa: N802 (Solr name)
        """Solr ``facet2D()`` (solrj 9.x): two-dimensional faceting —
        the top-``nx`` x buckets by the metric, and within each the
        top-``ny`` y buckets:

            facet2D(coll, q="*:*", x="fx", y="fy",
                    dimensions="3,2", count(*))

        Plan: one (x, y) hash aggregate for the cells; the x dimension
        ranks by the metric recomputed at x level (correct for ANY
        metric, not just additive ones) and broadcasts its ≤nx keys
        onto the cells; the y rank is one window partitioned by x.
        Ties break ascending on the bucket value (deterministic, the
        facet() convention)."""
        df = self._source(call)
        xf, yf = self._param(call, "x"), self._param(call, "y")
        for c in (xf, yf):
            if c not in df.columns:
                raise StreamExprError(f"unknown facet2D field {c!r}")
        dims = [d.strip() for d in self._param(call, "dimensions").split(",")]
        if len(dims) != 2:
            raise StreamExprError("facet2D dimensions must be 'nx,ny'")
        try:
            nx, ny = int(dims[0]), int(dims[1])
        except ValueError:
            raise StreamExprError(
                f"bad facet2D dimensions {call.params['dimensions']!r}"
            ) from None
        if nx < 1 or ny < 1:
            raise StreamExprError("facet2D dimensions must be >= 1")
        metrics = self._metrics(call, df)
        if len(metrics) != 1:
            raise StreamExprError("facet2D takes exactly one metric")
        metric = metrics[0]
        alias = df.select(metric).columns[0]
        cells = df.groupBy(xf, yf).agg(metric)
        top_x = (
            df.groupBy(xf)
            .agg(metric)
            .orderBy(F.col(alias).desc(), F.col(xf).asc())
            .limit(nx)
            .select(xf)
        )
        wy = Window.partitionBy(xf).orderBy(F.col(alias).desc(), F.col(yf).asc())
        return (
            cells.join(F.broadcast(top_x), xf)
            .withColumn("_r", F.row_number().over(wy))
            .filter(F.col("_r") <= ny)
            .select(xf, yf, alias)
        )

    def _op_expMovingAvg(self, call: Call) -> DataFrame:  # noqa: N802 (Solr name)
        """``expMovingAvg(col(a, f), over="k", window=N)``: exponential
        moving average with α = 2/(window+1): y₀ = x₀,
        yₜ = α·xₜ + (1−α)·yₜ₋₁ along the ``over`` ordering. NOTE on
        fidelity: this is the classic y₀ = x₀ EMA variant, which
        DELIBERATELY diverges from Solr's expMovingAvg output shape —
        Solr (commons-math ExponentialMovingAverage-style) seeds with
        the simple average of the first ``window`` values and emits a
        shortened (n − window + 1) series; the y₀ = x₀ form emits all
        n rows and needs no warm-up, and its recurrence is what the
        oracle replays. The recurrence is inherently
        sequential, so the series is gathered into ONE sorted array
        (sort_array ∘ collect_list — deterministic (k, v) order) and
        folded with a codegen'd ``aggregate`` accumulator — no UDF, no
        driver collect; the same bounded-series contract as
        movingAvg/percentile (a let-bound stream, not a corpus). The
        α / (1−α) literals are baked identically into the Spark
        expression and the oracle's recursive CTE, so the double
        recurrence is bit-reproducible across engines."""
        if len(call.streams) != 1:
            raise StreamExprError("expMovingAvg takes exactly one col(...) arg")
        _, src, fld = self._colref(call.streams[0])
        over = self._param(call, "over")
        if over not in src.columns:
            raise StreamExprError(f"unknown expMovingAvg over field {over!r}")
        try:
            window = int(call.params.get("window", "5"))
        except ValueError:
            raise StreamExprError(
                f"bad expMovingAvg window {call.params['window']!r}"
            ) from None
        if window < 1:
            raise StreamExprError("expMovingAvg window must be >= 1")
        alpha = 2.0 / (window + 1)
        x = F.col(fld).cast("double")
        series = src.agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(over).alias("k"), x.alias("v")))
            ).alias("s")
        )
        ema = F.aggregate(
            F.col("s"),
            F.array().cast("array<double>"),
            lambda acc, e: F.concat(
                acc,
                F.array(
                    F.when(F.size(acc) == 0, e["v"]).otherwise(
                        F.lit(alpha) * e["v"]
                        + F.lit(1.0 - alpha) * F.element_at(acc, -1)
                    )
                ),
            ),
        )
        return (
            series.select(F.posexplode(F.arrays_zip(F.col("s"), ema.alias("e"))))
            .select(
                F.col("col.s.k").alias(over),
                F.col("col.s.v").alias(fld),
                F.round(F.col("col.e"), 6).alias("ema"),
            )
            .orderBy(over, fld)
        )

    def _op_percentile(self, call: Call) -> DataFrame:
        """``percentile(col(a, f), 90)``: the exact linear-interpolated
        percentile (Solr math evaluates Commons Math's Percentile on a
        collected vector; Spark's ``percentile`` aggregate computes the
        identical R-7 interpolation distributed — and DuckDB's
        quantile_cont replays it, the Q-MED discipline). One holistic
        aggregate; no vector leaves the executors."""
        if len(call.streams) != 1:
            raise StreamExprError("percentile takes exactly one col(...)")
        _, src, fld = self._colref(call.streams[0])
        raw = call.fields[0] if call.fields else call.params.get("p", "50")
        try:
            p = float(raw)
        except ValueError:
            raise StreamExprError(f"bad percentile {raw!r}") from None
        if not 0.0 <= p <= 100.0:
            raise StreamExprError(f"percentile must be in [0, 100], got {p}")
        x = F.col(fld).cast("double")
        return fan_out(src).agg(
            F.lit(fld).alias("field"),
            F.lit(p).alias("p"),
            F.round(F.percentile(x, F.lit(p / 100.0)), 6).alias("value"),
        )

    def _op_hist(self, call: Call) -> DataFrame:
        """``hist(col(a, f), bins)``: equal-width histogram over the
        column's [min, max] range (Solr evaluates this with Commons
        EmpiricalDistribution on a collected vector). Per bin: count,
        mean (exact-decimal sum ÷ count), min, max; EMPTY bins are
        emitted with n=0 (the fixed-bin contract a plotting client
        expects). Plan: one bounds aggregate broadcast back onto the
        scan, one (bins-bounded) hash aggregate, a sequence() explode
        for the empty bins — the vector never leaves the executors.
        Bin index = floor((x - min)/width) clamped to bins-1 (the max
        value closes the last bin); width arithmetic is identical
        double math in the SQL twin, so bucket edges are
        engine-portable."""
        if len(call.streams) != 1:
            raise StreamExprError("hist takes exactly one col(...)")
        _, src, fld = self._colref(call.streams[0])
        try:
            bins = int(call.params.get("bins", 10))
        except ValueError:
            raise StreamExprError(
                f"bad hist bins {call.params['bins']!r}"
            ) from None
        if bins < 1:
            raise StreamExprError("hist bins must be >= 1")
        x = F.col(fld).cast("double")
        src = fan_out(src)
        bounds = src.agg(
            F.min(x).alias("_lo"), F.max(x).alias("_hi")
        )
        w = (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
        binned = (
            src.select(x.alias("_x"))
            .crossJoin(F.broadcast(bounds))
            .select(
                F.least(
                    F.floor((F.col("_x") - F.col("_lo")) / w).cast("long"),
                    F.lit(bins - 1),
                ).alias("bin"),
                "_x",
            )
            .groupBy("bin")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("_x").cast("decimal(30,12)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("mean"),
                F.round(F.min("_x"), 6).alias("min"),
                F.round(F.max("_x"), 6).alias("max"),
            )
        )
        grid = bounds.select(
            F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("bin"),
            "_lo",
            "_hi",
        )
        w2 = (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
        return (
            grid.join(F.broadcast(binned), "bin", "left")
            .select(
                F.col("bin").cast("long").alias("bin"),
                F.round(F.col("_lo") + F.col("bin") * w2, 6).alias("bin_lo"),
                F.round(F.col("_lo") + (F.col("bin") + 1) * w2, 6).alias("bin_hi"),
                F.coalesce("n", F.lit(0)).cast("long").alias("n"),
                "mean",
                "min",
                "max",
            )
            .orderBy("bin")
        )

    def _op_featuresSelection(self, call: Call) -> DataFrame:  # noqa: N802
        """Solr ``featuresSelection(collection, q=..., field=...,
        outcome=..., numTerms=N)`` — the /stream ML feature selector
        (solrj 9.x TextLogitStream companion): rank vocabulary terms by
        INFORMATION GAIN against a binary outcome. IG(T) = H(C) −
        H(C|T) computed from the four (term-presence × class) document
        counts — one distinct-postings aggregate carrying the outcome
        bit, scalar totals broadcast, the entropy arithmetic a pure
        projection (0·log0 terms defined as 0, the standard
        convention). Vocabulary-bounded shuffle; corpus scanned once.

            featuresSelection(documents, field="text",
                              outcome="lang:de", numTerms=15)
        """
        from hbase_increment_index_spark.search.solr_query import parse_query
        from hbase_increment_index_spark.search.tokenize import tokens

        if not call.fields:
            raise StreamExprError("featuresSelection needs a collection name")
        table = call.fields[0]
        if table not in self.tables:
            raise StreamExprError(f"unknown collection {table!r}")
        df = self.tables[table]
        fld = self._param(call, "field")
        if fld not in df.columns:
            raise StreamExprError(f"unknown field {fld!r}")
        text_fields = (
            self.text_fields
            if self.text_fields is not None
            else ({"text"} if "text" in df.columns else set())
        )
        outcome = parse_query(self._param(call, "outcome"), text_fields)
        try:
            k = int(call.params.get("numTerms", 10))
        except ValueError:
            raise StreamExprError(
                f"bad featuresSelection numTerms {call.params['numTerms']!r}"
            ) from None
        flagged = df.select(
            outcome.cast("long").alias("_y"), tokens(fld).alias("_toks")
        )
        totals = flagged.agg(
            F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_n_pos")
        )
        per_term = (
            flagged.select("_y", F.explode(F.array_distinct("_toks")).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("_df"), F.sum("_y").alias("_df_pos"))
        )
        j = per_term.crossJoin(F.broadcast(totals))
        n = F.col("_n").cast("double")

        def plogp(p):
            # p·log2(p) with the 0·log0 = 0 convention
            return F.when(p > 0, p * F.log2(p)).otherwise(F.lit(0.0))

        # joint counts: n11 = term ∧ pos, n10 = term ∧ neg, n01/n00 rest
        n11 = F.col("_df_pos").cast("double")
        n10 = (F.col("_df") - F.col("_df_pos")).cast("double")
        n01 = (F.col("_n_pos") - F.col("_df_pos")).cast("double")
        n00 = n - n11 - n10 - n01
        h_c = -(plogp(F.col("_n_pos") / n) + plogp((n - F.col("_n_pos")) / n))

        def h_cond(a, b):
            tot = a + b
            return F.when(
                tot > 0, -(plogp(a / tot) + plogp(b / tot)) * (tot / n)
            ).otherwise(F.lit(0.0))

        ig = h_c - (h_cond(n11, n10) + h_cond(n01, n00))
        return (
            j.select(
                "term",
                F.col("_df").cast("long").alias("df"),
                F.col("_df_pos").cast("long").alias("df_pos"),
                F.round(ig, 6).alias("ig"),
            )
            .orderBy(F.col("ig").desc(), F.col("term").asc())
            .limit(k)
        )

    def _op_train(self, call: Call) -> DataFrame:
        """Solr ``train()`` — the /stream logistic-regression trainer
        (TextLogitStream; featuresSelection picks the vocabulary,
        train() fits the weights, emitting one tuple PER ITERATION):

            train(documents, field="text", outcome="lang:de",
                  terms="data,join,query", maxIterations=5)

        Model: binary logistic regression over term-presence features
        plus an intercept, full-batch gradient descent
        (w += lr/n · Σ (y − σ(w·x))·x, lr = 1). ``terms`` is the
        explicit feature vocabulary (the documented Solr workflow
        feeds featuresSelection's output here; Solr's hashed-feature
        variant differs only in how the vocabulary is picked).

        Execution: per iteration ONE hash aggregate over the corpus —
        the gradient's k+1 component sums — with the current weights
        baked in as literals; the k+1 scalars collect to the driver
        (bounded, the CC-loop discipline) and the update arithmetic
        runs in plain IEEE doubles that the SQL oracle replays
        operation-for-operation. Determinism across engines: σ is
        rounded to 6 decimals before the residual (exp() differs by
        ulps between math libraries; the rounding pins both sides to
        the same value), residual sums are exact decimals, and the
        weight updates are identical double arithmetic on identical
        sums. Output: (iteration, n, error=mean squared residual,
        w_intercept, w_<term>...), weights rounded at 6 for display
        only — the loop carries full precision."""
        from hbase_increment_index_spark.search.solr_query import parse_query
        from hbase_increment_index_spark.search.tokenize import tokens

        if not call.fields:
            raise StreamExprError("train needs a collection name")
        table = call.fields[0]
        if table not in self.tables:
            raise StreamExprError(f"unknown collection {table!r}")
        df = self.tables[table]
        fld = self._param(call, "field")
        if fld not in df.columns:
            raise StreamExprError(f"unknown field {fld!r}")
        terms = [t.strip() for t in self._param(call, "terms").split(",") if t.strip()]
        if not terms:
            raise StreamExprError("train needs a non-empty terms list")
        terms = sorted(set(terms))
        try:
            iters = int(call.params.get("maxIterations", 5))
        except ValueError:
            raise StreamExprError(
                f"bad train maxIterations {call.params['maxIterations']!r}"
            ) from None
        if iters < 1:
            raise StreamExprError("train maxIterations must be >= 1")
        text_fields = (
            self.text_fields
            if self.text_fields is not None
            else ({"text"} if fld == "text" else set())
        )
        outcome = parse_query(self._param(call, "outcome"), text_fields)
        # fan_out: the tokenize + k-term feature projection is map-side
        # CPU inside the scan tasks, and the persisted frame keeps its
        # partitioning for all 5 per-iteration aggregates (no-op at scale)
        feats = fan_out(df).select(
            outcome.cast("double").alias("_y"),
            *[
                F.array_contains(tokens(fld), t).cast("double").alias(f"_x{i}")
                for i, t in enumerate(terms)
            ],
        ).persist()
        k = len(terms)
        w = [0.0] * (k + 1)  # intercept first
        rows = []
        spark = df.sparkSession
        try:
            for it in range(1, iters + 1):
                z = F.lit(w[0])
                for i in range(k):
                    z = z + F.lit(w[i + 1]) * F.col(f"_x{i}")
                sig = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
                resid = F.col("_y") - sig
                agg = feats.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(resid.cast("decimal(30,12)")).cast("double").alias("g0"),
                    *[
                        F.sum((resid * F.col(f"_x{i}")).cast("decimal(30,12)"))
                        .cast("double")
                        .alias(f"g{i + 1}")
                        for i in range(k)
                    ],
                    F.sum((resid * resid).cast("decimal(30,12)"))
                    .cast("double")
                    .alias("sse"),
                ).head()
                n = float(agg["n"])
                err = round(agg["sse"] / n, 6)
                w = [w[j] + agg[f"g{j}"] / n for j in range(k + 1)]
                rows.append(
                    (it, int(agg["n"]), err, *[round(v, 6) for v in w])
                )
        finally:
            feats.unpersist()
        schema = (
            "iteration long, n long, error double, w_intercept double, "
            + ", ".join(f"w_{t} double" for t in terms)
        )
        return spark.createDataFrame(rows, schema)

    def _op_classify(self, call: Call) -> DataFrame:
        """Solr ``classify()`` stream decorator (ClassifyStream, solrj
        9.x — the documented companion of train(): the model a
        TextLogitStream fit is applied to every tuple of an inner
        stream), emitting ``probability_d`` = σ(w·x) over
        term-presence features and ``predicted_i`` = [probability_d ≥
        0.5] alongside the tuple's own fields.

        Model sources, mirroring Solr's
        ``classify(model(models, id=..), search(...), field=..)``:

        - TWO inner streams — the FIRST is the model stream (typically
          ``train(...)`` here; Solr's model() reads the stored
          equivalent). The LAST tuple wins, matching model()'s
          highest-iteration pull: a bounded 1-row collect whose
          ``w_intercept`` / ``w_<term>`` columns supply both the
          vocabulary and the weights.
        - ONE inner stream + ``terms=`` / ``weights=`` params — the
          weights inline (intercept first), for serving a model
          trained out-of-band.

        Scoring is ONE codegen projection over the data stream — the
        weights bake in as literals, no join, no UDF, nothing stateful
        — so classification adds zero shuffles to the inner plan. σ is
        rounded at 6 (train()'s determinism device: exp() ulps differ
        across math libraries; rounding pins both engines); the
        threshold compare runs on the rounded value so predicted_i is
        identical cross-engine too."""
        from hbase_increment_index_spark.search.tokenize import tokens

        if len(call.streams) == 2:
            model_df = self._eval(call.streams[0])
            data = self._eval(call.streams[1])
            want = {"iteration", "w_intercept"}
            if not want.issubset(set(model_df.columns)):
                raise StreamExprError(
                    "classify model stream must emit iteration/w_intercept/"
                    "w_<term> columns (a train() stream does)"
                )
            last = model_df.orderBy(F.col("iteration").desc()).head()
            if last is None:
                raise StreamExprError("classify model stream is empty")
            terms = [c[2:] for c in model_df.columns if c.startswith("w_")
                     and c != "w_intercept"]
            weights = [float(last["w_intercept"])] + [
                float(last[f"w_{t}"]) for t in terms
            ]
        elif len(call.streams) == 1:
            data = self._eval(call.streams[0])
            terms = [
                t.strip() for t in self._param(call, "terms").split(",") if t.strip()
            ]
            try:
                weights = [
                    float(w) for w in self._param(call, "weights").split(",")
                ]
            except ValueError:
                raise StreamExprError(
                    f"bad classify weights {call.params['weights']!r}"
                ) from None
            if len(weights) != len(terms) + 1:
                raise StreamExprError(
                    "classify weights must be intercept + one per term "
                    f"({len(terms) + 1} values, got {len(weights)})"
                )
        else:
            raise StreamExprError(
                "classify takes (model, stream) or (stream) with terms=/weights="
            )
        fld = self._param(call, "field")
        if fld not in data.columns:
            raise StreamExprError(f"unknown field {fld!r}")
        z = F.lit(weights[0])
        toks = tokens(fld)
        for i, t in enumerate(terms):
            z = z + F.lit(weights[i + 1]) * F.array_contains(toks, t).cast("double")
        prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
        return data.withColumn("probability_d", prob).withColumn(
            "predicted_i", (F.col("probability_d") >= 0.5).cast("long")
        )

    def _op_random(self, call: Call) -> DataFrame:
        """Solr ``random()`` stream source (RandomStream, solrj 9.x):
        a pseudo-random sample of ``rows`` tuples matching ``q``. Solr
        reseeds per request; this engine derives the randomness from
        the portable content hash of (seed, id) — uniform
        Efraimidis–Spirakis-style keys, the e6 sampling discipline —
        so the drawn set is a PURE FUNCTION of (seed, matching ids):
        rerun-stable at any parallelism, oracle-checkable, and a new
        draw is spelled ``seed=`` (matching Solr's per-request reseed
        intent without Math.random).

            random(coll, q="...", rows=100, fl="a,b",
                   idField="doc_id", seed="s1")

        Plan: pushed-filter scan → one codegen hash projection →
        TakeOrderedAndProject(rows) on the key (per-partition heaps +
        driver merge, no global sort) — the weighted_sample shape with
        unit weights."""
        from hbase_increment_index_spark.pipeline.dedup import portable_hash60
        from hbase_increment_index_spark.search.solr_query import parse_query

        if not call.fields:
            raise StreamExprError("random needs a collection name")
        table = call.fields[0]
        if table not in self.tables:
            raise StreamExprError(f"unknown collection {table!r}")
        df = self.tables[table]
        id_field = self._param(call, "idField")
        if id_field not in df.columns:
            raise StreamExprError(f"unknown idField {id_field!r}")
        seed = call.params.get("seed", "0")
        try:
            rows = int(self._param(call, "rows"))
        except ValueError:
            raise StreamExprError(f"bad random rows {call.params['rows']!r}") from None
        if rows < 1:
            raise StreamExprError("random rows must be >= 1")
        text_fields = (
            self.text_fields
            if self.text_fields is not None
            else ({"text"} if "text" in df.columns else set())
        )
        for key in ("q", "fq"):
            spec = call.params.get(key)
            if spec and spec != "*:*":
                df = df.filter(parse_query(spec, text_fields))
        if "fl" in call.params:
            fl = [c.strip() for c in call.params["fl"].split(",")]
            if id_field not in fl:
                raise StreamExprError(
                    f"random fl must include idField {id_field!r}"
                )
            df = df.select(*fl)
        key_col = portable_hash60(
            F.concat(F.lit(seed + ":"), F.col(id_field).cast("string"))
        )
        return (
            df.withColumn("_rk", key_col)
            .orderBy(F.col("_rk").asc(), F.col(id_field).asc())
            .limit(rows)
            .drop("_rk")
        )

    def _op_daemon(self, call: Call) -> DataFrame:
        """Solr ``daemon()`` decorator: registers the inner expression
        as a background loop (see :class:`Daemon`). Posting the
        expression REGISTERS the daemon (available afterwards in
        ``compiler.daemons[id]``) and emits Solr's daemon summary tuple
        (id, state, runInterval); it does not run an iteration — the
        caller starts the loop or drives run_once(), matching Solr's
        daemon list/start/stop control actions."""
        daemon_id = self._param(call, "id")
        interval = int(call.params.get("runInterval", 30000))
        inner = [s for s in call.streams]
        if len(inner) != 1:
            raise StreamExprError("daemon takes exactly one stream")
        d = Daemon(
            daemon_id,
            inner[0],
            self.tables_provider,
            interval,
            self.text_fields,
            self.sink_paths,
            max_rows=int(call.params.get("maxRows", 100_000)),
        )
        self.daemons[daemon_id] = d
        # the summary tuple needs a SparkSession; any catalog table has one
        spark = next(iter(self.tables.values())).sparkSession
        return spark.range(1).select(
            F.lit(daemon_id).alias("id"),
            F.lit(d.state).alias("state"),
            F.lit(interval).cast("long").alias("runInterval"),
        )


class Daemon:
    """Solr ``daemon()`` handle: re-runs an inner streaming expression
    on an interval, in the background — the decorator Solr uses to turn
    an update() expression into a continuously-maintained index (the
    reference's commit cadence is exactly such a loop,
    application.properties:10,12 — 30 s softCommit/commit).

    Each iteration re-resolves the source catalog via
    ``tables_provider`` and compiles/evaluates the inner expression
    FRESH, so a parquet-backed source picks up files written since the
    last run — maintain-don't-rebuild as a loop. ``run_once()`` is the
    deterministic unit tests drive; ``start()``/``stop()`` wrap it in a
    daemon thread for wall-clock intervals. The iteration forces the
    expression with collect(), which is bounded for the intended
    daemon body (update()'s 1-row summary); a daemon over a huge
    SELECT would be the caller's misuse, as in Solr."""

    def __init__(
        self,
        daemon_id: str,
        inner: Call,
        tables_provider,
        run_interval_ms: int,
        text_fields: set[str] | None,
        sink_paths: dict[str, str],
        max_rows: int = 100_000,
    ):
        self.daemon_id = daemon_id
        self._inner = inner
        self._tables_provider = tables_provider
        self.run_interval_ms = run_interval_ms
        self._text_fields = text_fields
        self._sink_paths = sink_paths
        self.max_rows = max_rows
        self.iterations = 0
        self.last_result = None
        self.last_error: Exception | None = None
        self._stop = None  # threading.Event while running

    @property
    def state(self) -> str:
        return "running" if self._stop is not None else "stopped"

    def run_once(self) -> list:
        compiler = StreamCompiler(
            self._tables_provider(),
            text_fields=self._text_fields,
            sink_paths=self._sink_paths,
        )
        # Same defensive cap as executor(): the intended daemon body
        # (update()'s 1-row summary) is tiny, but a daemon wrapping a
        # huge SELECT must fail loudly, not OOM the driver — raise
        # maxRows= on the daemon() call to run bigger bodies.
        frame = compiler._eval(self._inner)
        out = frame.limit(self.max_rows + 1).collect()
        if len(out) > self.max_rows:
            raise StreamExprError(
                f"daemon {self.daemon_id!r}: iteration produced more "
                f"than {self.max_rows} rows; pass maxRows=N to allow it"
            )
        self.iterations += 1
        self.last_result = out
        return out

    def start(self) -> None:
        import threading

        if self._stop is not None:
            return
        self._stop = threading.Event()
        stop = self._stop

        def _loop():
            # A failing iteration (e.g. the maxRows guard tripping) must
            # not kill the thread while state still reads 'running':
            # record the error, flip state to 'stopped', and exit the
            # loop — the handle stays inspectable via last_error.
            while not stop.wait(self.run_interval_ms / 1000.0):
                try:
                    self.run_once()
                except Exception as exc:  # noqa: BLE001 — surfaced via last_error
                    self.last_error = exc
                    stop.set()
                    if self._stop is stop:
                        self._stop = None
                    break

        self._thread = threading.Thread(target=_loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        if self._stop is None:
            return
        self._stop.set()
        self._thread.join(timeout=30)
        self._stop = None


def run_stream_expr(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    expression: str,
    text_fields: set[str] | None = None,
    sink_paths: dict[str, str] | None = None,
) -> DataFrame:
    """Parse + compile a streaming expression against the catalog.
    ``text_fields`` — columns with token-match semantics for bare ``q``
    values (None = the 'text'-column heuristic). ``sink_paths`` —
    collections the update() decorator may write back to (name →
    merge_upsert_parquet table path).

    SIDE EFFECTS: expressions containing ``update()`` (or a ``topic()``
    checkpoint advance) perform their writes HERE, during compilation —
    not lazily when the returned DataFrame is acted on. That mirrors
    Solr, where posting the expression to /stream runs it."""
    return StreamCompiler(
        tables, text_fields=text_fields, sink_paths=sink_paths
    ).compile(expression)
