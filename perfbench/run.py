"""Benchmark entry point.

    python3 perfbench/run.py --workload search|ingest|ingest_search \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Generates the seeded inputs,
sets up a Spark session and bulk-builds the index, measures the
workload for ``--seconds``, checks
every answer, and prints one ``name value unit`` line per metric
followed, as the last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the JSON holds the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics (Spark event log on, spans around
every layer call).

Scratch files live under ``.perfbench_work/`` in the checkout and are
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time

T0 = time.perf_counter()
PHASES: dict[str, float] = {}  # phase name -> perf_counter at its end, for the stderr summary
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "hbase_increment_index_spark"

# ----------------------------------------------------------- run environment
# Pinned identically for every run; perfbench/README.md records the same values.
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"
TRIGGER_SECONDS = None  # next micro-batch starts as soon as the previous one ends
READERS = 2
WRITER_PERIOD_S = 10.0
WARM_BATCHES = 1  # untimed batches before the measured ones
#: ``ingest`` measures at least this many commits and takes op_cpu_s from
#: exactly these (their mean), so every run's figure covers the same commits
MEASURED_COMMITS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["search", "ingest", "ingest_search"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--max-ops", type=int, default=0,
                   help="search/ingest: stop after this many requests or batches (self-test)")
    return p.parse_args(argv)


def pin_environment(work: str, trace: bool) -> None:
    """Spark settings of the run; set before the JVM starts."""
    for d in ("tmp", "spark-local", "eventlog", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    # the JVM spark-submit starts to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData: no hsperfdata file outside the checkout;
        # -XX:-UseDynamicNumberOfCompilerThreads: JIT compiler threads
        # live as long as the JVM, so cpu_s can leave out all their CPU
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                                         "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = f"file://{work}/eventlog"
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


# ------------------------------------------------- CPU and memory of the run

#: processes whose CPU and memory count: this one, from session start the
#: JVM, and from the end of warm-up every descendant (the JVM and any
#: Python workers it started). Found by one scan of /proc, so sampling
#: reads only these processes' own files.
PIDS: list[int] = [os.getpid()]


def find_pids() -> None:
    PIDS[:] = sorted(_tree(os.getpid()))


class RssSampler(threading.Thread):
    """Peak resident memory of the processes in PIDS, sampled every
    100 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.wait(0.1):
            self.peak_kb = max(self.peak_kb, rss_kb(PIDS))

    def stop(self):
        self._stop_evt.set()
        self.join()


def _tree(root: int) -> set[int]:
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def rss_kb(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total


#: JVM threads whose CPU op CPU leaves out: the JIT compilers. Their work
#: tracks how warm the JVM is, not the operation: over the first three
#: measured commits of ``ingest`` it fell from 8.3 to 3.0 to 2.0 CPU
#: seconds while the rest of the process stayed at 6.4-6.7.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
_jit_ticks: dict[tuple[int, str], int] = {}  # last CPU seen per compiler thread, kept after it exits


def cpu_s(pids: list[int]) -> float:
    """CPU seconds (user + system, all threads, and of reaped children)
    used so far by the processes ``pids``, less their JIT compiler
    threads."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            tids = os.listdir(f"/proc/{pid}/task")
        except (OSError, IndexError, ValueError):
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    st = fh.read()
            except OSError:
                continue
            if st[st.index("(") + 1:].startswith(JIT_THREADS):
                f = st.rsplit(")", 1)[1].split()
                _jit_ticks[(pid, tid)] = int(f[11]) + int(f[12])
    return (total - sum(_jit_ticks.values())) / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ helpers

def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


def dir_stats(dirs: list[str]) -> tuple[int, int]:
    files = size = 0
    for d in dirs:
        for base, _sub, names in os.walk(d):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(base, n))
    return files, size


class Run:
    """State shared by the phases of one run."""

    def __init__(self, args, work):
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.metrics: dict[str, tuple[float, str]] = {}
        self.ops: list[dict] = []  # every timed operation: kind, lat, ok, error, traced
        self.notes: list[str] = []

    def put(self, name, value, unit):
        self.metrics[name] = (value, unit)


# -------------------------------------------------------------------- setup

def setup(run: Run, aux: bool):
    """Session start, corpus generation, the bulk build of the index
    (loading the corpus) and, with ``aux``, of the read-only serving
    stores. ``setup_s`` leaves out the generation. Each is
    done once, in a fresh JVM, as a user's process would: a repeated
    build in the same process runs warm and measures something else."""
    import engine
    import gen
    import tracing

    t = time.perf_counter()
    from hbase_increment_index_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.range(1).count()
    session_s = time.perf_counter() - t
    PIDS.append(spark.sparkContext._gateway.proc.pid)
    if run.trace:
        tracing.enable(spark.sparkContext)
    run.spark = spark

    t = time.perf_counter()
    inputs = gen.Inputs(run.args.seed)
    paths = engine.write_inputs(inputs, f"{run.work}/inputs")
    corpus_gen_s = time.perf_counter() - t
    run.inputs = inputs

    idx = engine.Index(f"{run.work}/index/docs")
    t = time.perf_counter()
    engine.build(spark, paths, idx)
    build_s = time.perf_counter() - t
    aux_t: dict[str, float] = {}
    if aux:
        engine.build_aux(spark, paths, idx, aux_t)
    # the benchmark's own input generation is not the program's set-up
    run.put("setup_s", session_s + build_s + sum(aux_t.values()), "s")
    PHASES["setup"] = time.perf_counter()
    run.setup = {"session_s": session_s, "corpus_gen_s": corpus_gen_s,
                 "bootstrap_commit_s": build_s,
                 **{k: aux_t.get(k, 0.0) for k in ("positional_s", "ann_s", "shingle_s")}}
    return idx


# ------------------------------------------------------------------ checks

class Checker:
    """Answers of every index version the run can observe: version v is
    the base corpus with the first v mutation batches applied."""

    def __init__(self, inputs, batches=()):
        import gen
        import oracle

        self.oracle = oracle
        self.batches = list(batches)
        self._fold = gen.Fold(inputs.docs)
        self._applied = 0
        self._versions = {}
        self._tok_cache = {}
        base = oracle.Corpus({k: d for k, d in inputs.docs.items()}, self._tok_cache)
        self._versions[0] = base
        self.base = base
        self.shingles = {k: oracle.shingle_set(d["text"]) for k, d in inputs.docs.items()}
        import engine

        self.vectors = oracle.Vectors(inputs.embeddings, engine.PQ_SEEDS, engine.KNN["m"])
        self.knn = engine.KNN

    def version(self, v: int):
        while self._applied < v:
            self._fold.apply(self.batches[self._applied])
            self._applied += 1
            self._versions[self._applied] = self.oracle.Corpus(self._fold.docs(), self._tok_cache)
        return self._versions[v]

    def check(self, req, ans, lo=0, hi=0) -> bool:
        """True iff ``ans`` is right for some version in [lo, hi]. The
        stores the stream does not maintain (positional, IVF-PQ,
        shingles) always answer for the base corpus."""
        o = self.oracle
        kind = req["type"]
        if kind == "knn":
            return o.check_knn(self.vectors, req["vec"], ans, **self.knn)
        if kind == "neardup":
            return o.check_neardup(self.shingles, req["text"], ans)
        if kind == "phrase":
            return o.check_phrase(self.base, req["words"], ans)
        for v in range(lo, hi + 1):
            c = self.version(v)
            if kind == "bm25" and o.check_bm25(c, req["terms"], ans):
                return True
            if kind == "select" and o.check_select(c, req, *ans):
                return True
        return False


def timed(run: Run, srv, req, kind=None, traced=False, **extra):
    """Run one request; record its latency, CPU and outcome. The CPU is
    the request's own only while no other thread is busy (``search``)."""
    import tracing

    rec = {"kind": kind or req["type"], "req": req, "traced": traced, "t0": time.time(), **extra}
    tracing.set_active(traced)
    tracing.request(f"{rec['kind']}@{rec['t0']:.6f}")
    c = cpu_s(PIDS)
    t = time.perf_counter()
    try:
        rec["ans"] = srv.run(req)
        rec["error"] = None
    except Exception as e:  # noqa: BLE001 — a failed request is a measured outcome
        rec["ans"] = None
        rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
    rec["lat"] = time.perf_counter() - t
    rec["cpu"] = cpu_s(PIDS) - c
    tracing.set_active(False)
    return rec


def warm_up(run: Run, srv, mix, per_type: int = 1):
    """Untimed requests of each type, so code generation and JIT
    warm-up are not measured."""
    seen: dict[str, int] = {}
    for req in run.inputs.requests(mix, 200, salt="warm-up"):
        if seen.get(req["type"], 0) < per_type:
            seen[req["type"]] = seen.get(req["type"], 0) + 1
            srv.run(req)


# ---------------------------------------------------------------- workloads

def workload_search(run: Run):
    """Closed loop, one client, read-only index."""
    import engine
    import gen

    idx = setup(run, aux=True)
    srv = engine.Server(run.spark, idx, live=False)
    checker = Checker(run.inputs)
    warm_up(run, srv, gen.MIX)
    find_pids()
    reqs = run.inputs.requests(gen.MIX)
    PHASES["warm_up"] = time.perf_counter()
    run.t_start = time.time()
    deadline = time.perf_counter() + run.args.seconds
    cycle = sum(gen.MIX.values())  # at least one whole interleave cycle, so every type runs
    seen = dict.fromkeys(gen.MIX, 0)
    i = 0
    while (time.perf_counter() < deadline or i < cycle) and not (
            run.args.max_ops and i >= run.args.max_ops):
        req = reqs[i % len(reqs)]
        # traced runs trace every other request of each type, its first included
        run.ops.append(timed(run, srv, req, traced=run.trace and seen[req["type"]] % 2 == 0))
        seen[req["type"]] += 1
        i += 1
    run.t_end = time.time()
    PHASES["measure"] = time.perf_counter()
    for rec in run.ops:
        rec["ok"] = rec["error"] is None and checker.check(rec["req"], rec["ans"])
    run.knn_recall = [checker.oracle.knn_recall(checker.vectors, r["req"]["vec"], r["ans"])
                      for r in run.ops if r["kind"] == "knn" and r["error"] is None]
    run.live_docs = run.inputs.docs
    run.idx = idx


def workload_ingest(run: Run, readers: int = 0):
    """``readers == 0``: closed-loop writer — the next batch is dropped
    once a read-your-writes probe sees the previous one.
    ``readers > 0``: open-loop writer (one batch every WRITER_PERIOD_S,
    visibility timed from when the batch was due) beside ``readers``
    closed-loop reader threads on the live index."""
    import engine
    import gen
    import tracing

    idx = setup(run, aux=False)
    batches = run.inputs.batches()
    checker = Checker(run.inputs, batches)
    srv = engine.Server(run.spark, idx, live=True)
    if run.trace:
        from hbase_increment_index_spark.streaming import cdc_stream

        tracing.wrap(cdc_stream, "merge_microbatch", "streaming.batch")
        tracing.wrap(cdc_stream, "merge_state", "cdc.merge_state")
    stream = engine.Stream(run.spark, idx, f"{run.work}/stream", TRIGGER_SECONDS)
    run.idx = idx
    run.batches = batches
    run.cell_bytes = 0

    # warm-up, untimed: the first WARM_BATCHES batches with their probes
    for b in range(WARM_BATCHES):
        stream.drop(batches[b])
        if not stream.wait(b + 1, 60):
            raise RuntimeError(f"warm-up batch not committed: {stream.query.exception()}")
        srv.run({"type": "bm25", "terms": [run.inputs.marker(b)]})
    if readers:
        warm_up(run, srv, gen.LIVE_MIX)
    find_pids()

    PHASES["warm_up"] = time.perf_counter()
    run.cpu_start = cpu_s(PIDS)
    run.t_start = time.time()
    t0 = time.perf_counter()
    deadline = t0 + run.args.seconds
    commits = []  # (batch, due, visible) for every probed batch
    lock = threading.Lock()

    def probe_batch(b, due, traced, commit_cpu=None):
        req = {"type": "bm25", "terms": [run.inputs.marker(b)]}
        rec = timed(run, srv, req, kind="probe", traced=traced,
                    lo=b + 1, hi=stream.n_files, batch=b, commit_cpu=commit_cpu)
        rec["visible"] = time.perf_counter() - due
        with lock:
            run.ops.append(rec)
        commits.append(rec)

    def writer_closed():
        b = WARM_BATCHES
        while (time.perf_counter() < deadline or b < WARM_BATCHES + MEASURED_COMMITS) \
                and b < len(batches):
            if run.args.max_ops and b >= WARM_BATCHES + run.args.max_ops:
                break
            due = time.perf_counter()
            cpu0 = cpu_s(PIDS)
            run.cell_bytes += stream.drop(batches[b])
            if not stream.wait(b + 1, 60):
                run.notes.append(f"batch {b} not committed within 60 s")
                break
            # CPU of the commit alone (drop -> committed); the probe is a read
            probe_batch(b, due, run.trace and b % 2 == 0, cpu_s(PIDS) - cpu0)
            b += 1

    def writer_open():
        due_at = {}
        b = probed = WARM_BATCHES
        while time.perf_counter() < deadline:
            now = time.perf_counter()
            due = t0 + (b - WARM_BATCHES) * WRITER_PERIOD_S
            if b < len(batches) and now >= due:
                due_at[b] = due
                run.cell_bytes += stream.drop(batches[b])
                run.writer_late.append(now - due_at[b])
                b += 1
            elif probed < b and stream.committed() >= probed + 1:
                probe_batch(probed, due_at[probed], run.trace and probed % 2 == 0)
                probed += 1
            else:
                time.sleep(0.005)

    def reader(reqs):
        i = 0
        while time.perf_counter() < deadline:
            req = reqs[i % len(reqs)]
            lo = stream.committed()
            rec = timed(run, srv, req, traced=run.trace and i % 2 == 0, lo=lo)
            rec["hi"] = stream.n_files
            with lock:
                run.ops.append(rec)
            i += 1

    run.writer_late = []
    threads = []
    if readers:
        reqs = run.inputs.requests(gen.LIVE_MIX)
        threads = [threading.Thread(target=reader, args=(reqs[r::readers],))
                   for r in range(readers)]
        threads.append(threading.Thread(target=writer_open))
    else:
        threads.append(threading.Thread(target=writer_closed))
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    run.t_end = time.time()
    run.cpu_end = cpu_s(PIDS)
    PHASES["measure"] = time.perf_counter()
    run.loop_s = time.perf_counter() - t0
    run.commits = commits

    # drain: every dropped batch must commit before the final-state check
    if not stream.wait(stream.n_files, 60):
        run.notes.append("stream did not drain within 60 s")
    run.progress = stream.progress()
    stream.stop()
    for rec in run.ops:
        rec["ok"] = rec["error"] is None and checker.check(
            rec["req"], rec["ans"], rec.get("lo", 0), rec.get("hi", 0))
    run.live_docs = checker.version(stream.n_files).docs
    run.final_ok = final_state_check(run, checker.version(stream.n_files))


def final_state_check(run: Run, corpus) -> bool:
    """Committed documents, postings and facet counts must equal the
    generator's expected final state."""
    from collections import Counter

    spark = run.spark
    idx = run.idx
    docs = {r["id"]: {q: r[q] for q in ("text", "source", "lang", "n_chars")}
            for r in spark.read.parquet(idx.base).collect()}
    want = {k: {q: d[q] for q in ("text", "source", "lang", "n_chars")}
            for k, d in corpus.docs.items()}
    ok = docs == want
    run.state_sha = fingerprint(sorted(docs.items()))
    if not ok:
        run.notes.append(f"final docs differ: {len(docs)} vs {len(want)} expected")
    post = spark.read.parquet(idx.postings).toArrow()
    got = set(zip(post.column("term").to_pylist(), post.column("id").to_pylist(),
                  post.column("tf").to_pylist()))
    exp = {(t, k, n) for k in corpus.docs for t, n in corpus.tf(k).items()}
    if got != exp:
        ok = False
        run.notes.append(f"final postings differ: {len(got ^ exp)} rows")
    fac = {r["facet_value"]: r["n"] for r in spark.read.parquet(idx.facets).collect()}
    if fac != dict(Counter(d["source"] for d in corpus.docs.values())):
        ok = False
        run.notes.append("final facet counts differ")
    return ok


# ------------------------------------------------------------------ metrics

def end_to_end(run: Run):
    """The user-facing metrics. ``op_cpu_s`` is CPU seconds of the
    process tree (python + JVM) per operation: on ``search`` the
    MIX-weighted mean of each request type's median CPU per request, so
    the figure weighs the types the same however many requests a run
    fits; on ``ingest`` the mean over the first MEASURED_COMMITS
    batches, each from file drop to commit; on ``ingest_search`` the
    window's CPU per read."""
    import gen

    w = run.args.workload
    untraced = [r for r in run.ops if not r["traced"]]
    reads = [r for r in untraced if r["kind"] != "probe"] if w != "ingest" else untraced
    lats = [r["lat"] for r in reads if r["ok"]]
    window = run.t_end - run.t_start
    if lats:
        run.put("search_p50_s", statistics.median(lats), "s")
        tail = tail_percentile(len(lats))
        if tail:
            run.put(f"search_p{tail}_s", pct(lats, tail / 100), "s")
        run.put("search_rps", len(lats) / window, "req/s")
        run.put("search_samples", float(len(lats)), "count")
    if w == "search":
        for kind in gen.MIX:
            ks = [r["lat"] for r in reads if r["ok"] and r["kind"] == kind]
            if ks:
                run.put(f"{kind}_p50_s", statistics.median(ks), "s")
        for kind in gen.MIX:
            ks = [r["cpu"] for r in reads if r["error"] is None and r["kind"] == kind]
            if ks:
                run.put(f"{kind}_cpu_s", statistics.median(ks), "s")
        if run.knn_recall:
            run.put("knn_recall", statistics.mean(run.knn_recall), "ratio")
        if all(f"{k}_cpu_s" in run.metrics for k in gen.MIX):
            run.put("op_cpu_s", sum(w_ * run.metrics[f"{k}_cpu_s"][0] for k, w_ in gen.MIX.items())
                    / sum(gen.MIX.values()), "s")
    else:
        vis = [c["visible"] for c in run.commits if c["ok"] and not c["traced"]]
        if vis:
            run.put("visible_p50_s", statistics.median(vis), "s")
        if run.commits:
            cells = sum(len(run.batches[c["batch"]]) for c in run.commits)
            run.put("ingest_cells_per_s", cells / run.loop_s, "cells/s")
        if run.writer_late:
            run.put("writer_late_p50_s", statistics.median(run.writer_late), "s")
    if w == "ingest":
        cpus = [c["commit_cpu"] for c in run.commits[:MEASURED_COMMITS] if not c["traced"]]
        if cpus:
            run.put("op_cpu_s", statistics.mean(cpus), "s")
    elif w == "ingest_search":
        n_ops = len([r for r in run.ops if r["kind"] != "probe"])
        if n_ops:
            run.put("op_cpu_s", (run.cpu_end - run.cpu_start) / n_ops, "s")
    _files, size = dir_stats(run.idx.dirs())
    text_bytes = sum(len(d["text"].encode()) for d in run.live_docs.values())
    run.put("index_bytes_per_doc_byte", size / text_bytes, "ratio")
    final = 0 if w == "search" else 1  # the end-of-run state check counts as one operation
    attempted = len(run.ops) + final
    failed = sum(1 for r in run.ops if not r["ok"]) + (final and not run.final_ok)
    run.put("failed_frac", failed / attempted, "ratio")
    return attempted, failed


def fingerprint(obj) -> str:
    import gen

    return gen.fingerprint(obj)


def tail_percentile(n: int) -> int:
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    for q in (99, 95, 90, 75):
        if n - -(-q * n // 100) >= 10:
            return q
    return 0


def per_layer(run: Run):
    import tracing

    spark_log = run.event_log
    # spans of the measured window only: warm-up calls run cold
    spans = [s for s in tracing.SPANS
             if s["end"] is not None and run.t_start <= s["start"] <= run.t_end]
    attr = tracing.attribute(spans, spark_log)
    selft = tracing.self_times(spans)

    def by(name):
        return [dict(attr[s["id"]], self_s=selft[s["id"]]) for s in spans if s["name"] == name]

    def med(xs, key):
        return statistics.median(x[key] for x in xs) if xs else 0.0

    def mean(xs, key):
        return sum(x[key] for x in xs) / len(xs) if xs else 0.0

    for name, keys in LAYER_SPANS.items():
        xs = by(name)
        for k in keys:
            unit = "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count")
            val = med(xs, k) if k.endswith("_s") else mean(xs, k)
            run.put(f"{name}.{k}", val, unit)
    # self time: span time not covered by child spans (parse, facet collection)
    run.put("api.search.self_s", med(by("api.search"), "self_s"), "s")
    run.put("search.solr_query.parse_s", med(by("search.solr_query.parse"), "wall_s"), "s")
    run.put("cdc.merge_state.plan_s", med(by("cdc.merge_state"), "wall_s"), "s")

    batches = by("streaming.batch")
    prog = getattr(run, "progress", []) or []
    in_window = [p for p in prog if p.get("batchId", 0) >= WARM_BATCHES]
    cells = [len(run.batches[c["batch"]]) for c in getattr(run, "commits", [])]
    cell_mean = statistics.mean(cells) if cells else 0.0
    run.put("streaming.batch.cells", cell_mean, "count")
    # the fold re-evaluates its input several times; the source counts every read
    run.put("streaming.batch.source_rows_per_cell",
            statistics.mean(p["numInputRows"] for p in in_window) / cell_mean
            if in_window and cell_mean else 0.0, "ratio")
    for key, dur in (("trigger_s", "triggerExecution"), ("add_batch_s", "addBatch"),
                     ("latest_offset_s", "latestOffset"), ("wal_commit_s", "walCommit")):
        vals = [p["durationMs"].get(dur, 0) / 1000 for p in in_window]
        run.put(f"streaming.progress.{key}", statistics.median(vals) if vals else 0.0, "s")
    out_bytes = sum(b["output_bytes"] for b in batches)
    in_bytes = getattr(run, "cell_bytes", 0)
    traced_share = len(batches) / max(1, len(in_window))
    run.put("store.bytes_written_per_input_byte",
            out_bytes / (in_bytes * traced_share) if in_bytes and batches else 0.0, "ratio")
    files, size = dir_stats(run.idx.dirs())
    run.put("store.files", float(files), "count")
    run.put("store.bytes", float(size), "bytes")

    t0, t1 = run.t_start, run.t_end
    jobs = [j for j in spark_log["jobs"].values() if t0 <= j["start"] <= t1]
    window = t1 - t0
    run.put("spark.jobs", float(len(jobs)), "count")
    run.put("spark.tasks", float(sum(j["tasks"] for j in jobs)), "count")
    run.put("spark.executor_cpu_s", sum(j["cpu_s"] for j in jobs), "s")
    run.put("spark.core_busy_frac", sum(j["run_s"] for j in jobs) / (CPUS * window), "ratio")
    run.put("spark.gc_s", sum(j["gc_s"] for j in jobs), "s")
    run.put("spark.shuffle_bytes", float(sum(j["shuffle_bytes"] for j in jobs)), "bytes")
    for k, v in run.setup.items():
        run.put(f"setup.{k}", v, "s")

    # tracing overhead: traced minus untraced requests of the same run
    kinds = ("probe",) if run.args.workload == "ingest" else None
    on = [r["lat"] for r in run.ops if r["ok"] and r["traced"] and (not kinds or r["kind"] in kinds)]
    off = [r["lat"] for r in run.ops if r["ok"] and not r["traced"] and (not kinds or r["kind"] in kinds)]
    if on and off:
        run.put("trace.overhead_s", statistics.median(on) - statistics.median(off), "s")
    else:
        run.put("trace.overhead_s", 0.0, "s")


LAYER_SPANS = {
    "api.search": ("wall_s", "driver_s", "jobs"),
    "search.ranking.bm25": ("wall_s", "driver_s", "jobs", "input_bytes"),
    "search.inverted.phrase": ("wall_s", "jobs", "input_bytes"),
    "search.facets": ("wall_s", "jobs"),
    "pipeline.similarity.knn": ("wall_s", "jobs", "files_read"),
    "pipeline.dedup.neardup": ("wall_s", "jobs", "files_read"),
    "streaming.batch": ("wall_s", "jobs", "tasks"),
}


# --------------------------------------------------------------------- main

def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: run from the root of a checkout; no {PACKAGE}/ in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work, bool(args.trace))
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)

    run = Run(args, work)
    sampler = RssSampler()
    sampler.start()
    try:
        if args.trace:
            _install_wrappers()
        if args.workload == "search":
            workload_search(run)
        else:
            workload_ingest(run, readers=READERS if args.workload == "ingest_search" else 0)
        PHASES["checks"] = time.perf_counter()
        attempted, failed = end_to_end(run)
        run.put("peak_rss_mb", sampler.peak_kb / 1024, "MB")
        run.spark.stop()  # flushes the event log
        PHASES["spark_stop"] = time.perf_counter()
        if args.trace:
            import tracing

            run.event_log = tracing.read_event_log(f"{work}/eventlog")
            per_layer(run)
    finally:
        sampler.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    print("wall_s " + " ".join(f"{k}={v - T0:.1f}" for k, v in PHASES.items())
          + f" end={time.perf_counter() - T0:.1f}", file=sys.stderr)
    for name, (value, unit) in run.metrics.items():
        print(f"{name} {value:.10g} {unit}")
    kinds = sorted({r["kind"] for r in run.ops})
    print("ops " + " ".join(
        f"{k}={sum(1 for r in run.ops if r['kind'] == k)}/{sum(1 for r in run.ops if r['kind'] == k and r['ok'])}ok"
        for k in kinds))
    if args.workload == "ingest":
        print("commit_cpu_s " + " ".join(f"{c['commit_cpu']:.2f}" for c in run.commits))
    if args.workload != "ingest_search":
        print(f"answers_sha {fingerprint([r['ans'] for r in run.ops])}")
    if hasattr(run, "state_sha"):
        print(f"state_sha {run.state_sha}")
    for note in run.notes:
        print(f"note: {note}")
    errors = sorted({r["error"] for r in run.ops if r["error"]})
    for e in errors[:5]:
        print(f"error: {e}")
    wanted = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    missing = [m for m in wanted if m not in run.metrics]
    if missing:
        print(f"error: metrics not measured: {missing}", file=sys.stderr)
        return 1
    wrong = sum(1 for r in run.ops if r["error"] is None and not r["ok"])
    correct = wrong == 0 and getattr(run, "final_ok", True)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m: {"value": run.metrics[m][0], "unit": run.metrics[m][1]} for m in wanted},
    }))
    return 0


def _install_wrappers():
    """Rebind the layer functions reached inside the engine's own calls."""
    import tracing

    from hbase_increment_index_spark.search import solr_query

    tracing.wrap(solr_query, "parse_query", "search.solr_query.parse")


def _stop_jvm() -> None:
    """Stop Spark if a failure left it running; the JVM exits when its
    stdin closes, so close it and wait."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    try:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
