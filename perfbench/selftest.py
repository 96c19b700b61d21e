"""The benchmark's own self-test.

    python3 perfbench/selftest.py [--seed N] [--engine]

1. Inputs: generating twice with the same seed gives identical corpus,
   embeddings, mutation stream and request mixes; another seed changes
   every one of them.
2. With ``--engine``: two traced runs of ``search`` and of ``ingest``
   with the same seed and a fixed operation count give identical answer
   hashes, committed state and exact counts (Spark jobs per request and
   per batch, index bytes).

Exits 0 when every check holds.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

EXACT = {
    "search": ["answers_sha", "api.search.jobs", "search.ranking.bm25.jobs",
               "pipeline.similarity.knn.jobs", "pipeline.dedup.neardup.jobs",
               "index_bytes_per_doc_byte", "store.bytes"],
    "ingest": ["answers_sha", "state_sha", "streaming.batch.jobs", "streaming.batch.cells",
               "index_bytes_per_doc_byte", "store.bytes"],
}


def input_prints(seed: int) -> dict[str, str]:
    inputs = gen.Inputs(seed)
    docs = gen.fingerprint(inputs.docs)
    emb = gen.fingerprint(inputs.embeddings)
    batches = gen.fingerprint(inputs.batches())
    return {
        "corpus": docs, "embeddings": emb, "batches": batches,
        "requests": gen.fingerprint(inputs.requests(gen.MIX)),
        "live_requests": gen.fingerprint(inputs.requests(gen.LIVE_MIX)),
    }


def run_values(workload: str, seed: int, max_ops: int) -> dict[str, str]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "150", "--trace", "1", "--max-ops", str(max_ops)],
        capture_output=True, text=True, timeout=600, check=False)
    if out.returncode:
        raise RuntimeError(f"{workload} run failed:\n{out.stderr[-2000:]}")
    vals = {}
    for line in out.stdout.splitlines()[:-1]:
        parts = line.split()
        if len(parts) >= 2:
            vals[parts[0]] = parts[1]
    return vals


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--engine", action="store_true", help="also compare two engine runs")
    args = p.parse_args()
    ok = True

    a, b, c = input_prints(args.seed), input_prints(args.seed), input_prints(args.seed + 1)
    for k in a:
        same, differs = a[k] == b[k], a[k] != c[k]
        ok &= same and differs
        print(f"inputs {k}: same seed identical={same}, other seed differs={differs}")

    if args.engine:
        # 11 search requests: one interleave cycle, every type traced once
        for workload, n in (("search", 11), ("ingest", 3)):
            r1 = run_values(workload, args.seed, n)
            r2 = run_values(workload, args.seed, n)
            for k in EXACT[workload]:
                same = k in r1 and r1.get(k) == r2.get(k)
                ok &= same
                print(f"{workload} {k}: {r1.get(k)} vs {r2.get(k)} identical={same}")
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
