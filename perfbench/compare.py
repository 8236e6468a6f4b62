#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

Usage:

    python3 perfbench/compare.py BASE.jsonl CHANGED.jsonl

Each file holds result records as run.py appends them to
.bench_build/results.jsonl (one JSON object per run). For every workload
and end-to-end metric it prints both medians, the change, and the bound
from BENCHMARK.json, and exits 1 if a metric got worse by more than its
bound. It refuses (exit 2) to compare runs whose environments differ
(core count, heap, Spark version, master, state provider, RocksDB
settings, Java version or run length) and runs whose correctness check
failed: a faster result that is wrong is not a gain.
"""
import json
import pathlib
import statistics
import sys

# Environment keys that must agree; commit, source digest and seed may differ.
ENV_KEYS = ("nproc", "max_heap_mb", "spark_version", "master", "state_provider",
            "rocksdb_changelog", "rocksdb_track_rows", "java", "seconds", "trace")


def load(path):
    runs = [json.loads(line) for line in pathlib.Path(path).read_text().splitlines() if line.strip()]
    if not runs:
        sys.exit(f"compare: no results in {path}")
    return runs


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    bench = json.loads((pathlib.Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    base, changed = load(argv[1]), load(argv[2])
    wrong = [r for r in base + changed
             if r["result"].get("correct") is not True or r["result"].get("failed") != 0]
    if wrong:
        print(f"compare: refusing to compare: {len(wrong)} run(s) failed their correctness check:",
              file=sys.stderr)
        for r in wrong:
            print(f"  workload={r['env'].get('workload')} seed={r['env'].get('seed')} "
                  f"failed={r['result'].get('failed')}", file=sys.stderr)
        return 2
    envs = {tuple((k, r["env"].get(k)) for k in ENV_KEYS) for r in base + changed}
    if len(envs) != 1:
        print("compare: refusing to compare results from different environments:", file=sys.stderr)
        for e in sorted(envs):
            print("  " + ", ".join(f"{k}={v}" for k, v in e), file=sys.stderr)
        return 2
    worse = 0
    workloads = sorted({r["env"]["workload"] for r in base} & {r["env"]["workload"] for r in changed})
    for wl in workloads:
        for m in bench["end_to_end"]:
            def values(runs):
                return [r["result"]["metrics"][m["name"]]["value"] for r in runs
                        if r["env"]["workload"] == wl and m["name"] in r["result"]["metrics"]]
            a, b = values(base), values(changed)
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            change = (mb - ma) / ma
            loss = change if m["better"] == "lower" else -change
            flag = "WORSE" if loss > m["bound"] else ""
            worse += bool(flag)
            print(f"{wl:17} {m['name']:17} {ma:14.4f} {mb:14.4f} {change:+8.1%} "
                  f"bound {m['bound']:.0%} n={len(a)}/{len(b)} {flag}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
