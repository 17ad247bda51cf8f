"""Compare two result sets of the pass benchmark (files written by
run.py --record or repeat.py), e.g. two runs of one commit, or a parent
(A) and a change (B).

    python3 perfbench/compare.py parent.jsonl change.jsonl

For each workload and metric it prints both medians and quartiles, the
wins of B over A (runs paired in seed order; ties count for neither) and
a verdict:
  better       B wins >= 9/10 of the pairs and the medians differ by more
               than A's quartile distance (or every B run beats every A run)
  unresolved   a side's spread (quartile distance / median) exceeds the bound
  worse        B's median is worse than A's by more than the bound
  within bound otherwise
Per-layer metrics have no bound; their verdict is the win count alone.
It also checks that runs of the same workload and seed agree exactly on
the deterministic notes: feed fingerprint, rows per landing, emitted
alerts and the traced run's counters.
"""
import json
import statistics
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
EXACT = ("feed_fingerprint", "landing_rows", "emitted_per_pass", "deterministic_counters")


def load(path: str) -> list:
    return [json.loads(l) for l in open(path) if l.strip()]


def quartiles(vs: list) -> tuple:
    if len(vs) < 2:
        return vs[0], vs[0], vs[0]
    q1, med, q3 = statistics.quantiles(vs, n=4)
    return q1, med, q3


def verdict(a: list, b: list, lower: bool, bound) -> tuple:
    better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
    pairs = list(zip(a, b))
    wins = sum(better(y, x) for x, y in pairs)
    qa, qb = quartiles(a), quartiles(b)
    all_better = all(better(y, x) for x in a for y in b)
    if all_better or (wins >= 0.9 * len(pairs) and abs(qb[1] - qa[1]) > qa[2] - qa[0]):
        return wins, len(pairs), "better"
    if bound is None:
        return wins, len(pairs), "-"
    spread = max((q[2] - q[0]) / q[1] if q[1] else float("inf") for q in (qa, qb))
    if spread > bound:
        return wins, len(pairs), "unresolved"
    worse = (qb[1] - qa[1]) / qa[1] if lower else (qa[1] - qb[1]) / qa[1]
    return wins, len(pairs), "worse" if worse > bound else "within bound"


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    ra, rb = load(sys.argv[1]), load(sys.argv[2])
    keys = sorted({(r["workload"], r["trace"]) for r in ra} & {(r["workload"], r["trace"]) for r in rb})
    bad = 0
    for w, t in keys:
        sa = sorted((r for r in ra if (r["workload"], r["trace"]) == (w, t)), key=lambda r: r["seed"])
        sb = sorted((r for r in rb if (r["workload"], r["trace"]) == (w, t)), key=lambda r: r["seed"])
        print(f"== {w} (trace {t}): A {len(sa)} runs, B {len(sb)} runs")
        for name in sa[0]["result"]["metrics"]:
            m = meta.get(name, {"better": "lower"})
            a = [r["result"]["metrics"][name]["value"] for r in sa]
            b = [r["result"]["metrics"][name]["value"] for r in sb]
            wins, n, v = verdict(a, b, m["better"] == "lower", m.get("bound"))
            qa, qb = quartiles(a), quartiles(b)
            bad += v == "worse"
            print(f"  {name:28} A {qa[1]:12.6g} [{qa[0]:.6g}, {qa[2]:.6g}]"
                  f"  B {qb[1]:12.6g} [{qb[0]:.6g}, {qb[2]:.6g}]  B wins {wins}/{n}  {v}")
        for r in sa:
            twins = [x for x in sb if x["seed"] == r["seed"]]
            for x in twins:
                na = [l for l in r["notes"] if l.startswith(EXACT)]
                nb = [l for l in x["notes"] if l.startswith(EXACT)]
                if na != nb:
                    bad += 1
                print(f"  seed {r['seed']}: deterministic notes {'identical' if na == nb else 'DIFFER'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
