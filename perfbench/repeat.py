"""Run the pass benchmark over several seeds and report each metric's
median and spread (the distance between the first and third quartile as
a share of the median, with statistics.quantiles(n=4)).

    python3 perfbench/repeat.py --workloads hourly_scan,alert_storm \\
        --seeds 1-10 --trace 0 --out results.jsonl

Every run is appended to --out (see run.py --record), so two such files,
e.g. of a parent commit and a change, can be compared with compare.py.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def seeds(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def summarize(records: list, bounds: dict) -> None:
    by = {}
    for r in records:
        for name, m in r["result"]["metrics"].items():
            by.setdefault((r["workload"], name), []).append(m["value"])
    for (w, name), vs in sorted(by.items()):
        if len(vs) < 2:
            continue
        b = bounds.get(name)
        s = spread(vs)
        flag = "" if b is None else ("  OK" if s < b / 3 else "  WIDE" if s > b else "  >1/3 bound")
        print(f"{w:14} {name:28} median {statistics.median(vs):14.6g} spread {s:7.4f}"
              + ("" if b is None else f" bound {b}") + flag)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    failed = 0
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                "--trace", a.trace, "--record", a.out],
                               stdout=subprocess.PIPE, text=True)
            last = r.stdout.strip().splitlines()[-1:] or ["(no output)"]
            print(f"{w} seed {s}: exit {r.returncode} {last[0][:160]}", flush=True)
            failed += r.returncode != 0
    records = [json.loads(l) for l in open(a.out)]
    summarize([r for r in records if r["trace"] == int(a.trace)], bounds)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
