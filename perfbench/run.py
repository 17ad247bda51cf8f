"""Product-path pass benchmark: one run of one workload.

    python3 perfbench/run.py --workload hourly_scan --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark (perfbench/build.py), then runs
perfbench.PassBench in one JVM with local[nproc]. Lines starting with
"# " are notes (feed fingerprint, tail percentile, counters); the last
line of stdout is the result JSON. Optional: --record FILE appends
{"workload", "seed", "trace", "result"} to FILE as one JSON line, the
input of perfbench/compare.py.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def expected_metrics(trace: bool) -> list:
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--record")
    a = ap.parse_args()

    classes = build.build()
    runs = build.target_dir() / "runs"
    work = runs / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work / 'local'}", f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-cp", build.classpath(classes), "perfbench.PassBench",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", str(work),
    ]
    log = work.parent / f"{work.name}.log"
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=work)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            print(f"perfbench: run exceeded {TIMEOUT_S} s; log {log}", file=sys.stderr)
            return 3
    if a.trace == "1" and (work / "spans.jsonl").is_file():
        shutil.copy(work / "spans.jsonl", runs / f"{a.workload}-s{a.seed}.spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write("".join(out))
        sys.stderr.write(log.read_text()[-4000:])
        print(f"perfbench: run failed ({p.returncode}); log {log}", file=sys.stderr)
        return p.returncode or 4
    result = json.loads(lines[-1])
    names = list(result["metrics"])
    want = expected_metrics(a.trace == "1")
    if names != want:
        print(f"perfbench: metrics {names} differ from BENCHMARK.json {want}", file=sys.stderr)
        return 5
    log.unlink()
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": int(a.trace),
                                "notes": [l[2:] for l in lines if l.startswith("# ")],
                                "result": result}) + "\n")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
