"""Benchmark entry point.

    python3 perfbench/run.py --workload <hit_stream|graph_dist>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the harness (perfbench/build.py)
when the sources changed, runs one workload in one JVM at local[4], checks
its outputs, prints every metric with its unit and, as the last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones. Everything it writes stays under perfbench/.build and
perfbench/.work.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("hit_stream", "graph_dist")
HEAP = "3g"
TIMEOUT_S = 170


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load1() -> float:
    return os.getloadavg()[0]


def revision() -> str:
    """git SHA when run inside a git checkout, else a digest of the
    program and benchmark sources."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    import build
    return "src-" + build.digest(build.sources())[:16]


def bench_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_harness(args, work: Path) -> dict:
    import build
    cmd = build.java(HEAP, "perfbench.Main",
                     ["--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds),
                      "--trace", str(args.trace), "--work", str(work)],
                     f"-XX:SharedArchiveFile={build.ARCHIVE}")
    cmd[1:1] = [f"-Djava.io.tmpdir={work / 'tmp'}"]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"harness exceeded {TIMEOUT_S} s")
    if proc.returncode != 0:
        raise SystemExit(f"harness exited with {proc.returncode}")
    for line in reversed(out.splitlines()):
        if line.startswith("PERFBENCH_RESULT "):
            return json.loads(line[len("PERFBENCH_RESULT "):])
    raise SystemExit("harness printed no result")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    env = {"workload": args.workload, "seed": args.seed,
           "nproc": os.cpu_count(), "load1_start": load1(),
           "driver_heap": HEAP}
    spec = bench_spec()
    import build
    build.build()
    env["revision"] = revision()
    env["busy"] = env["load1_start"] > 0.5 * env["nproc"]
    if env["busy"]:
        log(f"busy box: load1 {env['load1_start']:.2f} at start on "
            f"{env['nproc']} cpus; timings of this run are suspect")

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        res = run_harness(args, work)
        failures = list(res["failures"])
        attempted = int(res["attempted"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    env["load1_end"] = load1()

    want = spec["per_layer" if args.trace else "end_to_end"]
    have = {m["name"]: m for m in res["metrics"]}
    metrics = {}
    for m in want:
        got = have.get(m["name"])
        if got is None or got["value"] is None:
            failures.append(f"metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    for m in res["workload_metrics"] + res["metrics"]:
        print(f"{m['name']:<44} {m['value']!s:>24} {m['unit']}")
    for f in failures:
        print(f"FAILED: {f}")
    print("env " + json.dumps(env, sort_keys=True))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
