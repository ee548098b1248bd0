"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload chat --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark if needed (perfbench/build.py), runs the
workload in one JVM on local[nproc] with one client thread, and prints as the
last line of stdout one JSON object: correct, attempted, failed and the
metrics named in BENCHMARK.json (end_to_end with --trace 0, per_layer with
--trace 1). The line before it carries environment stamps and run facts.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
# the JVM's limit; a build, done only by the first run in a checkout, comes on top
TIMEOUT_S = 170

# Inputs per workload; NOTES.md gives the reasons and their size against the heap.
SIZES = {
    "chat": ["--docs", "400", "--questions", "40"],
    "ingest": ["--docs", "200", "--batch", "60"],
    "curate": ["--docs", "1200"],
}
SETUP_REPS = 3


def stamps():
    """nproc, 1-min loadavg, CPU pressure (PSI 'some' avg10 and total) and
    the CPU jiffies /proc/stat counts as total and as stolen by the host."""
    out = {"nproc": len(os.sched_getaffinity(0))}
    try:
        cpu = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
        out["cpu_jiffies"] = sum(cpu)
        out["steal_jiffies"] = cpu[7]
    except (OSError, IndexError, ValueError):
        pass
    try:
        out["loadavg1"] = float(Path("/proc/loadavg").read_text().split()[0])
    except OSError:
        pass
    try:
        some = Path("/proc/pressure/cpu").read_text().splitlines()[0].split()
        kv = dict(x.split("=") for x in some[1:])
        out["psi_cpu_some_avg10"] = float(kv["avg10"])
        out["psi_cpu_some_total_us"] = int(kv["total"])
    except (OSError, IndexError, KeyError, ValueError):
        pass
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    t_start = time.monotonic()
    target = build.build()
    env_start = stamps()

    work = ROOT / ".bench_build" / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    nproc = env_start["nproc"]
    cmd = build.java_cmd(target, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(nproc), "--work", str(work),
        "--out", str(result), "--setup-reps", str(SETUP_REPS)] + SIZES[a.workload]
    log_path = ROOT / ".bench_build" / f"{a.workload}.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: {a.workload} timed out; see {log_path}")
    if rc != 0 or not result.exists():
        sys.stderr.write(log_path.read_text()[-4000:])
        raise SystemExit(f"perfbench: {a.workload} exited with {rc}; see {log_path}")
    res = json.loads(result.read_text())
    trace = work / "trace.jsonl"
    if trace.exists():
        shutil.copy(trace, ROOT / ".bench_build" / f"trace-{a.workload}-{a.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if a.trace else "end_to_end"
    measured = res[kind]
    metrics = {}
    for m in spec[kind]:
        if m["name"] in measured and measured[m["name"]] is not None:
            v = measured[m["name"]]
        elif kind == "per_layer":
            v = 0.0  # a layer this workload does not call
        else:
            raise SystemExit(f"perfbench: {a.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed = int(res["failed"])
    env_end = dict(stamps(), run_wall_s=time.monotonic() - t_start)
    if "cpu_jiffies" in env_end and "cpu_jiffies" in env_start:
        env_end["steal_share"] = ((env_end["steal_jiffies"] - env_start["steal_jiffies"])
                                  / max(1, env_end["cpu_jiffies"] - env_start["cpu_jiffies"]))
    print(json.dumps({"env": {"start": env_start, "end": env_end}, "info": res["info"],
                      "checks": res["checks"], "ops_ms": res["ops_ms"]}))
    print(json.dumps({"correct": failed == 0, "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
