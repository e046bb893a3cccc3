#!/usr/bin/env python3
"""The repository's benchmark: one seeded closed-loop workload in one JVM.

    python3 perfbench/run.py --workload <ingest|read|table_ops|generic> \\
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the engine and the benchmark
from source into `.bench_build/` (the first run compiles), runs the
workload against the public calls of the engine with every answer
checked, and prints as its last stdout line one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json, with `--trace 1`
its per-layer metrics; the traced run also writes spans and a layer table
to `.bench_build/traces/`. The line before it carries the same run's
metrics under the workload's own names (see perfbench/README.md).

`--tiny 1` shrinks every input and `--plant-wrong 1` plants one wrong
expected value; both exist for perfbench/test_perfbench.py.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

WORKLOADS = ("ingest", "read", "table_ops", "generic")
# A run must end within 180 s of its start, build time excluded.
RUN_LIMIT_S = 165


def expected_metrics(trace):
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--tiny", type=int, default=0, choices=(0, 1))
    ap.add_argument("--plant-wrong", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    os.makedirs(build.BUILD, exist_ok=True)
    log_path = os.path.join(build.BUILD, f"last-{a.workload}.log")
    with open(log_path, "w") as log:
        try:
            built = build.build(log)
            want = expected_metrics(a.trace)
        except (build.BuildError, OSError, KeyError, ValueError, subprocess.SubprocessError) as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 2
        log.flush()
        work = os.path.join(build.BUILD, f"work-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        out = os.path.join(work, "result.json")
        cmd = build.bench_cmd(built, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out,
            "--tiny", str(a.tiny), "--plant-wrong", str(a.plant_wrong)]
            + (["--trace-dir", os.path.join(build.ROOT, ".bench_build", "traces")]
               if a.trace else []))
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {RUN_LIMIT_S} s; see {log_path}", file=sys.stderr)
            return 1
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        try:
            if proc.returncode != 0:
                print(f"perfbench: JVM exited {proc.returncode}; see {log_path}", file=sys.stderr)
                return 1
            with open(out) as f:
                res = json.load(f)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    if a.trace:
        # a layer the workload never calls reads 0
        got = {**{k: 0 for k in want}, **got}
    if set(got) != set(want):
        print(f"perfbench: metrics {sorted(set(got) ^ set(want))} differ from BENCHMARK.json",
              file=sys.stderr)
        return 1
    if any(v is None for v in got.values()):
        print("perfbench: a metric has no value", file=sys.stderr)
        return 1
    for note in res["failures"]:
        print(f"perfbench: failed op: {note}", file=sys.stderr)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "cycles": res["cycles"], "named": res["detail"]}))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": got[k], "unit": want[k]} for k in sorted(want)},
    }))
    return 0


if __name__ == "__main__":
    # a terminated run still stops its JVM (main's finally kills it)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.time()
    code = main()
    print(f"perfbench: {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
