#!/usr/bin/env python3
"""Runs one workload of graft's benchmark and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source on first use (perfbench/build.py), then
runs the workload's closed loop in one JVM (Spark local[min(4, nproc)]).
Inputs are generated from the seed under .bench_build/perfbench/ and
removed afterwards. The last line of standard output is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. A traced run also writes its spans as JSON lines to
.bench_build/perfbench/traces/<workload>-<seed>.jsonl. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("dump_load", "ingest_serve", "curate_corpus")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (the add-opens spark-submit injects)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    trace = a.trace == "1"
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    classes = build.build()

    work = build.OUT / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = build.OUT / "traces" / f"{a.workload}-{a.seed}.jsonl"
    cmd = ["java", "-Xmx3g", "-Xss8m", *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*",
           "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", str(work), "--out", str(out)]
    log = open(work / "stderr.log", "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.stderr.write(f"run: {a.workload} exceeded {RUN_TIMEOUT_S}s\n")
        return 3
    finally:
        log.close()
    lines = [l for l in stdout.splitlines() if l.strip()]
    err_tail = (work / "stderr.log").read_text()[-4000:]
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err_tail)
        sys.stderr.write(f"run: program exited with {proc.returncode}\n")
        return proc.returncode or 4
    result = json.loads(lines[-1])
    # a workload BENCHMARK.json lists prints exactly its metrics; one run
    # by hand only (curate_corpus) may print more
    got = set(result.get("metrics", {}))
    listed = a.workload in {w["name"] for w in spec["workloads"]}
    if not (got == set(names) if listed else set(names) <= got):
        sys.stderr.write(f"run: metrics {sorted(got)} do not match BENCHMARK.json {names}\n")
        return 5
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
