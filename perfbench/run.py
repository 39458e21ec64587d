#!/usr/bin/env python3
"""Benchmark front end: build if the sources changed, record the host, run
one workload in a fresh JVM, print the result.

    python3 perfbench/run.py --workload pipeline_small --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is the
result object (correct, attempted, failed, metrics); the line before it is
the host record. A traced run (--trace 1) also writes its spans to
.bench_out/trace-<workload>-seed<seed>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
OUT = ROOT / ".bench_out"
JVM_TIMEOUT_S = 170
MAX_CORES = 4  # the workloads' Spark master is local[min(cores, 4)]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("perfbench: set SPARK_HOME or put spark-submit on the PATH")
    return Path(home) / "jars"


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    files = [ROOT / "perfbench" / "build.sh"]
    for d in ("src/main", "perfbench/src"):
        files += sorted(p for p in (ROOT / d).rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    if not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("perfbench: no program sources under src/main/scala")
    stamp = source_stamp()
    stamp_file = BUILD / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    print("perfbench: building", file=sys.stderr)
    r = subprocess.run(["bash", "perfbench/build.sh", str(BUILD), str(spark_jars())], cwd=ROOT,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed ({r.returncode})")
    stamp_file.write_text(stamp)


def cpu_times():
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    return [int(x) for x in fields]


def java_version():
    r = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True)
    return (r.stderr.splitlines() or ["unknown"])[0]


def run_jvm(args, work, result_file, cores):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{BUILD / 'classes'}:{spark_jars()}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--trace", str(args.trace),
            "--cores", str(cores), "--work", str(work), "--out", str(result_file)]
    log = work / "jvm.log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        OUT.mkdir(exist_ok=True)
        kept = OUT / f"failed-{args.workload}-seed{args.seed}.log"
        shutil.copy(log, kept)
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        print(f"perfbench: JVM log kept in {kept}", file=sys.stderr)
        sys.exit(f"perfbench: benchmark JVM failed ({code})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # a run times one Pipeline.run, which outlasts any --seconds in use
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    build()
    cores = len(os.sched_getaffinity(0))
    spark_cores = min(cores, MAX_CORES)
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"

    load_start = os.getloadavg()
    # share of the host's CPU time busy right now (a short /proc/stat
    # sample), not the load average, which still carries the previous run
    before = cpu_times()
    time.sleep(0.5)
    cpu_start = cpu_times()
    sample = [b - a for a, b in zip(before, cpu_start)]
    busy_frac = 1 - (sample[3] + sample[4]) / max(1, sum(sample))
    started = time.time()
    try:
        run_jvm(args, work, result_file, spark_cores)
        result = json.loads(result_file.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cpu_end = cpu_times()
    delta = [b - a for a, b in zip(cpu_start, cpu_end)]
    host = {
        "cores": cores,
        "master": f"local[{spark_cores}]",
        "load_start": [round(x, 2) for x in load_start],
        "load_end": [round(x, 2) for x in os.getloadavg()],
        # /proc/stat cpu fields: user nice system idle iowait irq softirq steal
        "steal_frac": round(delta[7] / max(1, sum(delta)), 5) if len(delta) > 7 else None,
        "busy_frac_at_start": round(busy_frac, 3),
        "busy_at_start": busy_frac > 0.25,
        "java": java_version(),
        "spark": result["spark_version"],
        "run_s": round(time.time() - started, 1),
        "heights": result["heights"],
        "input_lines": result["input_lines"],
        "wall_s": result["wall_s"],
        "setup_parts_s": result["setup_parts_s"],
        "failures": result["failures"],
    }
    if args.trace:
        OUT.mkdir(exist_ok=True)
        trace = {"workload": args.workload, "seed": args.seed, "host": host,
                 "metrics": result["metrics"], "spans": result["spans"]}
        (OUT / f"trace-{args.workload}-seed{args.seed}.json").write_text(json.dumps(trace, indent=1))
    print(json.dumps({"host": host}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
