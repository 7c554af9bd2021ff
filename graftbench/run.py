"""graft's benchmark command.

    python3 graftbench/run.py --workload crawl_fresh --seed 1 --seconds 10 --trace 0

Builds the program from source (graftbench/build.py), runs one workload in
one JVM on `local[4]`, and prints as its last stdout line

    {"correct": …, "attempted": …, "failed": …, "metrics": {name: {"value": …, "unit": …}}}

with every `end_to_end` metric of BENCHMARK.json (`--trace 0`) or every
`per_layer` metric (`--trace 1`). The JVM's full run record (every timed
call, spans, load average and calibration spin) is written to
`.bench_build/graftbench/runs/`. See graftbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
import build  # noqa: E402

# A run must end within 180 s; the JVM gets what is left after the build.
RUN_LIMIT_S = 170
JAVA_MODULES = ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit("unknown workload %r" % a.workload)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classes = build.build()
    t0 = time.time()
    tag = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(build.OUT, "work", "%s-%d" % (tag, os.getpid()))
    runs = os.path.join(build.OUT, "runs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(runs, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            "-Dspark.ui.enabled=false"]
           + ["--add-opens=%s=ALL-UNNAMED" % m for m in JAVA_MODULES]
           + ["-cp", classes + ":" + os.path.join(build.spark_jars(), "*"),
              "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--artifact", os.path.join(runs, tag + ".json")])
    log_path = os.path.join(runs, tag + ".log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                 start_new_session=True, text=True)

            def stop(signum, _frame):
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                sys.exit(128 + signum)
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                out, _ = p.communicate(timeout=RUN_LIMIT_S - (time.time() - t0))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                sys.exit("benchmark JVM timed out; log: %s" % log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(open(log_path).read()[-4000:])
        sys.exit("benchmark JVM failed with code %d; log: %s" % (p.returncode, log_path))
    r = json.loads(lines[-1])
    metrics = {}
    for m in wanted:
        v = r["metrics"].get(m["name"])
        if v is None:
            if not a.trace:
                sys.exit("workload %s did not report %s" % (a.workload, m["name"]))
            v = 0.0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
