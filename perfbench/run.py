#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured end to end or traced.

    python3 perfbench/run.py --workload geo_serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test      # the answer checker rejects wrong answers

Builds graft and the benchmark from source (perfbench/build.py), then runs the
benchmark JVM (perfbench.Main). Human-readable metric lines come first; the last
line of standard output is one JSON object with `correct`, `attempted`,
`failed` and `metrics`. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["geo_serve", "doc_scan", "cdc_mix", "corpus_dedup"]
RUN_LIMIT_S = 175  # a measured run (build excluded) must end within this

JVM_OPTS = [
    "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    f"-Djava.io.tmpdir={os.path.join(HERE, '.tmp')}",
    f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
] + [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for a in ("--add-opens", p + "=ALL-UNNAMED")]


def run_jvm(classpath, main, args, limit_s):
    os.makedirs(os.path.join(HERE, ".tmp"), exist_ok=True)
    cmd = ["java"] + JVM_OPTS + ["-cp", classpath, main] + args
    # Spark's scratch space stays inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(HERE, ".tmp", "spark"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            cwd=os.path.dirname(HERE), start_new_session=True)
    timed_out = []

    def kill():
        timed_out.append(True)
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(limit_s, kill)
    watchdog.start()
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if not line.startswith("{"):
                print(line, end="", flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if timed_out:
        sys.exit(f"perfbench: {main} exceeded {limit_s:.0f} s")
    return proc.returncode, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    t0 = time.monotonic()
    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench build: {e}")
    build_s = time.monotonic() - t0
    if a.self_test:
        rc, _ = run_jvm(classpath, "perfbench.SelfTest", [HERE], 170)
        sys.exit(rc)
    rc, lines = run_jvm(classpath, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--home", HERE], RUN_LIMIT_S - min(build_s, 60))
    result = lines[-1] if lines else ""
    if rc != 0 or not result.startswith("{"):
        sys.exit(f"perfbench: benchmark JVM failed (exit {rc})")
    out = json.loads(result)
    out["metrics"] = with_units(out["metrics"], a.trace)
    print(json.dumps(out), flush=True)


def with_units(metrics, trace):
    """Attaches the units BENCHMARK.json declares for this mode; refuses a
    result whose metric names differ from the declared ones."""
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    if set(metrics) != set(units):
        sys.exit("perfbench: metrics differ from BENCHMARK.json: "
                 f"missing {sorted(set(units) - set(metrics))}, "
                 f"unexpected {sorted(set(metrics) - set(units))}")
    return {k: {"value": v["value"], "unit": units[k]} for k, v in metrics.items()}


if __name__ == "__main__":
    main()
