#!/usr/bin/env python3
"""Where the CPU went during a benchmark run's measured loop, from a JFR
recording of that run.

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/geo.jfr,settings=profile" \\
      python3 perfbench/run.py --workload geo_serve --seed 1 --seconds 8 --trace 0
    python3 tools/jfr_top.py /tmp/geo.jfr perfbench/.out/geo_serve-seed1-trace0.json

Reads the recording's execution samples (`jfr print --json --events
jdk.ExecutionSample`), places each on the run's clock through the JVM start
time recorded in `jdk.JVMInformation`, and keeps those between the run
record's `phase_end_s.prepare` and `phase_end_s.loop`, i.e. the timed loop.
The run record counts from the start of the benchmark's main method, a few
hundred milliseconds after JVM start, so the window opens and closes that
much early. Prints the sample count per thread group (thread names with
their numbers masked) and the frames present in the most samples
(inclusive: a frame counts once per sample wherever it sits in the stack).
JFR keeps the 64 innermost frames by default; samples cut there are
counted, and `-XX:FlightRecorderOptions=stackdepth=256` keeps deeper stacks.
"""
import argparse
import collections
import datetime
import json
import re
import subprocess
import sys


def epoch_s(stamp):
    """ISO-8601 UTC timestamp with up to nanosecond digits -> epoch seconds."""
    m = re.fullmatch(r"(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)(?:\.(\d+))?Z", stamp)
    if not m:
        raise ValueError(f"unexpected JFR timestamp: {stamp}")
    whole = datetime.datetime.strptime(m.group(1), "%Y-%m-%dT%H:%M:%S")
    whole = whole.replace(tzinfo=datetime.timezone.utc).timestamp()
    return whole + (float("0." + m.group(2)) if m.group(2) else 0.0)


def events(recording, kind):
    out = subprocess.run(["jfr", "print", "--json", "--events", kind, recording],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def thread_group(thread):
    name = (thread or {}).get("javaName") or (thread or {}).get("osName") or "?"
    return re.sub(r"\d+", "#", name)


def frame_name(frame):
    method = frame["method"]
    return method["type"]["name"].replace("/", ".") + "." + method["name"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording", help="JFR recording of the benchmark JVM")
    ap.add_argument("run_record", help="perfbench run record (perfbench/.out/*.json)")
    ap.add_argument("--top", type=int, default=40, help="frames to print")
    a = ap.parse_args()

    phases = json.load(open(a.run_record))["phase_end_s"]
    lo, hi = phases["prepare"], phases["loop"]
    info = events(a.recording, "jdk.JVMInformation")
    if not info:
        sys.exit("jfr_top: the recording has no jdk.JVMInformation event")
    jvm_start = epoch_s(info[0]["values"]["jvmStartTime"])

    groups = collections.Counter()
    frames = collections.Counter()
    kept = truncated = 0
    for e in events(a.recording, "jdk.ExecutionSample"):
        v = e["values"]
        t = epoch_s(v["startTime"]) - jvm_start
        if not lo <= t <= hi:
            continue
        kept += 1
        groups[thread_group(v.get("sampledThread"))] += 1
        stack = v.get("stackTrace") or {}
        truncated += bool(stack.get("truncated"))
        frames.update({frame_name(f) for f in stack.get("frames") or []})

    print(f"loop window {lo:.2f}-{hi:.2f} s after start: {kept} samples, "
          f"{truncated} with truncated stacks")
    if not kept:
        return
    print("\nsamples per thread group")
    for g, n in groups.most_common():
        print(f"{n:7d} {100.0 * n / kept:5.1f}%  {g}")
    print(f"\ntop {a.top} inclusive frames")
    for f, n in frames.most_common(a.top):
        print(f"{n:7d} {100.0 * n / kept:5.1f}%  {f}")


if __name__ == "__main__":
    main()
