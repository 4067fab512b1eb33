#!/usr/bin/env python3
"""Where did the CPU and the driver's time go in a JFR recording?

Record a perfbench run (or any Spark main) with Java Flight Recorder:

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile \\
        python3 perfbench/run.py --workload series_bulk --seed 7 --seconds 10 --trace 0

then summarize it:

    python3 tools/jfr_hotspots.py /tmp/run.jfr [--from S] [--to S] [--top N]

The recording is read through the JDK's `jfr print --json`, streamed one
event at a time. For the events in the window it prints:

  - executor CPU: samples of Spark task threads ("Executor task launch
    worker ..."), by top frame (self) and by any frame on the stack
    (inclusive, each frame counted once per sample), as shares of all
    executor samples;
  - driver CPU: the same for every other thread;
  - main-thread waits: time the main thread spent parked, in
    Object.wait or sleeping, summed by the calling library function —
    the innermost stack frame whose class starts with one of `--lib`.

`--from`/`--to` are seconds from the recording start, or absolute ISO
times (2026-10-21T00:19:52Z).
"""
import argparse
import collections
import datetime
import json
import re
import subprocess
import sys

SAMPLE = "jdk.ExecutionSample"
WAITS = ("jdk.ThreadPark", "jdk.JavaMonitorWait", "jdk.ThreadSleep")
EXECUTOR_THREAD = "Executor task launch worker"


def parse_time(s):
    """ISO instant with up to nanosecond fraction -> POSIX seconds."""
    s = s.rstrip("Z")
    whole, _, frac = s.partition(".")
    t = datetime.datetime.strptime(whole, "%Y-%m-%dT%H:%M:%S")
    t = t.replace(tzinfo=datetime.timezone.utc).timestamp()
    return t + (float("0." + frac) if frac else 0.0)


def parse_duration(s):
    """ISO-8601 duration as jfr prints it (PT1M2.5S) -> seconds."""
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", s or "")
    if not m:
        return 0.0
    h, mi, sec = m.groups()
    return int(h or 0) * 3600 + int(mi or 0) * 60 + float(sec or 0)


def recording_start(path):
    out = subprocess.run(["jfr", "summary", path], capture_output=True, text=True,
                         check=True).stdout
    m = re.search(r"Start:\s*(\d{4}-\d\d-\d\d) (\d\d:\d\d:\d\d)", out)
    return parse_time(f"{m.group(1)}T{m.group(2)}") if m else None


def bound(arg, start):
    if arg is None:
        return None
    if "T" in arg:
        return parse_time(arg)
    if start is None:
        sys.exit("jfr summary printed no start time; pass absolute ISO times")
    return start + float(arg)


def events(path, types, depth):
    """Stream the `events` array of `jfr print --json` one object at a time."""
    cmd = ["jfr", "print", "--json", "--stack-depth", str(depth),
           "--events", ",".join(types), path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    dec = json.JSONDecoder()
    buf, pos, started = "", 0, False
    for chunk in iter(lambda: proc.stdout.read(1 << 20), ""):
        buf = buf[pos:] + chunk
        pos = 0
        if not started:
            i = buf.find('"events"')
            if i < 0:
                continue
            j = buf.find("[", i)
            if j < 0:
                continue
            pos, started = j + 1, True
        while True:
            while pos < len(buf) and buf[pos] in " \t\r\n,":
                pos += 1
            if pos >= len(buf) or buf[pos] == "]":
                break
            try:
                obj, end = dec.raw_decode(buf, pos)
            except json.JSONDecodeError:
                break  # the object continues in the next chunk
            yield obj
            pos = end
    if proc.wait() != 0:
        sys.exit(f"jfr print failed with exit code {proc.returncode}")


def frame_name(f):
    m = f.get("method") or {}
    cls = ((m.get("type") or {}).get("name") or "?").replace("/", ".")
    return f"{cls}.{m.get('name', '?')}"


def thread_name(values, key):
    t = values.get(key) or {}
    return t.get("javaName") or t.get("osName") or "?"


def table(title, counter, total, top, unit):
    print(f"\n{title}")
    if not total:
        print("  (none)")
        return
    for name, n in counter.most_common(top):
        share = 100.0 * n / total
        amount = f"{n:9.3f} s" if unit == "s" else f"{n:7d}"
        print(f"  {share:5.1f}%  {amount}  {name}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("jfr", help="recording (.jfr)")
    ap.add_argument("--from", dest="start", help="window start (s from recording start, or ISO)")
    ap.add_argument("--to", dest="end", help="window end (s from recording start, or ISO)")
    ap.add_argument("--top", type=int, default=15, help="rows per table (default 15)")
    ap.add_argument("--depth", type=int, default=64, help="stack frames read per event (default 64)")
    ap.add_argument("--lib", default="graft.,perfbench.",
                    help="comma-separated class prefixes of the calling library (default graft.,perfbench.)")
    args = ap.parse_args()

    start = recording_start(args.jfr) if (args.start or args.end) else None
    lo, hi = bound(args.start, start), bound(args.end, start)
    libs = tuple(p for p in args.lib.split(",") if p)

    self_ = {"executor": collections.Counter(), "driver": collections.Counter()}
    incl = {"executor": collections.Counter(), "driver": collections.Counter()}
    samples = {"executor": 0, "driver": 0}
    waits, wait_total = collections.Counter(), 0.0

    for ev in events(args.jfr, (SAMPLE,) + WAITS, args.depth):
        v = ev.get("values", {})
        t = parse_time(v["startTime"])
        if (lo is not None and t < lo) or (hi is not None and t > hi):
            continue
        frames = [frame_name(f) for f in (v.get("stackTrace") or {}).get("frames", [])]
        if ev["type"] == SAMPLE:
            side = "executor" if thread_name(v, "sampledThread").startswith(EXECUTOR_THREAD) \
                else "driver"
            samples[side] += 1
            if frames:
                self_[side][frames[0]] += 1
                incl[side].update(set(frames))
        elif thread_name(v, "eventThread") == "main":
            d = parse_duration(v.get("duration"))
            caller = next((f for f in frames if f.startswith(libs)), "(no library frame)")
            waits[caller] += d
            wait_total += d

    window = f"{args.start or 'start'} .. {args.end or 'end'}"
    print(f"{args.jfr}  window {window}  executor samples {samples['executor']}  "
          f"driver samples {samples['driver']}  main-thread waits {wait_total:.3f} s")
    for side in ("executor", "driver"):
        table(f"{side} CPU, top frame (self):", self_[side], samples[side], args.top, "n")
        table(f"{side} CPU, any frame (inclusive):", incl[side], samples[side], args.top, "n")
    table("main-thread waits by calling library function:", waits, wait_total, args.top, "s")


if __name__ == "__main__":
    main()
