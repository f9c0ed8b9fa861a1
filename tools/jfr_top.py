#!/usr/bin/env python3
"""Summarise where a JVM's executor threads spent CPU and allocated, from a
Java Flight Recorder file.

    python3 tools/jfr_top.py recording.jfr [--thread "Executor task launch"]
        [--top 25] [--depth 128] [--jfr /path/to/jfr]

It reads the recording's `jdk.ExecutionSample` and `jdk.ObjectAllocationSample`
events with the JDK's `jfr print` command (found on PATH or under
$JAVA_HOME/bin unless `--jfr` names it) and keeps those of threads whose name
contains `--thread` (Spark's task threads by default). It prints:

- the methods on top of the sampled stacks (self) and anywhere on them
  (inclusive, each method counted once per sample), as shares of the samples;
- the allocation samples' weights summed by allocating method (the top
  frame), by the first frame outside the JDK and Scala libraries (the
  caller that asked for the memory), and by allocated class.

Allocation weights are JFR's estimate of the bytes allocated between two
samples, so their sums estimate the bytes allocated; their shares are what
compare between two recordings. To record a JVM that you cannot pass flags to,
set `JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=out.jfr,settings=profile`
in its environment. Uses only the Python standard library.
"""

import argparse
import collections
import os
import re
import shutil
import subprocess
import sys

EVENTS = ("jdk.ExecutionSample", "jdk.ObjectAllocationSample")
LIBRARY = ("java.", "javax.", "jdk.", "sun.", "scala.")
UNITS = {"bytes": 1, "byte": 1, "kB": 1 << 10, "MB": 1 << 20, "GB": 1 << 30, "TB": 1 << 40}


def jfr_command(explicit):
    if explicit:
        return explicit
    found = shutil.which("jfr")
    if found:
        return found
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    sys.exit("jfr_top: no `jfr` command on PATH or under $JAVA_HOME/bin; pass --jfr")


def events(jfr, path, depth):
    """Yields (type, fields, frames) per event; frames are method names, top first."""
    cmd = [jfr, "print", "--events", ",".join(EVENTS), "--stack-depth", str(depth), path]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, errors="replace")
    kind, fields, frames, in_stack = None, {}, [], False
    for line in p.stdout:
        s = line.strip()
        if kind is None:
            if s.endswith("{") and s[:-1].strip() in EVENTS:
                kind, fields, frames, in_stack = s[:-1].strip(), {}, [], False
        elif in_stack:
            if s == "]":
                in_stack = False
            elif s and s != "...":
                frames.append(s.split(" line:")[0])
        elif s == "stackTrace = [":
            in_stack = True
        elif s == "}":
            yield kind, fields, frames
            kind = None
        elif " = " in s:
            k, v = s.split(" = ", 1)
            fields[k] = v
    if p.wait() != 0:
        sys.exit(f"jfr_top: `{' '.join(cmd)}` exited {p.returncode}")


def thread_name(v):
    m = re.match(r'"(.*)"', v or "")
    return m.group(1) if m else (v or "")


def weight_bytes(v):
    m = re.match(r"([\d.]+)\s*(\w+)", v or "")
    return float(m.group(1)) * UNITS.get(m.group(2), 1) if m else 0.0


def short(method):
    """`pkg.Class.method(args)` without the argument list."""
    return method.split("(")[0]


def table(title, counter, total, top, unit):
    print(f"\n{title}")
    for key, n in counter.most_common(top):
        share = 100.0 * n / total if total else 0.0
        amount = f"{n / (1 << 20):10.1f} MB" if unit == "MB" else f"{int(n):10d}"
        print(f"  {share:6.2f}% {amount}  {key}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", default="Executor task launch",
                    help="keep threads whose name contains this (default: Spark task threads)")
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--depth", type=int, default=128, help="stack frames read per sample")
    ap.add_argument("--jfr", help="the JDK's jfr command")
    a = ap.parse_args()

    self_ = collections.Counter()
    inclusive = collections.Counter()
    by_site = collections.Counter()
    by_caller = collections.Counter()
    by_class = collections.Counter()
    samples, alloc_total = 0, 0.0
    for kind, fields, frames in events(jfr_command(a.jfr), a.recording, a.depth):
        if kind == "jdk.ExecutionSample":
            if a.thread not in thread_name(fields.get("sampledThread")) or not frames:
                continue
            samples += 1
            self_[short(frames[0])] += 1
            for m in {short(f) for f in frames}:
                inclusive[m] += 1
        else:
            if a.thread not in thread_name(fields.get("eventThread")):
                continue
            w = weight_bytes(fields.get("weight"))
            alloc_total += w
            cls = (fields.get("objectClass") or "?").split(" (")[0]
            by_class[cls] += w
            if frames:
                by_site[short(frames[0])] += w
                caller = next((f for f in frames if not f.startswith(LIBRARY)), frames[-1])
                by_caller[short(caller)] += w

    print(f"{a.recording}: {samples} CPU samples and {alloc_total / (1 << 20):.1f} MB of "
          f"sampled allocation on threads matching {a.thread!r}")
    table("CPU, self (top frame)", self_, samples, a.top, "n")
    table("CPU, inclusive (anywhere on the stack)", inclusive, samples, a.top, "n")
    table("Allocation by allocating method", by_site, alloc_total, a.top, "MB")
    table("Allocation by first caller outside java/jdk/sun/scala", by_caller, alloc_total, a.top, "MB")
    table("Allocation by class", by_class, alloc_total, a.top, "MB")


if __name__ == "__main__":
    main()
