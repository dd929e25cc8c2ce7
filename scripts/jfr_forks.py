#!/usr/bin/env python3
"""Count the processes a JVM started, grouped by command shape.

    python3 scripts/jfr_forks.py <recording.jfr> [--top N]

Reads the recording's `jdk.ProcessStart` events with `jfr print --json`
and prints the total, the count per program, and the count per command
shape: the command line with UUIDs masked to `<uuid>` and digit runs to
`N`, so `chmod 0644 /t/ckpt123/state/0/1/4.delta` and its siblings fall
into one line.

To record a run, start its JVM with
`-XX:StartFlightRecording=filename=run.jfr` (the default settings enable
`jdk.ProcessStart`), e.g. through `JAVA_TOOL_OPTIONS`.
"""
import argparse
import collections
import json
import re
import shutil
import subprocess
import sys

UUID = re.compile(r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
                  r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}")
DIGITS = re.compile(r"\d+")


def shape(command):
    return DIGITS.sub("N", UUID.sub("<uuid>", command))


def commands(jfr_file):
    jfr = shutil.which("jfr")
    if not jfr:
        sys.exit("jfr_forks: no `jfr` tool on PATH (it ships with the JDK)")
    out = subprocess.run(
        [jfr, "print", "--json", "--events", "jdk.ProcessStart", jfr_file],
        check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]
    return [e["values"]["command"] for e in events]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("jfr_file")
    ap.add_argument("--top", type=int, default=30,
                    help="command shapes to print (default 30)")
    args = ap.parse_args()
    cmds = commands(args.jfr_file)
    print(f"{len(cmds)} processes started")
    programs = collections.Counter(c.split(" ", 1)[0] for c in cmds)
    for prog, n in programs.most_common():
        print(f"{n:8d}  {prog}")
    print()
    shapes = collections.Counter(shape(c) for c in cmds)
    for s, n in shapes.most_common(args.top):
        print(f"{n:8d}  {s}")
    if len(shapes) > args.top:
        print(f"     ...  {len(shapes) - args.top} more shapes")


if __name__ == "__main__":
    main()
