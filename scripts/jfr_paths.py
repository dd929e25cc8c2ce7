#!/usr/bin/env python3
"""Share of CPU samples per named call path, per thread.

    python3 scripts/jfr_paths.py <recording.jfr> --thread <prefix>
        [--window-of <thread prefix>] [--path NAME=RE1>RE2>...]...

Reads the recording's `jdk.ExecutionSample` and `jdk.NativeMethodSample`
events with `jfr print --json --stack-depth 512`, keeps the samples of
threads whose name starts with `--thread`, and prints, per thread (UUIDs
in the name masked to `<uuid>` and digit runs to `N`, so all task threads
are one line, as are all `stream execution thread for [id = <uuid>, ...]`),
the sample count and the share of it that lies on each named call path.

A call path is `NAME=RE1>RE2>...`: a sample lies on it when its stack,
read from the root (`Thread.run`) towards the leaf, has a frame matching
RE1, a deeper one matching RE2, and so on. Frames are written
`package.Class.method`. A sample can lie on several paths (a path and a
narrower one inside it), so the shares need not add up to 100%. Without
`--path` the paths below are used. `explainString` includes the physical
planning that a plan's first explain triggers lazily; `explain-format` is
the formatting alone.

`--window-of` keeps only samples taken while a thread whose name starts
with that prefix was sampled (from its first to its last sample), e.g.
`--window-of "stream execution thread"` for the life of a streaming query.

Shares are of CPU samples, not of wall time. JFR samples only a few
threads per period (JDK 17: 5 running in Java and 1 in native code), so a
thread's samples cover only part of its busy time, and none of the time
it waits. A streaming batch's ~47 ms before its first job, for example,
shows as ~20 ms of samples on the stream thread. Its waits are mostly
shorter than the `profile` setting's 10 ms `jdk.ThreadPark` threshold; to
see them, record with that event's threshold set to 0 ms (e.g. a copy of
`profile.jfc` with `jdk.ThreadPark#threshold=0 ms`).

Record with `-XX:StartFlightRecording=filename=run.jfr,settings=profile
-XX:FlightRecorderOptions:stackdepth=512` (e.g. through
`JAVA_TOOL_OPTIONS`): at JFR's default depth of 64 frames the roots of
deep Catalyst stacks are cut off, and a path that starts at the root
never matches.
"""
import argparse
import collections
import json
import re
import shutil
import subprocess
import sys
from datetime import datetime

TASK = r"(ResultTask|ShuffleMapTask)\.runTask"
DEFAULT_PATHS = [
    f"task-binary={TASK}>JavaSerializerInstance\\.deserialize",
    f"task-hadoop-conf={TASK}>JavaSerializerInstance\\.deserialize>"
    r"Configuration\.readFields",
    f"task-parquet-write={TASK}>ParquetOutputWriter\\.write",
    r"explainString=QueryExecution\.explainString",
    r"explain-format=QueryExecution\.explainString>ExplainUtils\$?\.processPlan",
    r"foreachBatch=ForeachBatchSink\.addBatch",
    r"file-committer=FileOutputCommitter\.|HadoopMapReduceCommitProtocol\.",
    r"process-fork=ProcessBuilder\.start",
    r"codegen=WholeStageCodegenExec\.doCodeGen",
    r"closure-clean=SparkClosureCleaner\.clean",
]
UUID = re.compile(r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
                  r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}")
DIGITS = re.compile(r"\d+")
EVENTS = "jdk.ExecutionSample,jdk.NativeMethodSample"


def parse_path(spec):
    name, sep, chain = spec.partition("=")
    if not sep or not name or not chain:
        sys.exit(f"jfr_paths: a path is NAME=RE1>RE2>..., got {spec!r}")
    return name, [re.compile(r) for r in chain.split(">")]


def on_path(frames, chain):
    """`frames` run root first; each regex must match a deeper frame."""
    i = 0
    for rx in chain:
        while i < len(frames) and not rx.search(frames[i]):
            i += 1
        if i == len(frames):
            return False
        i += 1
    return True


def instant(s):
    """JFR's ISO time with up to nanoseconds, as seconds since the epoch."""
    m = re.match(r"(.*T\d\d:\d\d:\d\d)(?:\.(\d+))?(.*)$", s)
    frac = (m.group(2) or "0")[:6].ljust(6, "0")
    zone = m.group(3).replace("Z", "+00:00") or "+00:00"
    return datetime.fromisoformat(f"{m.group(1)}.{frac}{zone}").timestamp()


def samples(jfr_file):
    """(thread name, time, frames root first) for every CPU sample."""
    jfr = shutil.which("jfr")
    if not jfr:
        sys.exit("jfr_paths: no `jfr` tool on PATH (it ships with the JDK)")
    out = subprocess.run(
        [jfr, "print", "--json", "--stack-depth", "512", "--events", EVENTS,
         jfr_file], check=True, capture_output=True, text=True).stdout
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        thread = (v.get("sampledThread") or {}).get("javaName") or "?"
        frames = [f"{f['method']['type']['name']}.{f['method']['name']}"
                  for f in ((v.get("stackTrace") or {}).get("frames") or [])]
        yield thread, instant(v["startTime"]), frames[::-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("jfr_file")
    ap.add_argument("--thread", required=True,
                    help="keep threads whose name starts with this")
    ap.add_argument("--window-of", metavar="THREAD",
                    help="keep samples taken while this thread was sampled")
    ap.add_argument("--path", action="append", metavar="NAME=RE1>RE2>...",
                    help="a named call path (repeatable)")
    args = ap.parse_args()
    paths = [parse_path(p) for p in (args.path or DEFAULT_PATHS)]

    all_samples = list(samples(args.jfr_file))
    lo, hi = float("-inf"), float("inf")
    if args.window_of:
        ts = [t for n, t, _ in all_samples if n.startswith(args.window_of)]
        if not ts:
            sys.exit(f"jfr_paths: no sample of a thread {args.window_of!r}")
        lo, hi = min(ts), max(ts)
        print(f"window: {hi - lo:.1f} s while {args.window_of!r} was sampled")

    total = collections.Counter()
    hits = collections.defaultdict(collections.Counter)
    for name, t, frames in all_samples:
        if not name.startswith(args.thread) or not lo <= t <= hi:
            continue
        key = DIGITS.sub("N", UUID.sub("<uuid>", name))
        total[key] += 1
        for pname, chain in paths:
            if on_path(frames, chain):
                hits[key][pname] += 1
    if not total:
        sys.exit(f"jfr_paths: no sample of a thread {args.thread!r}")
    width = max(len(p) for p, _ in paths)
    for key, n in total.most_common():
        print(f"\n{key}: {n} samples")
        for pname, _ in paths:
            k = hits[key][pname]
            print(f"  {pname:<{width}}  {k:7d}  {100.0 * k / n:5.1f}%")


if __name__ == "__main__":
    main()
