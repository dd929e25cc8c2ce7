#!/usr/bin/env python3
"""Job and phase census of a benchmark trace.

    python3 scripts/trace_census.py <trace.jsonl> [--executions]

Reads the span tree a traced benchmark run writes
(`python3 perfbench/run.py --workload W --seed N --trace 1` leaves it in
`.bench_run/<W>/trace.jsonl`) and prints, from the spans alone:

- for each query of the panel: executions, and the median per execution
  of wall, build (the registry call) and exec (the consuming action) time,
  jobs, stages, job-covered ms (the union of its jobs' intervals) and gap
  (wall not covered by any job); then the totals per pass, which are the
  run's `queries.build_s`, `exec_s`, `jobs`, `stages` and `gap_s`;
  `--executions` prints every execution as well;
- for each micro-batch: input rows, trigger ms, each phase's ms, jobs, and
  the offset from the start of `addBatch` to its first job; then the
  medians. Spark reports phase durations only, so the trace lays them end
  to end from the batch start and the offset inherits that placement.
"""
import argparse
import collections
import json
import statistics
import sys

PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets"]


def load(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def covered(intervals):
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median(xs):
    return statistics.median(xs) if xs else 0


class Tree:
    def __init__(self, spans):
        self.by_id = {s["id"]: s for s in spans}
        self.children = collections.defaultdict(list)
        for s in spans:
            self.children[s["parent"]].append(s)

    def kids(self, span, kind=None):
        return [c for c in self.children[span["id"]]
                if kind is None or c["kind"] == kind]

    def jobs_under(self, span):
        """Job spans anywhere beneath `span`, stages not descended into."""
        out = []
        for c in self.children[span["id"]]:
            if c["kind"] == "job":
                out.append(c)
            elif c["kind"] != "stage":
                out.extend(self.jobs_under(c))
        return out


def query_rows(tree, queries):
    rows = []
    for q in sorted(queries, key=lambda s: s["start_ms"]):
        phases = {p["name"]: p for p in tree.kids(q, "phase")}
        jobs = tree.jobs_under(q)
        wall = q["end_ms"] - q["start_ms"]
        cov = covered([(j["start_ms"], j["end_ms"]) for j in jobs])

        def dur(name):
            p = phases.get(name)
            return p["end_ms"] - p["start_ms"] if p else 0
        rows.append({
            "name": q["name"], "pass": q["attrs"].get("pass"),
            "wall": wall, "build": dur("build"), "exec": dur("exec"),
            "jobs": len(jobs),
            "stages": sum(len(tree.kids(j, "stage")) for j in jobs),
            "covered": cov, "gap": wall - cov})
    return rows


def print_queries(rows, executions):
    cols = ["wall", "build", "exec", "jobs", "stages", "covered", "gap"]
    head = f"{'query':<28}{'n':>4}" + "".join(f"{c:>9}" for c in cols)
    if executions:
        print(f"{'query':<28}{'pass':>5}" + "".join(f"{c:>9}" for c in cols))
        for r in rows:
            print(f"{r['name']:<28}{r['pass']:>5}" +
                  "".join(f"{r[c]:>9}" for c in cols))
        print()
    print("per query, median of its executions (ms; jobs and stages per "
          "execution):")
    print(head)
    by_name = collections.defaultdict(list)
    for r in rows:
        by_name[r["name"]].append(r)
    for name in sorted(by_name):
        rs = by_name[name]
        print(f"{name:<28}{len(rs):>4}" + "".join(
            f"{median([r[c] for r in rs]):>9g}" for c in cols))
    passes = len({r["pass"] for r in rows}) or 1
    tot = {c: sum(r[c] for r in rows) / passes for c in cols}
    print(f"\nper pass ({passes} passes): jobs {tot['jobs']:g}, "
          f"stages {tot['stages']:g}, build_s {tot['build'] / 1000:.3f}, "
          f"exec_s {tot['exec'] / 1000:.3f}, "
          f"job-covered_s {tot['covered'] / 1000:.3f}, "
          f"gap_s {tot['gap'] / 1000:.3f}")


def batch_rows(tree, batches):
    rows = []
    for b in sorted(batches, key=lambda s: s["start_ms"]):
        phases = {p["name"]: p for p in tree.kids(b, "phase")}
        jobs = tree.kids(b, "job")
        add = phases.get("addBatch")
        first = min((j["start_ms"] for j in jobs), default=None)
        row = {"batch": b["name"], "rows": b["attrs"].get("rows", 0),
               "trigger": b["end_ms"] - b["start_ms"], "jobs": len(jobs),
               "first_job": (first - add["start_ms"])
               if add is not None and first is not None else None}
        for ph in PHASES:
            p = phases.get(ph)
            row[ph] = p["end_ms"] - p["start_ms"] if p else 0
        rows.append(row)
    return rows


def print_batches(rows):
    cols = ["rows", "trigger"] + PHASES + ["jobs", "first_job"]
    width = {c: max(9, len(c) + 2) for c in cols}
    print(f"{'batch':<14}" + "".join(f"{c:>{width[c]}}" for c in cols))

    def cell(v, c):
        return f"{'-' if v is None else v:>{width[c]}}"
    for r in rows:
        print(f"{r['batch']:<14}" + "".join(cell(r[c], c) for c in cols))
    meds = {c: median([r[c] for r in rows if r[c] is not None])
            for c in cols}
    print(f"{'median':<14}" + "".join(f"{meds[c]:>{width[c]}g}"
                                      for c in cols))
    print(f"\n{len(rows)} batches, {sum(r['jobs'] for r in rows)} jobs, "
          f"{sum(r['jobs'] for r in rows) / max(1, len(rows)):.1f} "
          "jobs per batch")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("trace", help="trace.jsonl of a traced benchmark run")
    ap.add_argument("--executions", action="store_true",
                    help="also print every query execution")
    args = ap.parse_args()
    spans = load(args.trace)
    if not spans:
        sys.exit(f"trace_census: no spans in {args.trace}")
    tree = Tree(spans)
    queries = [s for s in spans if s["kind"] == "query"]
    batches = [s for s in spans if s["kind"] == "batch"]
    if queries:
        print_queries(query_rows(tree, queries), args.executions)
    if batches:
        if queries:
            print()
        print_batches(batch_rows(tree, batches))
    if not queries and not batches:
        print("no query or micro-batch spans")


if __name__ == "__main__":
    main()
