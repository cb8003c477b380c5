#!/usr/bin/env python3
"""Print the Spark jobs a traced perfbench run hung under each named span.

    python3 tools/jobs_by_span.py RUN.spans.jsonl [--name PREFIX] [--site REGEX]

RUN.spans.jsonl is what `perfbench/run.py --trace 1` writes next to its
artifact (.bench_build/results/<workload>-seed<n>-trace1.spans.jsonl): one
line per timed call, then one `job: <call site>` line per Spark job the
tracer attached to that call. For every call that has jobs this prints the
jobs (id, call site, stages, tasks, executor CPU), then one totals row per
span name: calls, jobs per call (min-max), jobs, tasks and CPU.

--name keeps spans whose name starts with PREFIX (e.g. ops.Layout.).
--site keeps only jobs whose call site matches REGEX, e.g.
`--site '^parquet at (Manifests|Commits|Reads|Branches|Maintenance|RowLevel)'`
lists the parquet read jobs Layout's seams (ops/layout/) submitted; their
staging writes show as `writeParquet at <seam file>:<line>`.
"""
import argparse
import json
import re
import sys
from collections import OrderedDict


def load(path):
    spans, jobs = OrderedDict(), {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            if not line.strip():
                continue
            rec = json.loads(line)
            if str(rec["span"]).startswith("j"):
                jobs.setdefault(rec["parent"], []).append(rec)
            else:
                spans[rec["span"]] = rec
    return spans, jobs


def site_of(job):
    return job["name"][len("job: "):]


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("spans", help="a perfbench .spans.jsonl file")
    ap.add_argument("--name", default="", help="span name prefix to keep")
    ap.add_argument("--site", default=None,
                    help="regex a job's call site must match")
    args = ap.parse_args(argv)
    site_re = re.compile(args.site) if args.site else None

    spans, jobs = load(args.spans)
    totals = OrderedDict()
    for sid, s in spans.items():
        if not s["name"].startswith(args.name):
            continue
        own = [j for j in jobs.get(sid, [])
               if site_re is None or site_re.search(site_of(j))]
        t = totals.setdefault(s["name"], {"calls": 0, "per_call": [],
                                          "jobs": 0, "tasks": 0, "cpu": 0.0})
        t["calls"] += 1
        t["per_call"].append(len(own))
        if not own:
            continue
        print(f"span {sid} op {s['op']} {s['name']}: "
              f"{s['end'] - s['start']:.0f} ms, {len(own)} job(s)")
        for j in own:
            c = j["counts"]
            t["jobs"] += 1
            t["tasks"] += c["tasks"]
            t["cpu"] += c["cpu_ms"]
            print(f"  {j['span']:>6}  {site_of(j):<58} stages {c['stages']:>2}"
                  f"  tasks {c['tasks']:>3}  cpu {c['cpu_ms']:8.1f} ms")
    print()
    print(f"{'span':<34} {'calls':>5} {'jobs/call':>9} {'jobs':>5} "
          f"{'tasks':>6} {'cpu_ms':>9}")
    for name, t in totals.items():
        lo, hi = min(t["per_call"]), max(t["per_call"])
        per = str(lo) if lo == hi else f"{lo}-{hi}"
        print(f"{name:<34} {t['calls']:>5} {per:>9} {t['jobs']:>5} "
              f"{t['tasks']:>6} {t['cpu']:9.1f}")


if __name__ == "__main__":
    main(sys.argv[1:])
