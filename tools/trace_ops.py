#!/usr/bin/env python3
"""Per-op Spark job timelines from a graftbench trace.

A traced benchmark run (`python3 graftbench/run.py --workload W --seed N
--trace 1`) leaves its spans in `.bench_work/traces/<workload>-<seed>-<pid>.jsonl`:
one JSON object per line with `span`, `parent`, `level` (workload, op, call or
job), `name`, `layer`, `start_ns` and `end_ns`. This script prints, for each op
kind, every op of that kind with

  - its duration,
  - its job count,
  - the time before its first job (driver work no job covers: planning,
    listings, footer and pointer reads), and
  - each job's offset from the op's start, its duration and its layer,

then one line of medians per kind. Standard library only.

    python3 tools/trace_ops.py                      # the newest trace
    python3 tools/trace_ops.py TRACE.jsonl --kind point --kind range
"""

import argparse
import glob
import json
import os
import statistics
import sys


def load(path):
    """Spans by id; a span id repeated in the file is kept once."""
    spans = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                s = json.loads(line)
                spans.setdefault(s["span"], s)
    return spans


def op_of(span, spans):
    """The op span a span sits under, or None."""
    seen = set()
    while span is not None and span["level"] != "op" and span["span"] not in seen:
        seen.add(span["span"])
        span = spans.get(span["parent"])
    return span if span is not None and span["level"] == "op" else None


def secs(ns):
    return ns / 1e9


def report(path, kinds, out):
    spans = load(path)
    ops = sorted((s for s in spans.values() if s["level"] == "op"),
                 key=lambda s: s["start_ns"])
    jobs = {}
    for s in spans.values():
        if s["level"] == "job":
            op = op_of(s, spans)
            if op is not None:
                jobs.setdefault(op["span"], []).append(s)
    by_kind = {}
    for op in ops:
        if not kinds or op["name"] in kinds:
            by_kind.setdefault(op["name"], []).append(op)
    print(f"# {path}", file=out)
    for kind, kops in by_kind.items():
        durs, counts, firsts = [], [], []
        print(f"== {kind}: {len(kops)} ops", file=out)
        for op in kops:
            js = sorted(jobs.get(op["span"], []), key=lambda j: j["start_ns"])
            dur = secs(op["end_ns"] - op["start_ns"])
            # with no job the whole op is driver time
            first = secs((js[0]["start_ns"] if js else op["end_ns"]) - op["start_ns"])
            durs.append(dur)
            counts.append(len(js))
            firsts.append(first)
            print(f"  {op['span']:>6}  {dur:7.3f} s  {len(js):3d} jobs  "
                  f"first job at +{first:.3f} s", file=out)
            for j in js:
                print(f"          job at +{secs(j['start_ns'] - op['start_ns']):.3f} s  "
                      f"{secs(j['end_ns'] - j['start_ns']):7.3f} s  {j['layer']}",
                      file=out)
        print(f"  median  {statistics.median(durs):7.3f} s  "
              f"{statistics.median(counts):5.1f} jobs  "
              f"first job at +{statistics.median(firsts):.3f} s", file=out)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("traces", nargs="*",
                    help="trace files (default: the newest .bench_work/traces/*.jsonl)")
    ap.add_argument("--kind", action="append", default=[],
                    help="only this op kind (repeatable)")
    a = ap.parse_args(argv)
    traces = a.traces
    if not traces:
        found = glob.glob(os.path.join(".bench_work", "traces", "*.jsonl"))
        if not found:
            sys.exit("no trace given and none under .bench_work/traces/")
        traces = [max(found, key=os.path.getmtime)]
    for t in traces:
        report(t, set(a.kind), sys.stdout)


if __name__ == "__main__":
    main(sys.argv[1:])
