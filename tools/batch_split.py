#!/usr/bin/env python3
"""Split each traced item_stream micro-batch into its phases.

    python3 tools/batch_split.py .bench_build/results/item_stream-seed7-trace1.spans.jsonl [...]

Reads the spans files that `perfbench/run.py --workload item_stream --trace 1`
writes (one JSON object per line: micro-batch and Spark job spans hang as
siblings under their call span). Each job is given to the micro-batch of the
same call whose interval holds the job's start. Prints, per file, the
p10/p50/p90 in ms of:

  batch        micro-batch time (progress start to end)
  start->job   batch start to its first job's start: planning, offset log, and
               the driver work before the collect job is submitted
  job          job time, summed over the batch's jobs
  job->end     last job's end to batch end: the fold, the commit log and
               progress reporting

plus the jobs per micro-batch, and the count of jobs that fell in no batch.
Span times are whole milliseconds (Spark's event times), so a phase of 0-1 ms
reads as 0 or 1.
"""
import json
import sys
from collections import defaultdict


def quantile(xs, q):
    """Linear-interpolation quantile (numpy's default)."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def split(path):
    batches, jobs = defaultdict(list), defaultdict(list)
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            s = json.loads(line)
            if s["kind"] == "micro-batch":
                batches[s["parent"]].append(s)
            elif s["kind"] == "job":
                jobs[s["parent"]].append(s)
    rows, orphans = [], 0
    for call, bs in batches.items():
        bs.sort(key=lambda b: b["start_ms"])
        mine = defaultdict(list)
        for j in jobs.get(call, []):
            home = next((i for i, b in enumerate(bs)
                         if b["start_ms"] <= j["start_ms"] <= b["end_ms"]), None)
            if home is None:
                orphans += 1
            else:
                mine[home].append(j)
        for i, b in enumerate(bs):
            js = mine[i]
            row = {"batch": b["end_ms"] - b["start_ms"], "jobs": len(js)}
            if js:
                row["start->job"] = min(j["start_ms"] for j in js) - b["start_ms"]
                row["job"] = sum(j["end_ms"] - j["start_ms"] for j in js)
                row["job->end"] = b["end_ms"] - max(j["end_ms"] for j in js)
            rows.append(row)
    return rows, orphans


def main(paths):
    if not paths:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    for path in paths:
        rows, orphans = split(path)
        print(f"{path}: {len(rows)} micro-batches, {orphans} jobs outside any batch")
        print(f"  {'phase':<12}{'p10':>8}{'p50':>8}{'p90':>8}{'n':>6}")
        for key in ("batch", "start->job", "job", "job->end", "jobs"):
            xs = [r[key] for r in rows if key in r]
            qs = "".join(f"{quantile(xs, q):>8.1f}" for q in (0.1, 0.5, 0.9))
            print(f"  {key:<12}{qs}{len(xs):>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
