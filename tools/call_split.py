#!/usr/bin/env python3
"""Split each traced geo_batch call into driver time and job time.

    python3 tools/call_split.py .bench_build/results/geo_batch-seed7-trace1.spans.jsonl [...]

Reads the spans files that `perfbench/run.py --workload geo_batch --trace 1`
writes (one JSON object per line; Spark job spans hang under the call span
they ran in). For every call name, over the calls of the timed passes
(passes named `pass-N`, N >= 0), prints the median in ms of:

  call       call time (start to end)
  pre-job    call start to its first job's start: building the DataFrame,
             planning, and the driver work before the first job is submitted
  in-jobs    time in jobs, summed over the call's jobs
  gaps       time between one job's end and the next job's start, summed
  post-job   last job's end to call end: collecting the result
  jobs       jobs per call

A call with no job counts its whole time as pre-job. Span times of jobs are
whole milliseconds (Spark's event times), so a phase of 0-1 ms reads as 0 or 1.
"""
import json
import re
import sys
from collections import defaultdict
from statistics import median

COLUMNS = ("call", "pre-job", "in-jobs", "gaps", "post-job", "jobs")


def split(path):
    spans = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                spans.append(json.loads(line))
    passes = {s["id"] for s in spans if s["kind"] == "pass"
              and re.fullmatch(r"pass-\d+", s["name"])}
    calls = {s["id"]: s for s in spans if s["kind"] == "call" and s["parent"] in passes}
    jobs = defaultdict(list)
    for s in spans:
        if s["kind"] == "job" and s["parent"] in calls:
            jobs[s["parent"]].append(s)
    rows = defaultdict(list)
    for cid, c in calls.items():
        js = sorted(jobs[cid], key=lambda j: j["start_ms"])
        row = {"call": c["end_ms"] - c["start_ms"], "jobs": len(js)}
        if js:
            row["pre-job"] = js[0]["start_ms"] - c["start_ms"]
            row["in-jobs"] = sum(j["end_ms"] - j["start_ms"] for j in js)
            row["gaps"] = sum(max(0.0, b["start_ms"] - a["end_ms"]) for a, b in zip(js, js[1:]))
            row["post-job"] = c["end_ms"] - max(j["end_ms"] for j in js)
        else:
            row.update({"pre-job": row["call"], "in-jobs": 0.0, "gaps": 0.0, "post-job": 0.0})
        rows[c["name"]].append(row)
    return rows


def main(paths):
    if not paths:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    for path in paths:
        rows = split(path)
        print(f"{path}: medians over the timed passes, ms")
        print(f"  {'name':<16}{'n':>4}" + "".join(f"{c:>10}" for c in COLUMNS))
        for name, rs in rows.items():
            cells = "".join(f"{median(r[c] for r in rs):>10.1f}" for c in COLUMNS)
            print(f"  {name:<16}{len(rs):>4}{cells}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
