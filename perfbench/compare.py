"""Compare two benchmark result sets: counters first, wall time second.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Run from the repository root. A result set is a directory of the
`<workload>-seed<n>-trace<t>.json` files run.py keeps under
.bench_build/results. End-to-end metrics are read from the untraced files
and per-layer metrics from the traced ones, as BENCHMARK.json lists them.
For each workload and metric it takes the median over the seeds on each
side. A counter that perfbench/metrics.json marks deterministic on the
workload repeats exactly for the same inputs, so any change is reported;
every other metric (times, ratios, and counters that follow the timing,
such as micro-batch counts) is reported as changed only when the two
medians differ by more than the base side's own quartile spread. Each
workload ends with a verdict: "did more work" (a deterministic counter
rose), "did less work" (one fell), "waited" (more of the other metrics got
worse than better, with those counters unchanged), "faster", or "noise".
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d, names, trace):
    """workload -> metric -> (unit, values) over the result files of one
    trace mode, restricted to `names`."""
    sets = {}
    for p in glob.glob(os.path.join(d, "*-trace%d.json" % trace)):
        with open(p) as f:
            r = json.load(f)
        for k, m in r["metrics"].items():
            if k in names and m["value"] is not None:
                sets.setdefault(r["workload"], {}).setdefault(k, (m["unit"], []))[1].append(m["value"])
    return sets


def spread(v):
    if len(v) < 2:
        return 0.0
    q = statistics.quantiles(v, n=4)
    return q[2] - q[0]


def main(base_dir, new_dir):
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "metrics.json")) as f:
        det = {k: set(v.get("deterministic_on", ())) for k, v in json.load(f)["metrics"].items()}
    lower = {m["name"]: m["better"] == "lower" for key in ("end_to_end", "per_layer")
             for m in bench[key]}
    base, new = {}, {}
    for key, trace in (("end_to_end", 0), ("per_layer", 1)):
        names = {m["name"] for m in bench[key]}
        for side, d in ((base, base_dir), (new, new_dir)):
            for w, ms in load(d, names, trace).items():
                side.setdefault(w, {}).update(ms)
    for w in sorted(set(base) & set(new)):
        b, n = base[w], new[w]
        common = sorted(set(b) & set(n))
        counters = [k for k in common if w in det.get(k, ())]
        others = [k for k in common if w not in det.get(k, ())]
        more = less = slower = faster = 0
        print("== %s" % w)
        print("-- deterministic counters")
        for k in counters:
            mb, mn = statistics.median(b[k][1]), statistics.median(n[k][1])
            if mb != mn:
                more += mn > mb
                less += mn < mb
                print("  %-44s %14.4f -> %14.4f %s" % (k, mb, mn, b[k][0]))
        print("-- times, ratios and timing-driven counters (changed beyond the base spread)")
        for k in others:
            mb, mn = statistics.median(b[k][1]), statistics.median(n[k][1])
            if abs(mn - mb) > spread(b[k][1]):
                worse = (mn > mb) == lower[k]
                slower += worse
                faster += not worse
                print("  %-44s %14.4f -> %14.4f %s (base spread %.4f, %d base / %d new runs)"
                      % (k, mb, mn, b[k][0], spread(b[k][1]), len(b[k][1]), len(n[k][1])))
        verdict = ("did more work" if more else "did less work" if less else
                   "waited" if slower > faster else "faster" if faster > slower else "noise")
        print("-- verdict: %s" % verdict)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
