"""Benchmark launcher: build, generate seeded inputs, run one workload in a
fresh JVM, check, and print every metric.

    python3 perfbench/run.py --workload geo_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The JVM side (perfbench/src) is compiled
together with the library's sources (src/main/scala) against the Spark jars
the root build uses, into .bench_build/, and reused while no source changes.
Prints `name value unit workload` for every metric it measured, then, as its
last line, one JSON object with the end-to-end metrics (--trace 0) or the
per-layer metrics (--trace 1). Exits non-zero if the build, the run or any
correctness check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
JVM_TIMEOUT_S = 170

# Workload sizes. Why each workload exists, and what each metric should
# move, is in perfbench/metrics.json.
GEO_POINTS = 30000
GEO_WARM_PASSES = 4    # untimed geo_batch passes on the separate warm-up points
STREAM_RATE = 20000.0  # items/s, a third of the knee measured for this stream
WARM_STREAM_S = 8      # length of the item_stream warm-up stream, in seconds of schedule
CORPUS_DOCS = 400

# Spark 4 on JDK 17 needs these when a session is created outside
# spark-submit; the same list as the root build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def sources():
    lib = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not lib:
        fail("no library sources under src/main/scala: run from the repository root")
    own = sorted(glob.glob(os.path.join(os.path.relpath(HERE), "src", "**", "*.scala"),
                           recursive=True))
    return lib + own


def build(jars):
    """Compile library + benchmark once per source content hash."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    t = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    os.replace(tmp, out)
    print("# built %d sources in %.1f s" % (len(srcs), time.time() - t))
    return out


def host_state():
    """nproc, load, cgroup cpu.max and PSI, as the kernel reports them."""
    def read(p):
        try:
            with open(p) as f:
                return f.read().strip()
        except OSError:
            return None
    s = {"nproc": len(os.sched_getaffinity(0)), "loadavg": read("/proc/loadavg"),
         "cpu.max": read("/sys/fs/cgroup/cpu.max")}
    for r in ("cpu", "memory", "io"):
        s["psi." + r] = read("/proc/pressure/" + r)
    return s


def gen(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "gen.py")] + [str(a) for a in args],
                       stdout=subprocess.PIPE, text=True, check=True)
    print("# input " + r.stdout.strip())


def prepare(workload, seed, seconds, traced, ind):
    """Write the workload's inputs (untimed); return JVM params and the
    generator process, if any."""
    if workload == "geo_batch":
        gen("points", os.path.join(ind, "points.csv"), GEO_POINTS, seed)
        gen("points", os.path.join(ind, "warm_points.csv"), GEO_POINTS, seed + 104729)
        return {"n": GEO_POINTS, "warm": GEO_WARM_PASSES}, None
    if workload == "item_stream":
        if traced:  # the artifact lifecycle runs after the streams
            gen("corpus", os.path.join(ind, "corpus"), CORPUS_DOCS, seed)
            gen("corpus", os.path.join(ind, "warm_corpus"), CORPUS_DOCS // 4, seed + 104729)
        # one timed stream (two in a traced run: untraced, then traced)
        n = int(STREAM_RATE * seconds / (2 if traced else 1))
        warm_n = int(STREAM_RATE * WARM_STREAM_S)
        files = ["warm_items.txt", "items_1.txt"] + (["items_2.txt"] if traced else [])
        for i, f in enumerate(files):
            count = warm_n if i == 0 else n
            # 10% past n, so the stop-at-n overshoot is exercised
            gen("items", os.path.join(ind, f), int(count * 1.1) + 1, seed * 10 + i)
        server = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "serve", os.path.join(ind, "port"),
             os.path.join(ind, "gen_status.jsonl"), str(STREAM_RATE)]
            + [os.path.join(ind, f) for f in files])
        return {"rate": STREAM_RATE, "n": n, "warm_n": warm_n}, server
    fail("unknown workload " + workload)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        with open("BENCHMARK.json") as f:
            bench = json.load(f)
    except OSError:
        fail("no BENCHMARK.json: run from the repository root")
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        fail("unknown workload " + a.workload)
    # the workloads on which each per-layer metric's layer does work
    with open(os.path.join(HERE, "metrics.json")) as f:
        active = {k: set(v["workloads"]) for k, v in json.load(f)["metrics"].items()
                  if "workloads" in v}

    jars = spark_jars()
    classes = build(jars)
    run_dir = os.path.abspath(os.path.join(
        BUILD, "runs", "%s-%d-%d-%d" % (a.workload, a.seed, a.trace, os.getpid())))
    ind, outd, tmpd = (os.path.join(run_dir, d) for d in ("in", "out", "tmp"))
    for d in (ind, outd, tmpd):
        os.makedirs(d)
    state_start = host_state()
    t = time.time()
    params, server = None, None
    try:
        params, server = prepare(a.workload, a.seed, a.seconds, a.trace == 1, ind)
        gen_s = time.time() - t
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--in", ind, "--out", outd,
                    "--threads", str(state_start["nproc"])]
        for k, v in params.items():
            jvm_args += ["--" + k, str(v)]
        # a fixed heap: with -Xms at its default, each full collection the
        # heap probe makes shrinks the heap, and the pass after it regrows it
        # through many more young collections (geo_batch pass_s swung 3.2-5.1 s
        # from run to run; with a fixed heap, 2.8-3.2 s)
        cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m",
                "-Djava.io.tmpdir=" + tmpd]
               + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
               + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"])
        launch_ms = time.time() * 1000.0
        # Spark's scratch (block manager and shuffle files) goes under the run
        # directory: SPARK_LOCAL_DIRS takes precedence over the spark.local.dir
        # the library's session sets
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmpd)
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            jvm = subprocess.Popen(cmd + jvm_args + ["--launch-ms", "%.3f" % launch_ms],
                                   stdout=log, stderr=subprocess.STDOUT, env=env)
            try:
                code = jvm.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
                code = "timeout"
    finally:
        if server is not None:
            server.terminate()
            server.wait()
    state_end = host_state()
    for k in sorted(state_start):
        print("# host %s start=%s end=%s" % (k, str(state_start[k]).replace("\n", " | "),
                                             str(state_end[k]).replace("\n", " | ")))

    result_path = os.path.join(outd, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("JVM exited with %s" % code)
    with open(result_path) as f:
        res = json.load(f)
    metrics = {k: (v["value"], v["unit"]) for k, v in res["metrics"].items()}
    if a.trace == 1:
        metrics["bench.gen_s"] = (gen_s, "s")
        if a.workload != "item_stream":
            metrics["bench.gen_late_ms_max"] = (0.0, "ms")  # no open-loop generator
    for note in res["notes"]:
        print("# " + note)
    for k, (v, u) in metrics.items():
        print("%s %s %s %s" % (k, v, u, a.workload))

    out, missing = {}, []
    for m in bench["end_to_end" if a.trace == 0 else "per_layer"]:
        name = m["name"]
        if name in metrics and metrics[name][0] is not None:
            out[name] = {"value": metrics[name][0], "unit": m["unit"]}
        elif a.trace == 1 and a.workload not in active[name]:
            out[name] = {"value": 0.0, "unit": m["unit"]}  # layer idle on this workload
        else:
            missing.append(name)
    ok = res["failed"] == 0 and not missing
    if missing:
        print("# missing metrics: " + " ".join(missing))
    # keep the result set (for compare.py) and the spans; drop inputs and artifacts
    keep = os.path.join(BUILD, "results")
    os.makedirs(keep, exist_ok=True)
    stem = os.path.join(keep, "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace))
    with open(stem + ".json", "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "attempted": res["attempted"], "failed": res["failed"],
                   "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                   "host": {"start": state_start, "end": state_end}}, f, indent=1)
    shutil.copy(os.path.join(run_dir, "jvm.log"), stem + ".log")
    for spans in ("spans.jsonl", "lifecycle/spans.jsonl"):
        if os.path.exists(os.path.join(outd, spans)):
            shutil.copy(os.path.join(outd, spans), stem + "." + spans.replace("/", "."))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": ok, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": out}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
