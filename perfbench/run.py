#!/usr/bin/env python3
"""Streaming benchmark of the product path: FileBus topic -> MQL pipeline
(typed or schemaless engine) -> `$send` producer -> FileBus topic.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
bench mains from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each pass is a fresh JVM at
local[N], N the cores this process may use, so set-up is measured cold.

--trace 0: one untraced pass; the last stdout line is the end-to-end
    metrics (setup_s, drain_rows_per_s, latency_p50_ms, latency_p99_ms,
    peak_rss_mb).
--trace 1: a traced pass, and a traced single-core pass with a steady
    phase half as long; the last line is the per-layer metrics of the
    traced pass, its end-to-end metrics (traced.*), the tracing overhead
    (overhead.*), the single-core baseline (cores1.*), and the traced
    pass's steal/load stamps (run.*). The overhead compares the traced pass
    with the median of the untraced passes of the workload recorded in
    perfbench/out/ by earlier runs; overhead.base_passes counts them, and
    with none the overhead reads 0. Spans go to perfbench/out/.

Every pass checks the pipeline's outputs against the generator's reference
and fails the run when they differ. A pass whose steady-phase backlog grows
is invalid: the run exits non-zero without a result.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORK = os.path.join(HERE, "work")
STAMP = os.path.join(HERE, "target", "bench-classpath.json")
CORES = len(os.sched_getaffinity(0))  # as nproc counts them
DEADLINE = 0.0  # the run's end, set in main() once the build is done

WORKLOADS = ("stream_stateful", "stream_schemaless")
E2E_UNITS = {"setup_s": "s", "drain_rows_per_s": "1/s", "latency_p50_ms": "ms",
             "latency_p99_ms": "ms", "peak_rss_mb": "MiB"}
# the single-core baseline keeps the numbers a core count should move
CORES1 = ("setup_s", "drain_rows_per_s", "latency_p50_ms", "latency_p99_ms",
          "streaming.trigger_ms_p50", "streaming.add_batch_ms_p50",
          "state.updates_ms_p50", "sinks.produce_ms_p50", "engine.cpu_ns_per_row")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
           os.path.join(ROOT, "project", "build.properties"),
           os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def digest():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build with sbt unless the sources match the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no library sources next to perfbench/ to build")
    d = digest()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            s = json.load(f)
        if s["digest"] == d:
            return s["classpath"]
    log("building with sbt (first run in this checkout)")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: sbt build failed")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"digest": d, "classpath": lines[-1]}, f)
    return lines[-1]


def cpu_ticks():
    """(steal, total) ticks of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_pass(cp, args, name, cores, trace, seconds=None):
    """One JVM pass; returns its result object, stamped with steal/load.
    The pass is killed when the run's deadline passes."""
    tag = "%s-seed%d-%s" % (args.workload, args.seed, name)
    work = os.path.join(WORK, "%s-%d" % (tag, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    res = os.path.join(work, "result.json")
    # a fixed heap and young generation keep the peak RSS a function of
    # what the pipeline holds, not of the collector's adaptive sizing
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseG1GC",
            "-XX:-G1UseAdaptiveIHOP",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.StreamBench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(seconds or args.seconds), "--cores", str(cores),
              "--trace", str(trace), "--work", work, "--out", res,
              "--spans", os.path.join(OUT, tag + "-spans.json")])
    l1, (s0, t0) = load1(), cpu_ticks()
    with open(os.path.join(OUT, tag + ".log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(DEADLINE - time.time(), 1))
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    s1, t1 = cpu_ticks()
    try:
        with open(res) as f:
            r = json.load(f)
    except (OSError, ValueError):
        r = {"error": "no result (exit code %s)" % code}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if "error" in r or code != 0:
        with open(os.path.join(OUT, tag + ".log")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit("perfbench: pass %s failed: %s" % (name, r.get("error")))
    if r["invalid"]:
        sys.exit("perfbench: pass %s invalid: %s" % (name, "; ".join(r["invalid"])))
    r["stamp"] = {"steal_pct": 100.0 * (s1 - s0) / max(t1 - t0, 1), "load1": l1}
    with open(os.path.join(OUT, tag + ".json"), "w") as f:
        json.dump(r, f, indent=1)
    log("%s: %s %s info=%s" % (tag, json.dumps(r["metrics"]),
                               json.dumps(r["stamp"]), json.dumps(r["info"])))
    return r


def untraced(workload):
    """The untraced passes of `workload` recorded in perfbench/out/."""
    found = []
    for name in sorted(glob.glob(os.path.join(OUT, workload + "-seed*-e2e.json"))):
        with open(name) as f:
            found.append(json.load(f))
    return found


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    global DEADLINE
    cp = classpath()
    DEADLINE = time.time() + 175

    if args.trace == 0:
        r = run_pass(cp, args, "e2e", CORES, 0)
        passes = [r]
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in r["metrics"].items()}
    else:
        base = untraced(args.workload)
        traced = run_pass(cp, args, "traced", CORES, 1)
        one = run_pass(cp, args, "cores1", 1, 1, seconds=args.seconds / 2)
        passes = [traced, one]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in traced["layers"].items()}
        for k, v in traced["metrics"].items():
            b = statistics.median(r["metrics"][k] for r in base) if base else v
            metrics["traced." + k] = {"value": v, "unit": E2E_UNITS[k]}
            metrics["overhead." + k + "_pct"] = {"value": 100.0 * (v - b) / b, "unit": "%"}
        metrics["overhead.base_passes"] = {"value": len(base), "unit": "count"}
        both = dict(one["layers"], **one["metrics"])
        for k in CORES1:
            metrics["cores1." + k] = {"value": both[k], "unit": unit_of(k)}
        metrics["run.steal_pct"] = {"value": traced["stamp"]["steal_pct"], "unit": "%"}
        metrics["run.load1"] = {"value": traced["stamp"]["load1"], "unit": "count"}
    print(json.dumps({
        "correct": all(p["correct"] for p in passes),
        "attempted": sum(p["attempted"] for p in passes),
        "failed": sum(p["failed"] for p in passes),
        "metrics": metrics}))


def unit_of(name):
    """The unit a metric name ends in; a plain count otherwise."""
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    for suffix, unit in (("_rows_per_s", "1/s"), ("_ns_per_row", "ns"),
                         ("_bytes", "bytes"), ("_pct", "%"), ("_ms", "ms"),
                         ("_s", "s")):
        if name.endswith(suffix) or suffix + "_" in name:
            return unit
    return "count"


if __name__ == "__main__":
    main()
