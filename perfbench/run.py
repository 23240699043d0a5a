#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM runner with sbt (offline), later runs reuse the build while
the sources are unchanged. Inputs are generated from the seed and cached per
seed under perfbench/.work, outside the timed set-up. The JVM runner sets the
program up, drives the workload through its public entry points and checks
its outputs; this script prints the workload's figures, one per line, and
ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json. With
--trace 1 the workload runs with listeners on and the metrics are the
per-layer metrics of BENCHMARK.json; the report also gives the tracing
overhead (traced minus the checkout's earlier untraced end-to-end figures).
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import inputs  # noqa: E402

WORKLOADS = ("wc_small", "curation_stream")
RUN_LIMIT_S = 170.0
JVM_HEAP = "3g"

# The JVM flags the program's build gives its forked runs: Spark on JDK 17
# needs these module opens when it is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the checkout."""
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            tops += [os.path.join(d, f) for f in sorted(os.listdir(d))
                     if f.endswith((".sbt", ".scala", ".properties"))]
    out = [f for f in tops if os.path.isfile(f)]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dp, dns, fns in os.walk(src):
            dns.sort()
            out += [os.path.join(dp, f) for f in sorted(fns)]
    return out


def build():
    """Compile the program and the runner; return the runtime classpath and
    the sources' digest. Exits non-zero without a result when there is
    nothing to build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        log("the program's sources (build.sbt, src/main/scala) are not beside perfbench/")
        sys.exit(2)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            b = json.load(fh)
        if b.get("digest") == digest and all(os.path.exists(p) for p in b["classpath"]):
            return b["classpath"], digest
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    log("building the program and the benchmark runner (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log("build failed")
        sys.exit(2)
    cp = lines[-1].strip().split(os.pathsep)
    if not any(c.endswith(".jar") for c in cp):
        log("could not read the runtime classpath from sbt")
        sys.exit(2)
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp, digest


def run_jvm(cp, cfg, deadline):
    """Run the JVM runner on one config; return its result dict."""
    run_dir = cfg["work_dir"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    cfg_file = os.path.join(run_dir, "config.json")
    with open(cfg_file, "w") as fh:
        json.dump(cfg, fh)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + (["-Dspark.sql.queryExecutionListeners=perfbench.PlanListener"]
              if cfg["trace"] else [])
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main", cfg_file])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(4)
        # the JVM runs in its own process group: take it down with this script
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(cfg["result_file"]):
        with open(jvm_log, errors="replace") as fh:
            tail = fh.read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        log("the JVM runner timed out" if rc is None else f"the JVM runner exited {rc}")
        return None
    with open(cfg["result_file"]) as fh:
        return json.load(fh)


def number(v):
    """Metric values are finite numbers; a run whose every op failed has an
    infinite median, which is reported as a very large time."""
    return v if math.isfinite(v) else 1e9


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    cp, digest = build()
    # the time limit counts from the end of a build, which only the first
    # run in a checkout pays
    deadline = time.time() + RUN_LIMIT_S - min(time.time() - t_start, 5.0)

    t_gen = time.time()
    inp = inputs.prepare(a.workload, a.seed, a.seconds, os.path.join(WORK, "inputs"))
    for k, v in inp["properties"].items():
        print(f"input.{k} {v}")
    log(f"inputs ready in {time.time() - t_gen:.1f} s (cached per seed)")

    run_dir = os.path.join(WORK, "run", a.workload + ("_traced" if a.trace else ""))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cfg = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": bool(a.trace), "cores": os.cpu_count(), "session_starts": 3,
        "work_dir": run_dir,
        "result_file": os.path.join(run_dir, "result.json"),
        "spans_file": os.path.join(run_dir, "spans.json"),
        **inp["config"],
    }

    # The tracing overhead is the traced run's end-to-end figures minus the
    # untraced ones: the median of this checkout's earlier untraced runs of
    # the workload on the same build (a second JVM run here would not fit
    # the time limit).
    hist_file = os.path.join(WORK, "history", a.workload + ".jsonl")
    history = []
    if os.path.exists(hist_file):
        with open(hist_file) as fh:
            history = [h["metrics"] for h in map(json.loads, filter(str.strip, fh))
                       if h.get("build") == digest]
    res = run_jvm(cp, cfg, deadline)
    if res is None:
        sys.exit(3)
    if not a.trace:
        os.makedirs(os.path.dirname(hist_file), exist_ok=True)
        with open(hist_file, "a") as fh:
            fh.write(json.dumps({"build": digest, "metrics": res["metrics"]}) + "\n")
    base = {k: statistics.median(h[k] for h in history) for k in history[0]} if history else {}

    for k, v in res["report"].items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    for k, v in res["setup_parts"].items():
        print(f"setup.{k} {v:.6g} s")
    for f in res["failures"]:
        print(f"failed: {f['op']}: {f['reason']}")
    if a.trace:
        for k in sorted(res["layers"]):
            print(f"layer {k} {res['layers'][k]:.6g}")
        for k, v in base.items():
            print(f"trace.overhead.{k} {res['metrics'][k] - v:+.6g} (untraced median of {len(history)})")
        if not base:
            print("trace.overhead unavailable: no untraced run of this workload on this build yet")
        print(f"spans {cfg['spans_file']}")

    attempted, failed = res["attempted"], res["failed"]
    metrics = {}
    if a.trace:
        for m in spec["per_layer"]:
            v = res["layers"].get(m["name"], 0.0)
            metrics[m["name"]] = {"value": number(v), "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": number(res["metrics"][m["name"]]), "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
