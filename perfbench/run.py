#!/usr/bin/env python3
"""Repository benchmark: streaming detection and batch queries, end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
engine and the harness (perfbench/harness, one sbt build); later runs
launch the harness JVM directly. Workloads, metrics and the layer each
per-layer metric belongs to are described in perfbench/README.md and
declared in BENCHMARK.json.

Everything a run creates lives in a temporary directory under the build
directory, removed at exit. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; --trace 0 reports
the end-to-end metrics, --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # keep the checkout clean
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("http_stream", "customs_stream", "batch_suite")
DEADLINE_S = 170          # a run must end within 180 s
BUILD_DEADLINE_S = 840    # the first run in a checkout may take 900 s
# a fixed-size heap and the throughput collector keep the resident set
# (peak_rss_mb) from following the collector's resizing decisions
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs(root):
    """Every file the build reads: engine sources, build definitions and
    the harness sources."""
    paths = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"),
                os.path.join(HERE, "harness", "src"),
                os.path.join(HERE, "harness", "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
    paths.append(os.path.join(HERE, "harness", "build.sbt"))
    return paths


def build(root, build_dir):
    """Compile engine + harness once per distinct source state; return
    the runtime classpath and whether this call compiled."""
    h = hashlib.sha256()
    for p in build_inputs(root):
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            same, cp = f.read().strip() == stamp, g.read().strip()
        # the classpath points into the root build's target/ too, which
        # an `sbt clean` there removes: rebuild if any entry is gone
        if same and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp, False
    log("building engine and harness (sbt)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_DEADLINE_S)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], True


def run_jvm(cp, args, tmp, deadline):
    # no hsperfdata file: the run writes only inside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: harness timed out")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # stop (and so clean up after) children on SIGTERM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("perfbench", "harness", "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"perfbench: run from the repository root ({need} not found)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if os.path.commonpath([os.path.abspath(build_dir), root]) != root:
        build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    cp, built = build(root, build_dir)
    # a run that had to build gets its whole allowance after the build
    deadline = (time.time() if built else t_start) + DEADLINE_S

    tmp = tempfile.mkdtemp(prefix="run-", dir=build_dir)
    try:
        result = os.path.join(tmp, "result.json")
        if a.workload == "batch_suite":
            sys.path.insert(0, HERE)
            import tables
            tables.generate(os.path.join(tmp, "tables"), a.seed)
        t0 = time.time()
        rc = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                          tmp, result], tmp, deadline)
        log(f"harness JVM {time.time() - t0:.1f}s")
        if rc != 0 or not os.path.exists(result):
            raise SystemExit(f"perfbench: harness exited with {rc}")
        with open(result) as f:
            out = json.load(f)
        if a.workload == "batch_suite":
            import oracle
            t0 = time.time()
            n, bad, notes = oracle.check(os.path.join(tmp, "out"), os.path.join(tmp, "tables"))
            log(f"oracle {time.time() - t0:.1f}s")
            out["attempted"] += n
            out["failed"] += bad
            out["findings"] += notes
        if a.trace and os.environ.get("PERFBENCH_TRACE_OUT"):
            shutil.copy(os.path.join(tmp, "trace.jsonl"), os.environ["PERFBENCH_TRACE_OUT"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    report(a, spec, out)


def report(a, spec, out):
    attempted, failed = int(out["attempted"]), int(out["failed"])
    for note in out["findings"]:
        log(f"FINDING: {note}")
    e2e, layers = out["e2e"], out["layers"]
    log(f"{a.workload} seed={a.seed}: failed_frac={failed / max(1, attempted):.6f} "
        f"({failed}/{attempted})")
    for m in spec["end_to_end"]:
        v = e2e.get(m["name"])
        log(f"  {m['name']:>16} = {v} {m['unit']}")
    if a.trace:
        for k in sorted(layers):
            log(f"  layer {k} = {layers[k]}")
        # the traced run's own end-to-end values: minus the untraced
        # medians, they give the tracing overhead
        for k in ("setup_s", "work_s", "latency_p50_ms"):
            layers[f"trace.{k}"] = e2e.get(k, 0.0)
        declared = spec["per_layer"]
        # a metric that does not apply to the workload reads 0
        metrics = {m["name"]: {"value": float(layers.get(m["name"]) or 0.0), "unit": m["unit"]}
                   for m in declared}
    else:
        missing = [m["name"] for m in spec["end_to_end"] if e2e.get(m["name"]) is None]
        if missing:
            raise SystemExit(f"perfbench: no value for {missing}")
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
