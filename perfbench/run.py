#!/usr/bin/env python3
"""Steady-state benchmark for graft: KG build and the SHACL validation service,
each measured inside its own workload JVM.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first call builds the program and the
harness from source with sbt (offline) into the checkout; later calls reuse the
build while no source file has changed. The last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Diagnostics (warm-up series, host noise probes) go on the line before it.
The exit code is 0 only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
LAUNCH = os.path.join(HARNESS, "target", "launch")
RUN_DIR = os.path.join(ROOT, ".bench_run")

HEAP = "2g"  # pinned: -Xms = -Xmx
# span-name prefixes each workload records in its traced run
SPANS = {
    "kg_build": ("first_op.", "kg.", "rdf.materialize.", "shacl.report.", "trace."),
    "shacl_service": ("first_op.", "service.", "shacl.validator_run.", "rdf.parse_turtle.",
                      "shacl.parse_shapes.", "lubm.", "trace."),
}
SETUP_JVMS = 1  # set-up-only JVMs before the workload JVM
DEADLINE_S = 170  # every JVM of a run ends within this


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark; run from a full checkout")
    digest = source_digest()
    stamp = os.path.join(LAUNCH, "digest")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "writeLaunch"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0 or not os.path.isfile(os.path.join(LAUNCH, "classpath.txt")):
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)


def steal_ticks():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def calibration_ms():
    """A fixed single-thread loop; its time shows how fast the host ran."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t0) * 1000


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java(main_class, args, work, deadline):
    """Runs one harness JVM with its scratch under `work`; returns the text of
    the file it writes to `--out`, or exits 2 when it failed or ran past
    `deadline` (a time.monotonic() value)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.out")
    if os.path.exists(out):
        os.remove(out)
    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        classpath = ":".join(line.strip() for line in f if line.strip())
    with open(os.path.join(LAUNCH, "jvm_options.txt")) as f:
        opts = [o.strip() for o in f if o.strip() and not o.startswith("-Xm")]
    cmd = (["java"] + opts +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, main_class] + args +
           ["--out", out, "--work", work, "--repo", ROOT, "--cores", str(cores())])
    log_path = work + ".log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    text = None
    if code == 0 and os.path.isfile(out):
        with open(out) as f:
            text = f.read()
    shutil.rmtree(work, ignore_errors=True)
    if text is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{main_class} {'timed out' if code is None else f'exited {code}'}; log {log_path}")
    os.remove(log_path)
    return text


def run_workload(args, deadline):
    """SETUP_JVMS set-up-only JVMs, then the workload JVM; `setup_s` is the
    median set-up time (JVM start to inputs ready) of all of them."""
    base = os.path.join(RUN_DIR, f"{args.workload}-{os.getpid()}")
    wl_args = ["--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
    setups = [json.loads(java("graftbench.Main", wl_args + ["--setup-only", "1"], f"{base}-setup{i}",
                              deadline))["setup_s"]
              for i in range(SETUP_JVMS)]
    r = json.loads(java("graftbench.Main", wl_args, base, deadline))
    setups.append(r["setup_s"])
    r["setup_s_each"] = setups
    r["e2e"]["setup_s"] = {"value": statistics.median(setups), "unit": "s"}
    return r


def declared_layers(workload, measured):
    """The per-layer metrics BENCHMARK.json declares, in its order. A metric
    of a span this workload runs must have been measured; one of a span it
    does not run reads 0. Measured extras are returned apart."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer"]
    names = {m["name"] for m in declared}
    lost = [m["name"] for m in declared
            if m["name"] not in measured and m["name"].startswith(SPANS[workload])]
    if lost:
        fail(f"{workload} did not record {lost}")
    out = {m["name"]: measured.get(m["name"], {"value": 0, "unit": m["unit"]}) for m in declared}
    return out, {k: v for k, v in measured.items() if k not in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build()
    host = {"loadavg_start": loadavg(), "calibration_ms_before": calibration_ms()}
    steal0 = steal_ticks()
    r = run_workload(args, time.monotonic() + DEADLINE_S)
    host.update(steal_ticks=steal_ticks() - steal0, loadavg_end=loadavg(),
                calibration_ms_after=calibration_ms())

    metrics = r["e2e"]
    if args.trace:
        metrics, extra = declared_layers(args.workload, r["layers"])
        r["undeclared_layers"] = extra
    missing = [k for k, v in metrics.items() if v["value"] is None]
    diag = {k: r[k] for k in ("workload", "seed", "cores", "heap_max_mb", "failures", "setup_s_each", "first_op",
                              "warmup_passes", "measured_passes", "measured_op_samples", "measure_s",
                              "first_measured_pass_vs_last_warm", "undeclared_layers")
            if k in r}
    diag["failed_ratio"] = r["failed"] / max(1, r["attempted"])
    diag["host"] = host
    print(json.dumps({"diagnostics": diag}))
    if missing:
        fail(f"metrics without a value: {missing}")
    correct = r["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
