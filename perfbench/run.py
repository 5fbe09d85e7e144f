#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. It builds the program and the harness
from source with sbt (skipped while the sources are unchanged), makes
the workload's inputs from the seed, runs the JVM harness for one
workload (one client, closed loop), checks every output outside the
timed region and prints one JSON result as the last line of stdout.
`--trace 0` reports the end-to-end metrics; `--trace 1` reports the
per-layer metrics from a run in which half the passes are traced. `--smoke`
shrinks every input (sf0.001 boards, a 50-state snapshot) for tests.

Everything it writes goes under `.bench_build/` in the checkout.
Workload definitions, the layer map and the metric definitions live in
`perfbench/workloads.json`.
"""
import argparse
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# A run must end within 180 s once built; the JVM gets what is left.
DEADLINE_S = 165.0
BUILD_TIMEOUT_S = 850
# Heap for build.sbt's SPARK_DRIVER_MEM knob, kept small so the JVM fits a shared host.
DRIVER_MEM = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _source_files():
    roots = [(ROOT, ["build.sbt"]), (os.path.join(ROOT, "project"), None),
             (os.path.join(ROOT, "src", "main"), None),
             (HERE, ["build.sbt"]), (os.path.join(HERE, "project"), None),
             (os.path.join(HERE, "src"), None)]
    files = []
    for base, names in roots:
        if names is not None:
            files += [os.path.join(base, n) for n in names]
            continue
        for d, dirs, fs in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return files


def _stamp():
    import hashlib
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(f"{DRIVER_MEM}|{os.environ.get('SPARK_GRAFT_GC_OPT', '')}".encode())
    return h.hexdigest()


def build():
    """Compile program + harness; returns the launch spec."""
    launch_path = os.path.join(BUILD, "launch.json")
    stamp_path = os.path.join(BUILD, "stamp")
    stamp = _stamp()
    if os.path.exists(launch_path) and os.path.exists(stamp_path):
        with open(stamp_path) as f, open(launch_path) as g:
            launch = json.load(g)
            if f.read() == stamp and all(os.path.exists(p) for p in launch["classpath"]):
                return launch
    env = dict(os.environ, SPARK_DRIVER_MEM=DRIVER_MEM, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        # the tier-1 build's offline settings: resolve from local caches only
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = _run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "-Dsbt.server.autostart=false", "compile", "launchFile"],
                        cwd=HERE, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(launch_path):
        fail(f"build failed (exit {rc}); see .bench_build/build.log")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    with open(launch_path) as f:
        return json.load(f)


def _run_group(cmd, cwd, env, stdout, timeout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec_all = json.load(f)
    wl = spec_all["workloads"].get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload!r}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no program sources next to the benchmark (build.sbt, src/main/scala/graft)")

    os.makedirs(BUILD, exist_ok=True)
    launch = build()
    t_start = time.time()

    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    scale = wl["smoke"] if args.smoke else wl["scale"]

    # inputs: made three times from the seed, the median time is set-up
    gen_times, inputs = [], None
    for i in range(3):
        d = os.path.join(work, f"inputs{i}")
        t0 = time.perf_counter()
        if wl["kind"] == "board":
            gen.board_tables(args.seed, scale["sf"], d)
            inputs = {"data_dir": d}
        else:
            inputs = {"snapshots": gen.medallion_inputs(
                args.seed, scale["states"], scale["snapshots"],
                spec_all["medallion_base_epoch"], d)}
        gen_times.append(time.perf_counter() - t0)
        if i < 2:
            shutil.rmtree(d)
    gen_s = statistics.median(gen_times)

    cores = len(os.sched_getaffinity(0))
    spec = {
        "workload": args.workload, "kind": wl["kind"], "seed": args.seed,
        "seconds": args.seconds, "trace": bool(args.trace), "cores": cores,
        "work_dir": work, "result": os.path.join(work, "result.json"),
    }
    if wl["kind"] == "board":
        spec["board"] = {"data_dir": inputs["data_dir"], "queries": wl["queries"],
                         "warmup_passes": scale["warmup_passes"]}
    else:
        spec["medallion"] = {"lake_dir": os.path.join(work, "lake"),
                             "snapshots": inputs["snapshots"],
                             "warmup_runs": scale["warmup_runs"]}
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)

    cmd = (["java"] + launch["java_options"] + [f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(launch["classpath"]), "perfbench.Harness", spec_path])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    budget = DEADLINE_S - (time.time() - t_start)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        rc = _run_group(cmd, cwd=work, env=env, stdout=out, timeout=budget)
    if rc != 0 or not os.path.exists(spec["result"]):
        fail(f"harness exited {rc}; see {os.path.relpath(work, ROOT)}/jvm.log", 1)
    with open(spec["result"]) as f:
        result = json.load(f)

    verdict = checks.check(wl["kind"], result, inputs, work)
    report = metrics.report(wl, result, verdict, gen_s, args.trace)
    report["checks"] = verdict
    report["session"] = result["session"]
    report["seed"] = args.seed
    if args.trace:
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump(result.get("trace", {}).get("spans", []), f)
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "detail": report["detail"]}))
    print(json.dumps({"correct": verdict["ok"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": report["metrics"]}))


if __name__ == "__main__":
    main()
