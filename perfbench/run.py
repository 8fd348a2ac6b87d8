#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke          # every workload at tiny sizes

Run from the repository root. The first run builds the engine and the
benchmark's JVM side with sbt (perfbench/build.sbt loads the root build);
later runs reuse the build until a source changes. Each run generates its
inputs from --seed, starts one JVM that runs the workload's setup and its
timed window (see perfbench/src), checks the outputs, and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(from a run whose odd cycles are traced). The line before it carries the
workload's own figures ({"detail": ...}).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.time()


def cpu_ticks():
    """Aggregate CPU ticks from /proc/stat (Linux): user ... steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


TICKS_START = cpu_ticks()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

OLAP_QUERIES = ["q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
                "q18_large_orders", "a7_moments", "w1_window_running"]

# Input sizes per workload; "smoke" exercises the harness in seconds.
SIZES = {
    "etl_batch": {
        "full": {"files": 24, "rows": 2000, "warm_files": 6, "warm_rows": 2000},
        "smoke": {"files": 4, "rows": 50, "warm_files": 2, "warm_rows": 20}},
    "curate_corpus": {
        "full": {"base_docs": 40, "expansion": 8, "exact_share": 0.2,
                 "near_share": 0.2, "boilerplate_share": 0.6},
        "smoke": {"base_docs": 20, "expansion": 8, "exact_share": 0.2,
                  "near_share": 0.2, "boilerplate_share": 0.6}},
    "olap_scan": {
        "full": {"lineitem_rows": 200000, "queries": OLAP_QUERIES},
        "smoke": {"lineitem_rows": 6000, "queries": OLAP_QUERIES}},
}
WORKLOADS = list(SIZES)

LAUNCH = os.path.join(HERE, "target", "launch")
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source():
    """Latest mtime over every input of the build."""
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.exists(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile engine + harness with sbt unless the last build is current.
    Returns whether it built."""
    stamp = os.path.join(LAUNCH, "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_source():
        return False
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources next to perfbench/ — run from the repo root")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt writeLaunch)")
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if p.returncode != 0 or not os.path.exists(stamp):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {p.returncode})")
    log(f"built in {time.time() - t:.0f}s")
    return True


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def launch(args, inputs, work, out, deadline):
    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        cp = ":".join(x for x in f.read().split("\n") if x)
    with open(os.path.join(LAUNCH, "jvm_opts.txt")) as f:
        jvm_opts = [x for x in f.read().split("\n") if x]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + tmp]
           + jvm_opts + ["-cp", cp, "perfbench.Main",
                         "--workload", args.workload, "--inputs", inputs, "--work", work,
                         "--seconds", str(args.seconds), "--trace", str(args.trace),
                         "--cores", str(cores()), "--out", out,
                         "--run-id", f"{args.workload}-{args.seed}-{args.trace}"])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    return rc


def steal_share():
    """Share of the machine's CPU time taken by the hypervisor since start:
    on a shared host, the contention a run was measured under."""
    d = [b - a for a, b in zip(TICKS_START, cpu_ticks())]
    return d[7] / max(1, sum(d))


def metrics_of(res, args, setup_s):
    m = {}
    if args.trace:
        for k, v in checks.layer_metrics(res).items():
            m[k] = {"value": v[0], "unit": v[1]}
    else:
        m["call_s"] = {"value": res["call_s"], "unit": "s"}
        m["items_per_s"] = {"value": res["items"] / res["timed_wall_s"], "unit": "1/s"}
        m["setup_s"] = {"value": setup_s, "unit": "s"}
    return m


def run_one(args):
    # a run ends within 180 s, or 900 s when it had to build first
    built = build()
    deadline = T_START + (880 if built else 165)
    # set-up starts here: a build is not the program's set-up
    setup_start = time.time()
    size = "smoke" if args.smoke else "full"
    work = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        expect = gen.generate(args.workload, inputs, args.seed, SIZES[args.workload][size])
        out = os.path.join(work, "result.json")
        rc = launch(args, inputs, os.path.join(work, "engine"), out, deadline)
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "engine", "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: engine run failed (exit {rc})")
        with open(out) as f:
            res = json.load(f)
        setup_s = res["first_call_ms"] / 1000.0 - setup_start
        py_checks = checks.check(args.workload, res, expect, inputs)
        attempted = res["attempted"] + len(py_checks)
        failed = res["failed"] + sum(1 for c in py_checks if not c["ok"])
        all_checks = res["checks"] + py_checks
        bad = [c for c in all_checks if not c["ok"]]
        for c in bad[:10]:
            log(f"check failed: {c['name']}: {c['detail']}")
        if res.get("error"):
            log(f"error: {res['error']}")
        detail = dict(res["detail"], setup_s=setup_s, calls=res["calls"],
                      call_samples_s=res["call_samples_s"],
                      cpu_steal_share=steal_share(),
                      build_s=setup_start - T_START if built else 0.0,
                      setup_parts_s={"inputs_and_launch": res["jvm_start_ms"] / 1e3 - setup_start,
                                     "session": (res["session_ms"] - res["jvm_start_ms"]) / 1e3,
                                     "warmup": (res["first_call_ms"] - res["session_ms"]) / 1e3},
                      fail_ratio=failed / attempted, timed_wall_s=res["timed_wall_s"],
                      span_coverage=res["span_coverage"], env=dict(res["env"], nproc=os.cpu_count()),
                      checks=len(all_checks))
        if args.trace:
            detail["layers"] = res["layers"]
        print(json.dumps({"detail": detail}, default=str))
        correct = not bad and not res.get("error")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics_of(res, args, setup_s)}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; without --workload, every workload once")
    args = ap.parse_args()
    if args.smoke and not args.workload:
        for w in WORKLOADS:
            for tr in (0, 1):
                subprocess.run([sys.executable, __file__, "--smoke", "--workload", w,
                                "--seed", str(args.seed), "--seconds", "1", "--trace", str(tr)],
                               check=True)
        return
    if not args.workload:
        ap.error("--workload is required")
    run_one(args)


if __name__ == "__main__":
    main()
