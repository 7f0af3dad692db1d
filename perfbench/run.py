#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: sync_backfill, sync_daily, query_reference, query_heavy (see
perfbench/README.md); `--workload all` runs the four one after another,
each in its own JVM. The first run in a checkout builds the engine and
the harness with sbt (into target/ directories and .bench_build/); later
runs reuse the build while the sources are unchanged.

Every metric is printed by name with its unit; the last line of standard
output is one JSON object with the keys correct, attempted, failed and
metrics. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones from a traced run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
PINS = os.path.join(HERE, "pins", "sf0.01.json")
WORKLOADS = ("sync_backfill", "sync_daily", "query_reference", "query_heavy")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_stamp():
    """Hash of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the run classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as f:
        lines = f.read().splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {proc.returncode}); log in {log}")
    cps = [l for l in lines if os.pathsep in l and l.endswith(".jar")
           and not l.startswith("[")]
    if not cps:
        fail(f"build printed no classpath; log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    # write the build's files out now, not during the first timed rounds
    os.sync()
    return cps[-1]


def java_cmd(cp, work):
    """The JVM command line, with every temporary directory inside `work`."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        # Spark's status store keeps every finished job and SQL execution
        # in driver memory; a short history keeps the live-heap figure
        # about the engine rather than about how many rounds fit
        "-Dspark.sql.ui.retainedExecutions=20",
        "-Dspark.ui.retainedJobs=50", "-Dspark.ui.retainedStages=50",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(work, 'local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={work}",
        "-cp", cp, "perfbench.Main",
    ]


def pin(cp):
    work = os.path.join(BUILD, "work", f"pin-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        subprocess.run(java_cmd(cp, work) + ["--pin", "--data", DATA, "--pins", PINS],
                       cwd=work, check=True, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_harness(cp, args, workload, work, result):
    cmd = java_cmd(cp, work) + [
        "--workload", workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", os.path.join(work, "w"), "--data", DATA, "--pins", PINS,
        "--result", result,
    ]
    log = os.path.join(work, "harness.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(log, errors="replace") as f:
        tail = [l for l in f.read().splitlines() if "perfbench" in l or "Exception" in l]
    for l in tail[-20:]:
        print(l, file=sys.stderr)
    if code != 0:
        fail("harness timed out" if code is None else f"harness exited {code}")


def run_workload(cp, args, workload, wanted):
    """Run one workload in its own JVM and print its metrics; the last
    line printed is its JSON result."""
    work = os.path.join(BUILD, "work", f"{workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    try:
        t0 = time.time()
        run_harness(cp, args, workload, work, result)
        with open(result) as f:
            res = json.load(f)
        if args.trace:
            spans = result + ".spans.json"
            keep = os.path.join(BUILD, f"spans-{workload}-{args.seed}.json")
            if os.path.exists(spans):
                shutil.copyfile(spans, keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    for name, m in metrics.items():
        print(f"{name:34s} {m['value']:>16.6g} {m['unit']}")
    for name, v in res.get("info", {}).items():
        if isinstance(v, dict):
            print(f"  {name}: " + ", ".join(f"{k}={x:.3f}" for k, x in v.items()))
        elif not name.endswith("_unit"):
            unit = res["info"].get(f"{name}_unit", "")
            print(f"  {name:32s} {v} {unit}")
    print(f"  run wall {time.time() - t0:.1f} s, attempted {res['attempted']}, "
          f"failed {res['failed']}")
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"harness did not report {missing}")
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": metrics[m["name"]]["value"],
                                "unit": m["unit"]} for m in wanted},
    }))
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="recompute the pinned query digests and exit")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    if args.pin:
        pin(build())
        return
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    spec = benchmark_spec()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cp = build()
    if args.workload != "all":
        run_workload(cp, args, args.workload, wanted)
        return
    results = []
    for w in WORKLOADS:
        print(f"== {w}")
        results.append(run_workload(cp, args, w, wanted))
    print(f"== all: correct {all(r['correct'] for r in results)}, "
          f"attempted {sum(r['attempted'] for r in results)}, "
          f"failed {sum(r['failed'] for r in results)}")


if __name__ == "__main__":
    main()
