#!/usr/bin/env python3
"""graphdbtd2spark benchmark: one command per workload.

    python3 perfbench/run.py --workload recs_serve --seed 1 --seconds 10 --trace 0

Run from the repository root.  The first run in a checkout builds the
program and the harness with sbt and generates the tables; later runs reuse
both.  Everything the benchmark writes goes under ``.perfbench/``.  The last
line of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  See perfbench/README.md.
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import checks, datagen, metrics, stats, workloads  # noqa: E402

# A run must end within 180 s of its start, not counting the one-off build
# of a fresh checkout.
RUN_BUDGET_S = 175
BUILD_TIMEOUT_S = 700
deadline = time.monotonic() + RUN_BUDGET_S
STATE = ".perfbench"
HARNESS = os.path.join("perfbench", "harness")
# The module opens Spark needs on JDK 17 outside spark-submit (the list the
# repository's build.sbt passes to forked runs).
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


def remaining():
    return deadline - time.monotonic()


def source_digest():
    """Digest of everything the build reads, to tell when to rebuild."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", HARNESS]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(root)
            for f in files if "target" not in d.split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness once per source digest; returns
    the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(STATE, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            done = json.load(f)
        if done["digest"] == digest:
            return done["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = env.get("SBT_OPTS") or " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def data_dir(sf):
    path = os.path.join(STATE, "data", f"sf{sf}")
    if not os.path.exists(os.path.join(path, "done")):
        shutil.rmtree(path, ignore_errors=True)
        datagen.generate(path, sf)
        open(os.path.join(path, "done"), "w").close()
    return os.path.abspath(path)


def cpu_ticks():
    """(steal ticks, total ticks) of the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, ValueError, IndexError):
        return None


def load_avg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return None


def commit():
    """HEAD of the checkout when it is a git repository of its own."""
    if not os.path.exists(".git"):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_harness(classpath, plan, run_dir):
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "graft.perfbench.Harness", plan_path])
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(5, remaining() - 8))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # Also on SIGTERM: never leave the JVM behind.
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(plan["out"]):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {code}")
    with open(plan["out"]) as f:
        return json.load(f)


def execute(args, classpath, trace):
    """One harness run of the workload; returns (result, plan, run_dir)."""
    spec = workloads.WORKLOADS[args.workload]
    sf = spec["sf"]
    run_dir = os.path.abspath(os.path.join(
        STATE, "runs", f"{args.workload}-seed{args.seed}-trace{int(trace)}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan = {
        "workload": args.workload, "data_dir": data_dir(sf),
        "work_dir": run_dir, "out": os.path.join(run_dir, "result.json"),
        "dump_dir": os.path.join(run_dir, "dump"), "trace": trace,
        "seconds": args.seconds, "cores": args.cores,
        "rows": spec["rows"],
    }
    if args.workload == "recs_serve":
        n = datagen.sizes(sf)
        n_parts, n_cust = n["part"], n["customer"]
        plan["requests"] = workloads.recs_requests(args.seed, n_parts, n_cust)
        plan["warmup"] = workloads.warmup_requests(n_parts, n_cust)
        plan["block"] = len(workloads.BLOCK)
        plan["min_blocks"] = workloads.MIN_BLOCKS
        plan["unknown_base"] = workloads.UNKNOWN_BASE
    return run_harness(classpath, plan, run_dir), plan, run_dir


def check(result, plan, workload):
    """Names each wrong operation on stderr; returns the failure count."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "hashes.json")) as f:
        pinned = json.load(f).get(f"sf{workloads.WORKLOADS[workload]['sf']}", {})
    bad = checks.failures(result, workload == "recs_serve", plan["data_dir"],
                          plan["dump_dir"], pinned, ".")
    for name, why in bad:
        print(f"perfbench: WRONG {name}: {why}", file=sys.stderr)
    return len(bad)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # Spark cores and client threads: nproc, at most the 4 that Serve's
    # request pool serves at once.
    args.cores = min(4, len(os.sched_getaffinity(0)))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")
            and os.path.isfile("tools/hash_audit.py")):
        fail("run from the root of a graphdbtd2spark checkout "
             "(build.sbt, src/ and tools/ are missing)")

    global deadline
    built_at = time.monotonic()
    classpath = build()
    deadline += time.monotonic() - built_at
    ticks0, load0 = cpu_ticks(), load_avg()
    result, plan, run_dir = execute(args, classpath, bool(args.trace))
    ticks1, load1 = cpu_ticks(), load_avg()
    failed = check(result, plan, args.workload)
    attempted = len(result["ops"]) + len(result.get("replay", []))

    chosen = (metrics.per_layer(result, args.workload, args.cores)
              if args.trace else metrics.end_to_end(result))

    provenance = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "cores": args.cores, "commit": commit(),
        "source_digest": source_digest(),
        "steal_ticks": (ticks1[0] - ticks0[0]) if ticks0 and ticks1 else None,
        "total_ticks": (ticks1[1] - ticks0[1]) if ticks0 and ticks1 else None,
        "load_avg_start": load0, "load_avg_end": load1,
        "attempted": attempted, "failed": failed,
        "latency_p50_ms": stats.median(metrics.op_ms(result)),
        "latency_p90_ms": stats.percentile(metrics.op_ms(result), 90),
        "measure_s": result["measure_s"],
    }
    with open(os.path.join(run_dir, "provenance.json"), "w") as f:
        json.dump(provenance, f, indent=1)
    if args.trace:
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(metrics.span_summary(result["spans"]), f, indent=1)
    print("provenance " + json.dumps(provenance))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
