#!/usr/bin/env python3
"""Run one workload of the repo benchmark and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The first run builds the program and the
benchmark's JVM code from source with sbt (offline) into ``.bench_build/``; later
runs reuse that build while the sources are unchanged.  Each run then

1. generates the workload's input from ``--seed`` (``gen.py``),
2. starts one JVM (``perfbench.Main``) that sets up a Spark ``local[nproc]``
   session, warms up, and runs the workload's closed loop for ``--seconds``,
3. checks the outputs: pack and range queries against their DuckDB oracles,
   the ETL invariants, and every timed result against its checked warm
   result,
4. prints a readable report, then one JSON line with ``correct``,
   ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
   ``--trace 0``, per-layer metrics with ``--trace 1``).

A full record of the run (box, configuration, every sample) is written to
``.bench_build/records/``.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import workloads  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ----------------------------------------------------------------- box

def nproc():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """JVM heap as the repo's tier-1 run derives it: MemTotal/2 in GiB,
    clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def box_state():
    state = {}
    try:
        with open("/proc/loadavg") as f:
            state["loadavg"] = [float(x) for x in f.read().split()[:3]]
        with open("/proc/stat") as f:
            cpu = f.readline().split()
            state["steal_jiffies"] = int(cpu[8]) if len(cpu) > 8 else 0
    except OSError:
        pass
    return state


def git_head():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# --------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The jars directory of the installed Spark: $SPARK_HOME/jars, else the
    one beside the spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g",
            f"-Dperfbench.sparkJars={spark_jars()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Compile/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("build failed")
    target = os.path.join(BUILD, "target")
    cps = [l.strip() for l in proc.stdout.splitlines() if l.strip().startswith(target)]
    if not cps:
        die("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1]


# ----------------------------------------------------------------- run

def gc_flag():
    """The collector the repo's sbt run picks: GRAFT_GC=parallel (default) or
    g1."""
    gc = os.environ.get("GRAFT_GC", "parallel")
    flags = {"parallel": "-XX:+UseParallelGC", "g1": "-XX:+UseG1GC"}
    if gc not in flags:
        die(f"GRAFT_GC must be 'parallel' or 'g1', got '{gc}'")
    return flags[gc]


def run_jvm(classpath, wl, data_dir, out_dir, args, cores):
    # java.io.tmpdir and spark.local.dir (stream checkpoints, shuffle and
    # spill files) stay inside the checkout, because the benchmark writes
    # nothing outside it. Unlike the repo's sbt run they are therefore never
    # on /dev/shm, and GRAFT_NO_SHM has no effect: state-store commits of the
    # stream gate go to the checkout's file system.
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap_gb()}g", gc_flag(),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}/spark",
            *(["-Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamProgress"]
              if args.trace else []),
            "-cp", classpath, "perfbench.Main",
            "--workload", wl, "--data", data_dir, "--out", out_dir,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores)]
    log = os.path.join(out_dir, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.run(cmd, cwd=out_dir, stdout=f, stderr=subprocess.STDOUT,
                              timeout=150)
    if proc.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"benchmark JVM exited with {proc.returncode}")
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description="Run one workload of the repo benchmark.")
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no program sources under {ROOT}/src/main/scala; run from a checkout root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed to build and run the program")

    cores = nproc()
    classpath = build()

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out_dir = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    data_dir = workloads.make_input(BUILD, args.seed)

    box_before = box_state()
    t0 = time.time()
    res = run_jvm(classpath, args.workload, data_dir, out_dir, args, cores)
    wall = time.time() - t0
    box_after = box_state()

    verdict = workloads.check(res, data_dir, cores, os.path.join(BUILD, "oracle_cache"))
    report = workloads.metrics(args.workload, res, verdict)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input": workloads.describe(args.seed),
        "box": {"nproc": cores, "heap_gb": heap_gb(), "gc": gc_flag(),
                "before": box_before,
                "after": box_after, "git_head": git_head()},
        "config": {"graft_env": res.get("graft_env"),
                   "java_io_tmpdir": res.get("java_io_tmpdir"),
                   "spark_local_dir": res.get("spark_local_dir"),
                   "spark_conf": res.get("spark_conf")},
        "jvm_wall_s": wall, "verdict": verdict, "report": report,
        "layers": res.get("layers"),
        "ops": {"warm": res.get("warm"), "timed": res.get("timed")},
        "samples": res.get("samples"), "figures": res.get("figures"),
    }
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if args.trace:
        shutil.copy(os.path.join(out_dir, "trace.json"),
                    os.path.join(BUILD, "records", run_id + ".trace.json"))
    shutil.rmtree(out_dir, ignore_errors=True)

    for name, m in report["named"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}"
              f" ({m['better']} is better; n={m['n']})")
    for name, m in report["end_to_end"].items():
        print(f"{args.workload} metric {name} = {m['stands_for']}")
    for name, why in verdict["failures"][:20]:
        print(f"{args.workload} FAILED {name}: {why}")
    if args.trace:
        metrics = {k: {"value": v, "unit": workloads.layer_unit(k)}
                   for k, v in sorted(res["layers"].items())}
    else:
        metrics = {k: {"value": v["value"], "unit": v["unit"]}
                   for k, v in report["end_to_end"].items()}
    if any(m["value"] != m["value"] for m in metrics.values()):  # NaN
        die("a metric has no successful samples: " + ", ".join(
            k for k, m in metrics.items() if m["value"] != m["value"]))
    print(json.dumps({"correct": verdict["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
