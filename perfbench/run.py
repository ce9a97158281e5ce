#!/usr/bin/env python3
"""Benchmark of the graft extraction engine. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each was chosen):
  extract_bulk    single-wave ExtractJob.run over a seeded 6k-doc corpus, P=16
  query_mix       5 SparkEntry.queries over seeded sf0.01 tables, one pass per unit

The first run of a source state builds the program and this harness with sbt
(the harness's own build in perfbench/build.sbt loads the repository's
build.sbt) and keeps a copy of the compiled classes under .bench_build/.
Each run then starts one JVM at local[nproc], sets up its inputs and the
expected outputs, warms up, and runs units back to back (one client, closed
loop) until --seconds of timed units have passed. Every unit's output is
checked outside its timed region; a wrong output makes the run exit 1.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones (see
perfbench/METRICS.md). The last line of stdout is one JSON object; the lines
before it print every metric with its unit, the machine's state and the JVM
flags. Everything is written under .bench_build/ and the run's own work
directory is deleted before exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import tables

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, so a changed program rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt unless this source digest was built before. The
    class directories sbt compiled into are copied under the digest, so a
    later run of the same sources loads exactly the classes built from them,
    whatever sbt has compiled into target/ since."""
    digest = source_digest()
    out = os.path.join(BUILD, f"build-{digest[:16]}")
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    log("building with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       stdin=subprocess.DEVNULL, timeout=800)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.0f} s")
    # Entries inside the checkout are build outputs and get copied; the rest
    # are dependency jars, which do not change.
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.realpath(entry).startswith(os.path.realpath(ROOT) + os.sep) and os.path.exists(entry):
            name = f"{i}-{os.path.basename(entry)}"
            (shutil.copytree if os.path.isdir(entry) else shutil.copy)(entry, os.path.join(tmp, name))
            entry = os.path.join(out, name)
        cp.append(entry)
    with open(os.path.join(tmp, "classpath.txt"), "w") as f:
        f.write(os.pathsep.join(cp))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return os.pathsep.join(cp), digest


def machine_state():
    mem = next((ln.split()[1] for ln in open("/proc/meminfo") if ln.startswith("MemAvailable:")), "?")
    commit = "none"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        commit = p.stdout.strip() or "none"
    return {"nproc": os.cpu_count(), "mem_available_kb": mem,
            "loadavg": open("/proc/loadavg").read().split()[:3], "git_commit": commit}


def steal_s():
    """CPU time the hypervisor gave to others, summed over all CPUs."""
    fields = open("/proc/stat").readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def metric_names(trace):
    """The metric names BENCHMARK.json promises for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["extract_bulk", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for need in ("build.sbt", "src", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found under {ROOT}; run from a full checkout")
    names = metric_names(args.trace)
    classpath, digest = build()
    start = time.time()

    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    state = machine_state()
    steal0 = steal_s()
    try:
        res, gen_s = run_jvm(args, classpath, work, start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    state["steal_s"] = round(steal_s() - steal0, 2)

    metrics = res["metrics"]
    if args.workload == "query_mix" and "setup_s" in metrics:
        metrics["setup_s"]["value"] += gen_s
    attempted, failed = res["attempted"], res["failed"]
    errors = res["errors"] + res.get("check_errors", [])
    failed += len(res.get("check_errors", []))
    attempted += res.get("checked", 0)
    missing = [n for n in names if n not in metrics]
    if missing:
        errors.append(f"metrics not produced: {missing}")
        failed += 1
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
              "source_digest": digest, "machine": state, "jvm": res.get("info", {}),
              "attempted": attempted, "failed": failed, "errors": errors, "metrics": metrics}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{args.workload}-{args.seed}-t{args.trace}-{int(start)}.json"),
              "w") as f:
        json.dump(record, f, indent=1)

    print(f"machine nproc={state['nproc']} mem_available_kb={state['mem_available_kb']} "
          f"loadavg={' '.join(state['loadavg'])} steal_s={state['steal_s']} commit={state['git_commit']} "
          f"source={digest[:16]}")
    print(f"jvm {res.get('info', {}).get('jvm_flags', '')}")
    print(f"samples {res.get('info', {}).get('samples', '?')}")
    for n, m in sorted(metrics.items()):
        print(f"metric {n} {m['value']} {m['unit']}")
    print(f"metric ops_failed_frac {failed / max(attempted, 1)} ratio")
    for e in errors[:20]:
        print(f"error {e}")
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {n: metrics[n] for n in names if n in metrics}}
    print(json.dumps(out), flush=True)
    return 0 if failed == 0 else 1


def java_cmd(classpath, work):
    """The JVM command line up to the main class. The heap is fixed at 2 GiB
    (the inputs' live set is a few hundred MB), so GC work per unit does not
    depend on how far the collector has grown the heap. The young generation
    is fixed at 256 MiB: an extract_bulk unit then sees several young
    collections, so its after-GC heap peak samples the live heap at several
    points. Left to size itself, the collector grew the young generation
    until a unit saw one or two, and the peak moved by up to 20% between
    runs."""
    return (["java", "-Xms2g", "-Xmx2g", "-Xmn256m", f"-XX:ParallelGCThreads={os.cpu_count()}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath])


def run_jvm(args, classpath, work, start):
    """Generates query tables if needed, runs the benchmark JVM, checks
    query results in DuckDB. Returns (result record, table generation s)."""
    tables_dir = os.path.join(work, "tables")
    gen_s = 0.0
    if args.workload == "query_mix" or args.trace:
        t0 = time.time()
        tables.generate(tables_dir, args.seed)
        gen_s = time.time() - t0
    cmd = java_cmd(classpath, work) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--tables", tables_dir,
        "--result", os.path.join(work, "result.json")]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd + ["--spawn-ms", str(int(time.time() * 1000))], cwd=ROOT,
                                stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    with open(jvm_log) as lf:
        for ln in lf:
            if ln.startswith("[perfbench]"):
                sys.stderr.write(ln)
    if rc == "timeout":
        # still a result line, so a slow run reads as slow, not as broken
        return {"attempted": 1, "failed": 1, "metrics": {}, "info": {},
                "errors": [f"benchmark JVM stopped at the {DEADLINE_S} s deadline"]}, gen_s
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(jvm_log).read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM ended with {rc}")
    res = json.load(open(result))
    if args.workload == "query_mix":
        t0 = time.time()
        res["checked"], res["check_errors"] = tables.check(
            tables_dir, os.path.join(work, "oracle_sql.json"),
            [os.path.join(work, "qcheck")])
        log(f"oracle check took {time.time() - t0:.1f} s")
    return res, gen_s


if __name__ == "__main__":
    sys.exit(main())
