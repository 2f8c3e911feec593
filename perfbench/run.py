#!/usr/bin/env python3
"""The repository's benchmark: two workloads, `short_queries` (batch plane)
and `stream_intent` (streaming plane), with end-to-end metrics and (with
--trace 1) a per-layer breakdown.

    python3 perfbench/run.py --workload short_queries --seed 1 --seconds 20 --trace 0

Run it from the repository root. The first run compiles the program and the
harness (`perfbench/build.sbt`, sbt); later runs reuse the build until a
source file changes. Each run:

1. makes a temporary directory under `.perfbench_work/`;
2. starts one JVM (graft.perfbench.Main) that sets up a Spark session,
   times the workload's calls into the program and writes raw figures;
3. checks the outputs: oracled queries against DuckDB through
   scripts/local_verify.py, the others inside the JVM;
4. prints, as its last line, one JSON object with `correct`, `attempted`,
   `failed` and `metrics` (the end-to-end metrics of BENCHMARK.json, or its
   per-layer metrics with --trace 1). A traced run also writes its spans to
   `.perfbench_out/spans-<workload>-seed<seed>.jsonl`.

The input tables are copies of the program's sf0.01 test fixtures, kept in
`perfbench/data/` (`--smoke` uses the sf0.001 ones); the seed sets the order
of operations and the stream generator's arrival jitter, not the data.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("short_queries", "stream_intent")
DATA = os.path.join(HERE, "data", "sf0.01")
SMOKE_DATA = os.path.join(HERE, "data", "sf0.001")
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
STREAM_LAYERS = ("stream.", "metrics_store.", "gen.")
PROGRAM_FILES = ("build.sbt", "src/main/scala", "scripts/local_verify.py")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def classpath():
    """Compile the program and the harness if any source is newer than the
    last build; return the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "runtime-classpath.txt")
    sources = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")] + [
        os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    if os.path.isfile(cp_file) and os.path.getmtime(cp_file) >= newest_mtime(sources):
        with open(cp_file) as f:
            cp = f.read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep) if e.endswith("classes")):
            return cp
    log("building (sbt compile)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: steal is time the hypervisor gave
    this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t)


def oracle_failures(data, out, names):
    """Names among `names` that scripts/local_verify.py does not report OK."""
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "local_verify.py"), data, out],
                          cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=120)
    ok = set(re.findall(r"^OK\s+(\S+)", proc.stdout, re.M))
    bad = [n for n in names if n not in ok]
    for line in proc.stdout.splitlines():
        if line and not line.startswith("OK"):
            log(f"local_verify: {line}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 tables")
    args = ap.parse_args()

    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        die(f"not a checkout of the program (missing {', '.join(missing)})")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    load_start = loadavg()
    ticks_start = cpu_ticks()
    cp = classpath()
    t_start = time.time()  # a run's own time limit starts after the build

    data = SMOKE_DATA if args.smoke else DATA
    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    try:
        spans = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl")
        os.makedirs(os.path.join(work, "tmp"))
        log4j = os.path.join(HERE, "conf", "log4j2.properties")
        cmd = ["java", *[a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
               "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp", f"-Dlog4j2.configurationFile={log4j}",
               "-cp", cp, "graft.perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--data", data, "--work", work, "--spans", spans]
        left = RUN_TIMEOUT_S - (time.time() - t_start)
        proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=max(10, left))
        if proc.returncode != 0:
            die(f"harness JVM exited with {proc.returncode}", 1)
        log(f"harness done at {time.time() - t_start:.1f} s")
        with open(os.path.join(work, "jvm_result.json")) as f:
            res = json.load(f)

        failures = list(res["failures"])
        failed = res["failed"]
        if res["oracled"]:
            # a wrong result fails the cold-pass run that wrote it
            bad = oracle_failures(data, res["oracle_out"], res["oracled"])
            failures += [f"{n}@0: differs from its DuckDB oracle" for n in bad]
            failed += len(set(f"{n}@0" for n in bad) - set(res["failed_ops"]))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    log(f"checks done at {time.time() - t_start:.1f} s")
    load_end = loadavg()
    steal, total = (e - s for e, s in zip(cpu_ticks(), ticks_start))
    host = dict(res["host"], load1_start=load_start, load1_end=load_end,
                steal_share=steal / max(total, 1))
    log(f"host: {json.dumps(host)}  samples: {json.dumps(res['samples'])}")
    for msg in failures:
        log(f"FAILED {msg}")

    figures = dict(res["e2e"])
    if args.trace:
        log(f"traced end-to-end: {json.dumps(figures)}")
        figures = dict(res["layers"])
        figures["trace.pass_s"] = res["e2e"]["pass_s"]
        figures.update({f"host.{k}": v for k, v in host.items() if k in (
            "load1_start", "load1_end", "task_util_start", "task_util_end", "steal_share")})
    if args.trace and args.workload != "stream_intent":
        # the streaming layers do not run on a batch workload
        figures.update({m["name"]: 0.0 for m in wanted if m["name"].startswith(STREAM_LAYERS)})
    metrics = {}
    for m in wanted:
        if m["name"] not in figures:
            die(f"metric {m['name']} was not measured", 1)
        metrics[m["name"]] = {"value": figures[m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
