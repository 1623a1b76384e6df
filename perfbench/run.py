#!/usr/bin/env python3
"""graft benchmark: chess ELT, streaming catch-up, query panel and job-bound tail.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

The first run compiles the program (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler shipped in
the Spark distribution, into the build directory ($CARGO_TARGET_DIR, else
.bench_build). Each run starts one fresh JVM for one workload at
local[<cores>]. Inputs, outputs, logs and span files go under .bench_work/.

The last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1. The lines before it give
every figure with unit, n, median and quartiles. The exit code is 0 only when
every operation ran and passed its output check.

Other modes:
    --selftest                 run the benchmark's own unit checks
    --tamper expected|digest   corrupt one expectation; the run must fail
    --record-digests           panel/tail: write perfbench/digests.json
"""
import argparse
import glob
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
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("pipeline", "catchup", "panel", "tail")
JVM_TIMEOUT_S = 170
HEAP = "3g"
# C1 only, and no flushing of compiled code. Under the default tiered JIT,
# C2 keeps compiling Spark's driver paths (about a thousand methods per 10 s,
# for minutes) on the same 4 cores as the run, so a query pass got a third
# faster over one run and two runs of the same code differed by a quarter.
# C1 is done within the first untimed pass; with flushing on, a pass about
# 40 s into the run was repeatedly slowed twofold while flushed methods were
# recompiled.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:-UseCodeCacheFlushing"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        sys.exit("perfbench: no Spark jars found (set SPARK_HOME or put spark-submit on PATH)")
    return jars


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        sys.exit(f"perfbench: program sources not found at {os.path.relpath(program)}; "
                 "run from the root of a checkout")
    files = []
    for base in (program, os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile program + benchmark sources once per source state."""
    srcs = sources()
    jars = spark_jars()
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = os.path.join(out, "classes")
    h = hashlib.sha256()
    for f in srcs + [os.path.basename(j) for j in jars]:
        h.update(f.encode())
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes, jars
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-d", classes, "-classpath", os.pathsep.join(jars), "-nowarn"] + srcs))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    with open(os.path.join(out, "build.log"), "w") as lf:
        rc = subprocess.call(["java", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
                              "scala.tools.nsc.Main", "@" + argfile],
                             stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
    if rc != 0:
        sys.stderr.write(open(os.path.join(out, "build.log")).read()[-4000:])
        sys.exit(f"perfbench: compile failed ({rc})")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes, jars


def jvm(main, classes, jars, args, logpath):
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources")] + jars)
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}"] + JIT + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, main] + args
    with open(logpath, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"{main} exceeded {JVM_TIMEOUT_S} s and was stopped")
            rc = -9
        finally:
            # also when this script is interrupted or terminated
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return rc


def fmt(x):
    return f"{x:.6g}" if isinstance(x, (int, float)) else str(x)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tamper", choices=("expected", "digest"))
    ap.add_argument("--record-digests", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    classes, jars = build()
    os.makedirs(WORK, exist_ok=True)

    if a.selftest:
        rc = jvm("graftbench.SelfTest", classes, jars, ["--work", os.path.join(WORK, "selftest")],
                 os.path.join(WORK, "selftest.log"))
        sys.stdout.write(open(os.path.join(WORK, "selftest.log")).read())
        sys.exit(rc)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    result = os.path.join(WORK, f"result_{a.workload}.json")
    if os.path.exists(result):
        os.remove(result)
    shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK,
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--digests", os.path.join(HERE, "digests.json"), "--out", result]
    if a.tamper:
        args += ["--tamper", a.tamper]
    if a.record_digests:
        args.append("--record-digests")
    logpath = os.path.join(WORK, f"jvm_{a.workload}.log")
    t0 = time.time()
    rc = jvm("graftbench.Main", classes, jars, args, logpath)
    log(f"{a.workload}: JVM exit {rc} after {time.time() - t0:.1f} s; log {os.path.relpath(logpath, ROOT)}")
    if not os.path.exists(result):
        sys.stderr.write(open(logpath).read()[-6000:])
        sys.exit(f"perfbench: {a.workload} produced no result")
    r = json.load(open(result))

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  local[{r['cores']}]  "
          f"attempted {r['attempted']}  failed {r['failed']}")
    for f in r["failures"]:
        print(f"  FAILED: {f}")
    print(f"  {'metric':24s} {'unit':8s} {'n':>4s} {'median':>12s} {'q1':>12s} {'q3':>12s}")
    for m in r["report"]:
        print(f"  {m['name']:24s} {m['unit']:8s} {m['n']:4d} {fmt(m['median']):>12s} "
              f"{fmt(m['q1']):>12s} {fmt(m['q3']):>12s}")
    for k in ("order", "warmup_s", "pairs", "rounds", "drains", "percentile_rule", "reconcile",
              "layer_probes_s"):
        if k in r["notes"]:
            print(f"  {k}: {json.dumps(r['notes'][k])}")

    history = os.path.join(WORK, f"history_{a.workload}.jsonl")
    if a.trace == 0 and r["correct"]:
        with open(history, "a") as fh:
            fh.write(json.dumps(r["end_to_end"]) + "\n")
    if a.trace == 1:
        for k, v in r["per_layer"].items():
            print(f"  layer {k:28s} {fmt(v)}")
        past = [json.loads(l) for l in open(history)] if os.path.exists(history) else []
        if past:
            for k, v in r["end_to_end"].items():
                base = statistics.median(p[k] for p in past)
                print(f"  tracing overhead {k:12s} {fmt(v - base):>10s} "
                      f"(traced {fmt(v)} - untraced median {fmt(base)} of {len(past)} runs)")
        else:
            print("  tracing overhead: no untraced run of this workload in this checkout yet")
        print(f"  spans: {os.path.relpath(os.path.join(WORK, f'spans_{a.workload}.json'), ROOT)}")

    section = "per_layer" if a.trace else "end_to_end"
    metrics = {m["name"]: {"value": r[section].get(m["name"]), "unit": m["unit"]}
               for m in bench[section]}
    print(json.dumps({"correct": bool(r["correct"]) and rc == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if r["correct"] and rc == 0 else 1)


if __name__ == "__main__":
    main()
