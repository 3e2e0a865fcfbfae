#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its result.

    python3 perfbench/run.py --workload store_read --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run compiles the library sources
(src/main/scala) together with the benchmark's own Scala files into
.bench_build/ with the Scala compiler that ships with Spark; later runs
reuse that build while the sources are unchanged. Each run generates its
input tables from the seed, runs one JVM (local[k], k = nproc), checks
the outputs, and prints one JSON line last: correct, attempted, failed and
metrics (end-to-end with --trace 0, per layer with --trace 1).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = {
    # workload: (scale factor of the generated tables, tables it reads)
    "store_read": (0.1, ["nation", "customer", "orders"]),
    "store_refresh": (0.1, ["customer", "orders"]),
    "train_pipeline": (0.01, ["lineitem", "documents"]),
}
# Spark on JDK 17 needs these when the session is created outside
# spark-submit (as build.sbt passes them to forked runs)
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# A run must end within 180 s of its start, the build aside. The JVM gets
# what is left after generating the inputs, less the time kept for the
# oracle checks that follow it; it fits its own operations' timeouts and
# output checks into that budget.
RUN_LIMIT_S = 170
ORACLE_RESERVE_S = 25


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jars/ of the Spark installation: $SPARK_HOME, else the one
    spark-submit on PATH belongs to, else the jars pyspark ships."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")


def sources(root):
    lib = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(lib):
        sys.exit("perfbench: library sources src/main/scala not found; "
                 "run from the repository root")
    files = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                               recursive=True))
    return files


def build(root, build_dir, jars):
    """Compile library + benchmark into build_dir/classes unless a build
    of the same sources is already there."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"compiling {len(files)} sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    t0 = time.time()
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", cp, "@" + argfile])
    if r.returncode != 0:
        sys.exit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def cut_short(root, trace, why):
    """The result of a run whose JVM overran its budget: every metric of
    the mode null, one operation attempted and failed."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        names = json.load(fh)["per_layer" if trace else "end_to_end"]
    log(why)
    print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                      "metrics": {m["name"]: {"value": None, "unit": m["unit"]}
                                  for m in names}}))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    jars = spark_jars()
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(root, build_dir, jars)
    t_run = time.time()

    work = os.path.join(build_dir, "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        sf, tables = WORKLOADS[args.workload]
        data = os.path.join(work, "data")
        gen.generate(data, args.seed, sf, tables)
        out = os.path.join(work, "result.json")
        cores = len(os.sched_getaffinity(0))  # what nproc reports
        cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}"]
               + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
                  "perfbench.Main", "--workload", args.workload,
                  "--seed", str(args.seed), "--seconds", str(args.seconds),
                  "--trace", str(args.trace), "--data", data, "--work", work,
                  "--out", out, "--cores", str(cores)])
        limit = RUN_LIMIT_S - ORACLE_RESERVE_S - (time.time() - t_run)
        cmd += ["--budget", f"{limit - 5:.1f}"]  # 5 s to exit
        logf = os.path.join(work, "jvm.log")
        t0 = time.time()
        with open(logf, "w") as lf:
            try:
                # on timeout the JVM is killed and waited for
                r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                   timeout=limit)
            except subprocess.TimeoutExpired:
                cut_short(root, args.trace,
                          f"JVM still running after {limit:.0f} s; killed")
                return
        if r.returncode != 0 or not os.path.exists(out):
            sys.stderr.write(open(logf).read()[-4000:])
            sys.exit(f"perfbench: JVM exited with {r.returncode}")
        t1 = time.time()
        res = json.load(open(out))
        checks = os.path.join(work, "checks")
        if os.path.isdir(checks):
            import oracle  # duckdb and pandas load slowly; only this needs them
            oracle.check_pipeline(data, checks, res)
        log(f"jvm {t1 - t0:.1f} s, oracle checks {time.time() - t1:.1f} s")
        for k, v in res.get("info", {}).items():
            print(f"{k}: {v}")
        failed = min(res["failed"], res["attempted"])
        if "failed_frac" in res["metrics"]:  # the oracle check may add some
            res["metrics"]["failed_frac"]["value"] = failed / res["attempted"]
        print(json.dumps({"correct": failed == 0,
                          "attempted": res["attempted"],
                          "failed": failed,
                          "metrics": res["metrics"]}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
