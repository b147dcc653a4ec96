#!/usr/bin/env python3
"""End-to-end benchmark of the graft CLI (collect, collect --stream,
compact, query), one workload per run.

    python3 clibench/run.py --workload collect_wide|dashboard|live_tail \
        --seed N --seconds S --trace 0|1
    python3 clibench/run.py --workload all --seed N --seconds S --trace 0|1
    python3 clibench/run.py --self-test

Run from the root of a checkout. The first run compiles the program's
sources (src/main/scala) together with the benchmark's (clibench/src)
into .bench_build/clibench; later runs reuse that build while no source
changed. Each run works in .bench_work/<workload>-s<seed>-t<trace>;
only its out/ dir (report.json, ops.jsonl, spans.jsonl) is kept.

The last stdout line is one JSON object: correct, attempted, failed and
the metrics -- end-to-end ones with --trace 0, per-layer ones with
--trace 1. See clibench/README.md.
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
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build", "clibench")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ["collect_wide", "dashboard", "live_tail"]
# Spark 4 on JDK 17 needs these outside spark-submit (as the program's
# own build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A fixed heap and young generation keep GC work and the resident set
# from depending on when the collector chose to grow the heap.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
RUN_TIMEOUT_S = 170


def die(msg):
    print(f"clibench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        die("no Spark jars found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        die("no java found: set JAVA_HOME or put java on PATH")
    return exe


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        die(f"program sources missing ({PROGRAM_SRC}); run from a full checkout")
    files = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    if not any(f.endswith(os.path.join("graft", "cli", "Main.scala")) for f in files):
        die("graft/cli/Main.scala not found among the program sources")
    return sorted(files)


def build(jars):
    """Compile program + benchmark with scalac; reuse a build whose
    source digest matches."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    rc = subprocess.call(
        [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=sys.stderr)
    if rc != 0:
        die(f"compile failed (rc={rc})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"clibench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


def jvm_cmd(jars, classes, main, args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [java(), *opens, *JVM_MEMORY, "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), main, *args]


def run_one(jars, classes, workload, seed, seconds, trace):
    """One benchmark run in its own work dir; returns (rc, stdout)."""
    work = os.path.join(WORK, f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = jvm_cmd(jars, classes, "clibench.Bench",
                  ["--workload", workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace),
                   "--work", work], work)
    # Spark's scratch space stays in the work dir even where the caller's
    # environment names another one
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"{workload}: no result within {RUN_TIMEOUT_S} s")
    finally:
        for name in os.listdir(work):
            if name != "out":
                shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    return proc.returncode, out


def last_json(out):
    lines = [l for l in out.strip().splitlines() if l.strip()]
    if not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def checked_run(jars, classes, workload, seed, seconds, trace):
    """run_one, or exit non-zero -- never leaving a result line -- when
    the run failed."""
    rc, out = run_one(jars, classes, workload, seed, seconds, trace)
    res = last_json(out)
    if rc != 0 or res is None:
        lines = out.rstrip("\n").split("\n")
        sys.stdout.write("\n".join(lines[:-1] if res is not None else lines) + "\n")
        die(f"{workload}: run failed (rc={rc})")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own unit checks")
    a = ap.parse_args()
    jars = spark_jars()
    classes = build(jars)
    if a.self_test:
        work = os.path.join(WORK, "selftest")
        os.makedirs(work, exist_ok=True)
        sys.exit(subprocess.call(jvm_cmd(jars, classes, "clibench.SelfTest", [], work)))
    if not a.workload:
        ap.error("--workload is required")
    if a.workload != "all":
        sys.stdout.write(checked_run(jars, classes, a.workload, a.seed, a.seconds, a.trace))
        return
    table = []
    for w in WORKLOADS:
        out = checked_run(jars, classes, w, a.seed, a.seconds, a.trace)
        report = json.load(open(os.path.join(WORK, f"{w}-s{a.seed}-t{a.trace}", "out",
                                              "report.json")))
        sys.stdout.write("\n".join(out.rstrip("\n").split("\n")[:-1]) + "\n\n")
        shown = report["per_layer"] if a.trace else {**report["end_to_end"],
                                                     **report["query_tail"]}
        for name, m in shown.items():
            table.append((w, name, m["value"], m["unit"], m["n"]))
        n = max(1, report["attempted"])
        table.append((w, "ops_failed_frac", report["failed"] / n, "ratio", n))
    print(f"{'workload':<13} {'metric':<34} {'value':>16} {'unit':<7} n")
    for w, name, v, unit, n in table:
        print(f"{w:<13} {name:<34} {v:>16.4f} {unit:<7} {n}")
    ok = all(v == 0 for w, name, v, _, _ in table if name == "ops_failed_frac")
    print(json.dumps({"correct": ok, "workloads": WORKLOADS}))


if __name__ == "__main__":
    main()
