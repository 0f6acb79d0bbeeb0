"""Benchmark entry point: runs one workload and prints one JSON line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout of the program.  The first run builds the
program and the benchmark's JVM program with sbt (the classpath is cached under
.bench_build/); every run then generates its inputs from the seed, starts
one JVM that sets up and runs whole rounds for at least S seconds,
checks the outputs outside the timed region, and prints as its last line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

# The benchmark's declaration: workloads, metrics and bounds.
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    BENCHMARK = json.load(_fh)
END_TO_END = BENCHMARK["end_to_end"]
PER_LAYER = BENCHMARK["per_layer"]

# Steps of one round per workload, named <layer>.<step> after the
# program's packages; a round attempts each once.
STEPS = {
    "ai_update": ["normalize.crossref_snapshot", "pipeline.source_union",
                  "pipeline.analyzed", "operators.groupcover", "export.solr",
                  "license.tag"],
    "corpus_build": ["sources.warc", "plans.html_extract", "llm.funnel",
                     "llm.minhash_lsh", "llm.dup_groups", "llm.tokenize",
                     "llm.pack", "llm.bandstore_build", "llm.lsh_incremental",
                     "llm.bandstore_append", "llm.inc_funnel",
                     "llm.inc_tokenize", "llm.packstore_append",
                     "llm.takedown", "llm.packstore_serve"],
}

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170
HEAP = "4g"

# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every build input, so an edited tree rebuilds."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build with sbt once per source state; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the program "
             "(build.sbt and src/main/scala/graft not found)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp[:16]}.txt")
    if os.path.isfile(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    lines = open(log).read().strip().splitlines()
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


class RunFailed(Exception):
    pass


def run_jvm(cp, args, work, remaining):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--data", os.path.join(work, "data"),
            "--work", work, "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--threads", str(len(os.sched_getaffinity(0))),
            "--result", os.path.join(work, "result.json")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            rc = p.wait(timeout=remaining)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RunFailed("timed out")
    if rc != 0:
        tail = open(log).read().splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        raise RunFailed(f"benchmark JVM exited with {rc}")
    return json.load(open(os.path.join(work, "result.json")))


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in BENCHMARK["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's inputs and outputs for checks.py")
    args = ap.parse_args()

    cp = classpath()
    t0 = time.time()  # set-up is timed from here: the build is not part of it
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        manifest = gen.generate(args.workload, args.seed, os.path.join(work, "data"))
        t_gen = time.time()
        res = run_jvm(cp, args, work, DEADLINE_S - (time.time() - t0))
        t_jvm = time.time()
        facts = checks.run_checks(args.workload, work, res)
        t_checks = time.time()
    except (RunFailed, checks.CheckFailed) as e:
        fail(f"{args.workload}: {e}", code=1)
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)

    rounds = res["rounds"]
    recs = res["records_per_round"] * rounds
    attempted = int(rounds * len(STEPS[args.workload]))
    if args.trace:
        layer = dict(res["layer"])
        layer.update({k: v for k, v in facts.items() if "." in k})
        values = {m["name"]: layer.get(m["name"], 0.0) for m in PER_LAYER}
        units = {m["name"]: m["unit"] for m in PER_LAYER}
    else:
        values = {
            "setup_s": res["setup_done_ms"] / 1000.0 - t0,
            "records_per_s": recs / res["wall_s"],
            "cpu_s_per_mrec": res["cpu_s"] / recs * 1e6,
            "written_mb": res["written_mb_per_round"],
            "peak_heap_mb": res["peak_heap_mb"],
        }
        units = {m["name"]: m["unit"] for m in END_TO_END}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "rounds": rounds, "inputs": manifest, "checks": facts,
                      "gen_s": t_gen - t0, "jvm_s": t_jvm - t_gen,
                      "checks_s": t_checks - t_jvm}))
    print(json.dumps({
        "correct": True, "attempted": attempted, "failed": 0,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))


if __name__ == "__main__":
    main()
