"""graft benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the program and the
harness from source (perfbench/build.py) and generates the seeded input
tables (perfbench/gen_tables.py); both are cached under `.bench_build/`.
Each run starts one JVM, prints the workload's figures by name and unit,
and prints the result object as its last line. It exits non-zero if an
output check failed or the run could not complete. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout clean

import build  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("wx_daily", "query_mix")
# Input table scale (1.0 = the sf0.1 row counts). The tables never depend
# on --seed: the seed drives the ops (order, keys, generated batches), so
# pinned row counts stay valid.
TABLE_SCALE = 0.04
TABLE_SEED = 42
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def tables(root, scale):
    d = os.path.join(root, build.BUILD_DIR, "data", f"scale{scale}-seed{TABLE_SEED}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(d, scale, TABLE_SEED)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def run_jvm(root, jar, args, limit_s, show_stdout=False):
    """Runs graftbench.Main in its own process group; returns its exit code."""
    cpus = len(os.sched_getaffinity(0))
    work = args["work"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=tmp)
    # the status store keeps few finished jobs and executions, so the heap
    # does not grow with the number of ops a run happens to complete
    cmd = ["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.ui.retainedJobs=50", "-Dspark.ui.retainedStages=50", "-Dspark.sql.ui.retainedExecutions=20",
           "-Dspark.sql.session.timeZone=UTC", "-Dlog4j2.level=ERROR"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([jar, os.path.join(build.spark_jars(), "*")]), "graftbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=None if show_stdout else subprocess.DEVNULL,
                            stderr=subprocess.PIPE, start_new_session=True, text=True)
    try:
        _, err = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {limit_s:.0f} s and was stopped", file=sys.stderr)
        return 124
    if proc.returncode != 0:
        sys.stderr.write("\n".join(err.splitlines()[-40:]) + "\n")
    else:
        sys.stderr.write("".join(l + "\n" for l in err.splitlines() if l.startswith("[graftbench]")))
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.selftest):
        ap.error("one of --workload or --selftest is required")

    t0 = time.time()
    root = os.getcwd()
    built_here = not os.path.isdir(os.path.join(root, build.BUILD_DIR))
    jar = build.build(root)
    work = os.path.join(root, build.BUILD_DIR, "work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    pins = os.path.join(HERE, "pins.json")
    try:
        if a.selftest:
            return run_jvm(root, jar, {"workload": "selftest", "work": work}, RUN_LIMIT_S, True)
        name = a.workload
        data = tables(root, TABLE_SCALE)
        out = os.path.join(work, "result.json")
        traces = os.path.join(root, build.BUILD_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        limit = (FIRST_RUN_LIMIT_S if built_here else RUN_LIMIT_S) - (time.time() - t0)
        jargs = {"workload": name, "seed": a.seed, "seconds": a.seconds,
                 "trace": a.trace, "data": data, "work": work, "pins": pins,
                 "out": out, "trace-out": os.path.join(traces, f"{name}-seed{a.seed}.json")}
        code = run_jvm(root, jar, jargs, limit)
        if code != 0 or not os.path.exists(out):
            print(f"perfbench: {name} failed (exit {code})", file=sys.stderr)
            return code or 1
        with open(out) as fh:
            res = json.load(fh)
        for n, v, unit in res["lines"]:
            print(f"{name} {n} = {v:.6g} {unit}")
        for f in res["failures"]:
            print(f"{name} CHECK FAILED {f}")
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
        return 0 if res["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
