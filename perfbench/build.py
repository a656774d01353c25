"""Build file of the benchmark package.

Compiles the program (`src/main/scala`, plus `src/main/resources`) together
with the benchmark harness (`perfbench/src`) with the Scala compiler that
ships in the Spark distribution at $SPARK_HOME, and packs the classes into
`.bench_build/classes-<digest>/graftbench.jar` in the checkout. The digest
covers every source file, so an unchanged tree reuses its jar and any edit
rebuilds.

    python3 perfbench/build.py          # prints the jar
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark distribution (needs $SPARK_HOME/jars)")
    return os.path.join(home, "jars")


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(d, n))
    return sorted(out)


def build(root):
    main_src = os.path.join(root, "src", "main", "scala")
    resources = os.path.join(root, "src", "main", "resources")
    bench_src = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(main_src) or not os.path.isdir(bench_src):
        raise SystemExit("perfbench: run from the root of a full checkout (src/main/scala and perfbench/src)")
    sources = _files(main_src, ".scala") + _files(bench_src, ".scala")
    res_files = _files(resources) if os.path.isdir(resources) else []
    h = hashlib.sha256()
    for f in sources + res_files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    jar = os.path.join(out, "graftbench.jar")
    if os.path.exists(jar):
        return jar
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-d", classes, "-classpath", cp, "-nowarn", "@" + argfile]
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    os.remove(argfile)
    with zipfile.ZipFile(os.path.join(tmp, "graftbench.jar"), "w", zipfile.ZIP_STORED) as z:
        for f in _files(classes):
            z.write(f, os.path.relpath(f, classes))
        for f in res_files:
            z.write(f, os.path.relpath(f, resources))
    shutil.rmtree(classes)
    # a stale build of an older tree is never reused; keep the directory small
    for d in os.listdir(os.path.join(root, BUILD_DIR)):
        if d.startswith("classes-") and os.path.join(root, BUILD_DIR, d) not in (out, tmp):
            shutil.rmtree(os.path.join(root, BUILD_DIR, d), ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)  # an unfinished or older-format build
    os.rename(tmp, out)
    return jar


if __name__ == "__main__":
    print(build(os.getcwd()))
