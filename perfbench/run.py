#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <queries|lifecycle> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source with the Scala compiler shipped in the Spark jars
(`$SPARK_HOME/jars`, else the `unmanagedBase` named in build.sbt) and
generates the input tables; both are cached under `.bench_build/`
(`$CARGO_TARGET_DIR` when set). Each run starts one JVM on `local[nproc]`,
sets up its workload, checks outputs in an untimed pass, measures for
`--seconds` and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics; a traced run also keeps its spans
in `.bench_build/traces/`. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import reduce  # noqa: E402

WORKLOADS = ("queries", "lifecycle")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core*.jar")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        for line in open(sbt):
            if line.strip().startswith("unmanagedBase") and 'file("' in line:
                d = line.split('file("', 1)[1].split('"', 1)[0]
                if glob.glob(os.path.join(d, "spark-core*.jar")):
                    return d
    fail("no Spark jars found (set SPARK_HOME)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        fail("no engine sources under src/main/scala: run from the repository root")
    return main + bench


def digest(base, paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, base).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(root, out, jars):
    srcs = sources(root)
    os.makedirs(out, exist_ok=True)
    classes = os.path.join(out, "classes-" + digest(root, srcs, extra=jars))
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed", 3)
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def data(out):
    d = os.path.join(out, "data-" + digest(HERE, [os.path.join(HERE, "datagen.py")]))
    if not os.path.exists(os.path.join(d, ".ok")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write(tmp, datagen.tables())
        open(os.path.join(tmp, ".ok"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def jvm_command(classes, jars, run_root):
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
               f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')}",
               "-cp", os.pathsep.join([classes, os.path.join(jars, "*")])])


def run_jvm(args, classes, jars, data_dir, run_root):
    os.makedirs(os.path.join(run_root, "tmp"))
    out = os.path.join(run_root, "result.json")
    cmd = jvm_command(classes, jars, run_root) + [
        "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
        str(args.trace), data_dir, run_root, os.path.join(HERE, "expected.json"), out]
    log = open(os.path.join(run_root, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    except BaseException:  # interrupted or terminated: never leave the JVM behind
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        log.close()
    if code is None:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    if code != 0:
        tail = open(os.path.join(run_root, "jvm.log"), errors="replace").read()[-4000:]
        sys.stderr.write(tail)
        fail("benchmark JVM " + ("timed out" if code is None else f"exited {code}"), 1)
    return json.load(open(out))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the repository root")
    spec = json.load(open(spec_path))
    jars = spark_jars(root)
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    classes = build(root, out, jars)
    data_dir = data(out)

    run_root = os.path.join(out, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    try:
        raw = run_jvm(args, classes, jars, data_dir, run_root)
        if raw.get("spans"):
            traces = os.path.join(out, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(raw["spans"], os.path.join(
                traces, f"spans-{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    line = reduce.result_line(raw, spec, traced=bool(args.trace))
    for m in raw.get("mismatches", []):
        print(f"gate mismatch: {m}", file=sys.stderr)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
