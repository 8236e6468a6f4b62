#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

The engine sources (src/main/scala) and the benchmark sources
(perfbench/src) are compiled together with the Scala compiler that ships
in Spark's jar directory ($SPARK_HOME/jars, or next to spark-submit) into
.bench_build/classes; a source digest skips the compile when nothing
changed. The workload runs in one JVM; its last stdout line is the result
JSON. Everything the run writes stays under .bench_build in the checkout.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys

BENCH_DIR = pathlib.Path(__file__).resolve().parent
BUILD_DIR = pathlib.Path(".bench_build")
HEAP = "3g"
# A run is stopped (and fails) if it has not finished by then.
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first one next to
    a spark-submit on the PATH that holds the Spark 4.1.2 jars."""
    core = "spark-core_2.13-4.1.2.jar"
    homes = [pathlib.Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        (pathlib.Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if (pathlib.Path(d) / "spark-submit").is_file()]
    for home in homes:
        if (home / "jars" / core).exists():
            return home / "jars"
    fail("no Spark 4.1.2 jars: set SPARK_HOME or put Spark's spark-submit on the PATH")


def sources():
    engine = sorted(pathlib.Path("src/main/scala").rglob("*.scala"))
    bench = sorted((BENCH_DIR / "src").rglob("*.scala"))
    if not engine:
        fail("no engine sources under src/main/scala: run from the root of a checkout")
    return engine + bench


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(jars):
    """Compile engine + benchmark into .bench_build/classes unless up to date."""
    srcs = sources()
    stamp = digest(srcs)
    classes = BUILD_DIR / "classes"
    stamp_file = BUILD_DIR / "classes.sha256"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes, stamp
    fresh = BUILD_DIR / "classes.new"
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir(parents=True)
    compiler_cp = os.pathsep.join(str(jars / f"scala-{m}-2.13.17.jar")
                                  for m in ("compiler", "library", "reflect"))
    # scalac does not expand classpath wildcards, so the jars are listed.
    classpath = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", str(fresh)]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    done = subprocess.run(cmd + [str(s) for s in srcs], stdout=sys.stderr)
    if done.returncode != 0:
        fail("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    fresh.rename(classes)
    stamp_file.write_text(stamp)
    return classes, stamp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    jars = spark_jars()
    classes, stamp = build(jars)
    tmp = BUILD_DIR / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap size: no heap-resizing collections early in a run
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
            f"-Djava.io.tmpdir={tmp.resolve()}",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([str(classes), str(jars / "*")]),
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--source-sha", stamp,
            "--conf", str(BENCH_DIR / "conf" / "perfbench.conf"),
            "--work", str((BUILD_DIR / "work").resolve()),
            "--results", str((BUILD_DIR / "results.jsonl").resolve())])
    # graft.Sessions and the engine read SPARK_GRAFT_* settings from the
    # environment; the run drops them all so it uses the production defaults
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    child = subprocess.Popen(cmd, env=env, start_new_session=True)

    def stop(*_):
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        sys.exit(3)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        stop()
    shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
