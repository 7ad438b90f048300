#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

    python3 rpabench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt when the sources
changed since the last build (the first run in a checkout builds), then
starts one JVM running `rpabench.Main`, which prints the result JSON as
its last stdout line. Each run gets its own scratch directory under
rpabench/work/, removed when the run ends. See rpabench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
FINGERPRINT = os.path.join(TARGET, "build.fingerprint")
WORKLOADS = ("invoice_batch", "corpus_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# The flags spark-submit would inject on JDK 17 (the engine's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# A fixed, pre-touched heap keeps peak RSS from depending on how far the
# collector happened to grow the heap. C1 only: under C2 the batch pass
# keeps speeding up for about 25 s of work, longer than a run can warm up
# (see README.md, "JVM settings"). C1 alone defaults to a 48 MB code cache,
# which Spark fills within a minute and then stops compiling; give it the
# tiered default instead.
# -XX:-UsePerfData: no hsperfdata file outside the checkout.
JVM_FLAGS = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
             "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m", "-XX:-UsePerfData"]


def fail(msg):
    print(f"rpabench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_fingerprint():
    """Hash of every input of the build: engine sources, harness, build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(env):
    fp = source_fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(FINGERPRINT):
        with open(FINGERPRINT) as f:
            if f.read().strip() == fp:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    # dependency resolution stays offline: everything comes from the local caches
    # sbt's own temp files (its loading socket) stay in the checkout too
    tmp = os.path.join(HERE, "work", "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(env)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if not opts and os.path.exists(repos):
        # the same default the engine's own test command uses
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    log = os.path.join(HERE, "work", "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen([sbt, "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed")
    with open(FINGERPRINT, "w") as f:
        f.write(fp)


def relay_stderr(stream, log):
    for line in stream:
        log.write(line)
        if line.startswith("[rpabench]"):
            sys.stderr.write(line)
            sys.stderr.flush()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala/graft")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    build(env)
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    n = cores()
    cmd = (JVM_FLAGS
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}/derby",
              "-cp", classpath, "rpabench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--dir", work, "--cores", str(n)])
    print(f"rpabench: workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} cores={n}", flush=True)
    log_path = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}.log")
    code = 1
    last = None
    try:
        with open(log_path, "w") as err:
            p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                 stderr=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
                                 start_new_session=True)
            # the harness's own progress lines go to stderr; Spark's log to the file
            out = []
            readers = [threading.Thread(target=relay_stderr, args=(p.stderr, err)),
                       threading.Thread(target=lambda: out.extend(p.stdout))]
            for t in readers:
                t.start()
            try:
                p.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                print(f"rpabench: run exceeded {RUN_TIMEOUT_S} s, killed", file=sys.stderr)
            for t in readers:
                t.join()
            code = p.returncode
        lines = [l.rstrip("\n") for l in out if l.strip()]
        for l in lines[:-1]:
            print(l)
        last = lines[-1] if lines and lines[-1].startswith("{") else None
        if code != 0 or last is None:
            with open(log_path) as f:
                sys.stderr.write("".join(l for l in f.readlines()[-60:]))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if code == 0 and os.path.exists(log_path):
            os.remove(log_path)
    if last is not None:
        print(last, flush=True)
    sys.exit(code if code != 0 else (0 if last is not None else 1))


if __name__ == "__main__":
    main()
