#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload onboard|curate|serve --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the harness together
with the engine's sources (sbt, offline) into the build directory
($CARGO_TARGET_DIR, default .bench_build); later runs reuse that build while
the sources are unchanged. The first run after a build also writes a
class-data sharing archive there that later runs start from. Each run works in a fresh directory under the
build directory and removes it before exiting. Traced runs also write their
spans to <build>/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("onboard", "curate", "serve")
HEAP = "3g"
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 840  # the first run may take 900 s

# Spark 4 on JDK 17 outside spark-submit (as in the repository's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_home():
    """$SPARK_HOME, else the install that `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(exe))) if exe else ""
    return home


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns (returncode or None on timeout, stdout)."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None
    except BaseException:  # interrupted or terminated: take the group down too
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def pack(entries, jar):
    """Replace the class directories of a classpath by one jar: class-data
    sharing archives only classes loaded from jars."""
    with zipfile.ZipFile(jar, "w") as z:
        seen = set()
        for top in (e for e in entries if os.path.isdir(e)):
            for d, _, fs in os.walk(top):
                for f in sorted(fs):
                    rel = os.path.relpath(os.path.join(d, f), top)
                    if rel not in seen:
                        seen.add(rel)
                        z.write(os.path.join(d, f), rel)
    return [jar] + [e for e in entries if not os.path.isdir(e)]


def build(build_dir):
    """Compile harness + engine once per source digest, pack the classes
    into a jar and return the classpath. A new build drops the class-data
    sharing archive of the previous one."""
    stamp = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env["PERFBENCH_TARGET"] = os.path.join(build_dir, "sbt")
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repo_cfg):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repo_cfg} -Xmx2g")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}",
           "compile", "export Runtime/fullClasspath"]
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        code, _ = run_group(cmd, BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out,
                            stderr=subprocess.STDOUT)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [ln.strip() for ln in lines if ".jar" in ln and os.pathsep in ln
           and not ln.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})")
    cp = os.pathsep.join(pack(cps[-1].split(os.pathsep), os.path.join(build_dir, "perfbench.jar")))
    if os.path.exists(archive_path(build_dir)):
        os.remove(archive_path(build_dir))
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def archive_path(build_dir):
    return os.path.join(build_dir, "classes.jsa")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a repository checkout")
    if not os.path.isdir(os.path.join(spark_home(), "jars")):
        fail("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(build_dir)

    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    # The first run after a build dumps the classes it loaded into a
    # class-data sharing archive; later runs map it, which takes about 4 s
    # of class loading off each JVM start.
    jsa = archive_path(build_dir)
    cds = f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) else f"-XX:ArchiveClassesAtExit={jsa}"
    trace_file = os.path.join(build_dir, "traces", f"{a.workload}-seed{a.seed}.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", cds,
            "-Xlog:disable", "-Xlog:all=warning:stderr",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work, "--cores", str(cores),
              "--trace_file", trace_file])
    log = os.path.join(build_dir, f"last-{a.workload}.log")
    t0 = time.time()
    try:
        with open(log, "w") as err:
            code, out = run_group(cmd, RUN_LIMIT_S, cwd=work, stdout=subprocess.PIPE,
                                  stderr=err, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_LIMIT_S} s (log: {log})")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"no result (exit {code}, log: {log})")
    for ln in lines[:-1]:
        print(ln)
    print(f"wall_s {time.time() - t0:.1f}")
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
