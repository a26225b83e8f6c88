#!/usr/bin/env python3
"""Run one benchmark workload against the library in the parent directory.

    python3 perfbench/run.py --workload catalog_sync --seed 1 --seconds 15 --trace 0

The first run in a checkout compiles the library and the harness with sbt
(offline), caches the classpath under .bench_build/ and records a class-data
archive there; later runs start the JVM directly. Every file the run creates
stays under .bench_build/ and is removed when the run ends, except a traced
run's spans and jobs, which are kept in
.bench_build/traces/<workload>-seed<seed>.jsonl. The last line of standard
output is the JSON result; the exit code is non-zero when an output check
failed or the run could not complete.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
BUILD = REPO / ".bench_build"
CLASS_DATA = BUILD / "classes.jsa"
WORKLOADS = ("catalog_sync", "stock_trickle", "catalog_reads", "corpus_dedup")
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (the library's own
# build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input to the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [REPO / "build.sbt", REPO / "project" / "build.properties", REPO / "src" / "main",
             HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "src"]
    for root in roots:
        files = [root] if root.is_file() else sorted(p for p in root.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(REPO)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return the runtime classpath.

    The compiled class directories are packed into jars, because the JVM
    maps a class-data archive only for a classpath of jars."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    for stale in (stamp_file, CLASS_DATA):
        stale.unlink(missing_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("building library and harness with sbt ...")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1] or lines[-1].startswith("["):
        log(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("build failed")
    lib = BUILD / "lib"
    shutil.rmtree(lib, ignore_errors=True)
    lib.mkdir()
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        d = Path(entry)
        if d.is_dir():
            jar = lib / f"classes{i}.jar"
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for f in sorted(d.rglob("*")):
                    if f.is_file():
                        z.write(f, f.relative_to(d).as_posix())
            entry = str(jar)
        entries.append(entry)
    cp = os.pathsep.join(entries)
    cp_file.write_text(cp)
    record_class_data(cp)
    stamp_file.write_text(stamp)
    return cp


def record_class_data(cp):
    """Dump a class-data archive of the classes a small stock_trickle run
    loads (JDK 17 `-XX:ArchiveClassesAtExit`). Every later JVM maps it,
    which takes seconds off session start and the first fixture load, and
    no measured run pays for recording it. Without it runs only start
    slower."""
    log("recording the class-data archive ...")
    dumped = Path(f"{CLASS_DATA}.{os.getpid()}")
    rc, _ = run_jvm(cp, [f"-XX:ArchiveClassesAtExit={dumped}"],
                    ["--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "0"])
    if rc == 0 and dumped.exists():
        os.replace(dumped, CLASS_DATA)
    else:
        log(f"class-data archive not recorded (exit {rc}); runs go on without it")
        dumped.unlink(missing_ok=True)


def run_jvm(cp, jvm_args, main_args):
    """Run perfbench.Main in a fresh work directory under .bench_build/,
    removed afterwards; return (exit code, standard output). A JVM that
    outlives RUN_TIMEOUT_S is killed with its process group."""
    work = BUILD / "work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-Xlog:disable", "-Xlog:all=warning:stderr"] + jvm_args
           + [f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + main_args
           + ["--work", str(work), "--traces", str(BUILD / "traces")])
    stderr_log = work / "stderr.log"
    try:
        with open(stderr_log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise SystemExit(f"no result within {RUN_TIMEOUT_S} s")
        if proc.returncode != 0:
            log(stderr_log.read_text()[-4000:])
        return proc.returncode, out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not (REPO / "build.sbt").is_file() or not (REPO / "src" / "main" / "scala").is_dir():
        raise SystemExit("no library sources next to the benchmark: nothing to run")
    cp = build()
    class_data = [f"-XX:SharedArchiveFile={CLASS_DATA}"] if CLASS_DATA.exists() else []
    rc, out = run_jvm(cp, class_data,
                      ["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace)])
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    last = None
    if lines:
        try:
            last = json.loads(lines[-1])
        except ValueError:
            print(lines[-1])
    if not isinstance(last, dict) or set(last) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{args.workload}: the harness printed no result (exit {rc})")
    print(json.dumps(last), flush=True)
    sys.exit(rc if rc != 0 else (0 if last["correct"] else 1))


if __name__ == "__main__":
    main()
