#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline, from the local dependency cache)
and records the runtime classpath; later runs reuse it until a source file
changes. Each run then starts one JVM on `local[nproc]` with the heap the
test suite uses (half of physical memory, clamped to 2-8 GiB). The JVM's
last stdout line is the result object; this script passes it through and
exits with the JVM's code. Everything the run writes stays under
perfbench/target/.
"""
import argparse
import hashlib
import os
import pathlib
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
CLASSPATH = TARGET / "classpath.txt"
STAMP = TARGET / "classpath.stamp"
CDS = TARGET / "classes.jsa"

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [ROOT / "src" / "main", HERE / "src" / "main", ROOT / "project",
             HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        if r.is_dir():
            files += [p for p in r.rglob("*")
                      if p.is_file() and "target" not in p.relative_to(r).parts]
    return sorted(f for f in files if f.is_file())


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(src_sha):
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == src_sha:
        return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] building engine + benchmark with sbt", file=sys.stderr)
    t = time.time()
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, start_new_session=True)
    code = wait(proc, BUILD_TIMEOUT_S)
    if code != 0 or not CLASSPATH.is_file():
        fail(f"build failed (exit {code})")
    train_cds()
    STAMP.write_text(src_sha)
    print(f"[perfbench] built in {time.time() - t:.1f}s", file=sys.stderr)


def train_cds():
    """Dump a class-data sharing archive from a tiny pass over every
    workload: later JVMs map those classes instead of loading them. On a
    4-core box this took a run from 29.2 s to 24.9 s (mean over the five
    workloads, one run each), which is what keeps a full comparison of two
    commits within its time budget. Runs without it if the dump fails."""
    CDS.unlink(missing_ok=True)
    proc = subprocess.Popen(
        java_cmd([f"-XX:ArchiveClassesAtExit={CDS}"]) +
        ["perfbench.Main", "--train", "--work", str(TARGET / "work")],
        cwd=ROOT, env=child_env(), stdin=subprocess.DEVNULL,
        stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    if wait(proc, RUN_TIMEOUT_S) != 0:
        CDS.unlink(missing_ok=True)
        print("[perfbench] class-data sharing archive not built; runs start without it",
              file=sys.stderr)


def git_head():
    """The commit of this checkout, or "none" outside a git work tree."""
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=20)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def child_env():
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(TARGET / "work" / "spark-local")
    return env


def java_cmd(extra):
    work = TARGET / "work"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # -UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", f"-Xmx{heap()}", "-XX:+UseG1GC", "-XX:-UsePerfData"] + extra + [
        f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", CLASSPATH.read_text().strip()]


def wait(proc, timeout):
    """Wait for `proc`; on timeout kill its whole process group."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9


def heap():
    """Half of physical memory in whole GiB, clamped to 2-8 (as the tests)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources next to {HERE.name}/ (need build.sbt and src/main/scala)")
    src_sha = source_hash()
    build(src_sha)

    cds = [f"-XX:SharedArchiveFile={CDS}"] if CDS.is_file() else []
    stamp = [f"-Dperfbench.source={src_sha}", f"-Dperfbench.head={git_head()}"]
    cmd = java_cmd(cds + stamp) + [
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work", str(TARGET / "work")]
    print(f"[perfbench] engine+bench sources sha256 {src_sha[:16]}", file=sys.stderr)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env(), stdin=subprocess.DEVNULL,
                            start_new_session=True)
    code = wait(proc, RUN_TIMEOUT_S)
    if code == -9:
        fail(f"run exceeded {RUN_TIMEOUT_S}s and was killed")
    sys.exit(code)


if __name__ == "__main__":
    main()
