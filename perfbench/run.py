#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the benchmark (its
own sbt build under perfbench/, depending on the root project) and caches
the classpath under the build directory ($CARGO_TARGET_DIR, default
.bench_build); later runs start the JVM directly. Each run works in a
fresh directory under the build directory and deletes it on exit. The
last line of stdout is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("medallion_fuzzy", "ingest_video_waves")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            st = p.stat()
            h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env(tmp):
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["TMPDIR"] = str(tmp)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(build_dir):
    """Build if any input changed since the cached classpath was written."""
    stamp = source_stamp()
    cache = build_dir / "classpath.txt"
    if cache.is_file():
        cached_stamp, cp = cache.read_text().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    print("perfbench: building (sbt)", file=sys.stderr)
    tmp = build_dir / "sbt-tmp"
    tmp.mkdir(exist_ok=True)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(tmp), stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(l for l in lines if l.startswith("[error]")) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    cache.write_text(stamp + "\n" + cp)
    return cp


def heap_size():
    """Half of RAM, clamped to 2-8 GB (the test suite's sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a TERM (a timeout upstream) unwinds like an exception, so the JVM
    # is killed and the work directory removed below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"the engine sources (build.sbt, src/main/scala) are missing under {ROOT}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir.mkdir(parents=True, exist_ok=True)
    cp = classpath(build_dir)

    work = Path(tempfile.mkdtemp(prefix=f"run-{a.workload}-", dir=build_dir))
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    # a fixed heap and young generation, so the collector's sizing is the
    # same in every run and a full collection never shrinks the heap
    heap = heap_size()
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:NewRatio=2", "-XX:-DontCompileHugeMethods",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work),
            "--cpus", str(cpus)]
    (work / "tmp").mkdir()
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with code {proc.returncode}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
