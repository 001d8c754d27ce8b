"""Shared helpers of the benchmark: building the library and the harness
from source, launching JVMs with per-child resource usage, and the run
context recorded with every result."""
import glob
import hashlib
import json
import os
import re
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
HARNESS = os.path.join(BUILD, "harness")
# A byte-for-byte copy of the sf0.01 tables of the project's test data
# (TESTDATA.md): the scale its DuckDB oracle checks, so the pinned outputs
# are oracle-checked on exactly the data the benchmark runs. The benchmark
# reads only inside its checkout, hence the copy.
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected")
# Harness JVMs get a fixed-size heap (-Xms = -Xmx) so their resident
# memory does not follow the collector's resizing decisions from run to run.
HEAP = "2g"

# build.sbt's javaOptions: the module opens Spark 4 needs on JDK 17 outside
# spark-submit, plus its two system properties.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


class BenchError(Exception):
    """A failure that must end the run without a result line."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jars_dir():
    """The unmanaged jar directory named by the project's build.sbt."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        raise BenchError("build.sbt not found: run from a checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BenchError("build.sbt names no usable unmanagedBase jar directory")
    return m.group(1)


def cpus():
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return env if env else str(len(os.sched_getaffinity(0)))


def _sources(*dirs):
    out = []
    for d in dirs:
        out += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return out


def _scalac(jars, classpath, out_dir, files):
    comp = sorted(p for n in ("compiler", "library", "reflect")
                  for p in glob.glob(os.path.join(jars, f"scala-{n}-*.jar")))
    tmp = out_dir + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(comp), "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn", "-classpath", classpath, "-d", tmp] + files
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
    subprocess.run(["rm", "-rf", out_dir], check=True)
    os.rename(tmp, out_dir)


def build():
    """Compile src/main/scala, then the harness against it, into .bench_build.
    Skipped when the sources and jar directory are unchanged since the last
    build in this checkout. Returns (jars dir, source digest)."""
    jars = jars_dir()
    lib = _sources(os.path.join(ROOT, "src", "main", "scala"))
    if not lib:
        raise BenchError("src/main/scala has no sources: nothing to benchmark")
    har = _sources(os.path.join(HERE, "harness"))
    h = hashlib.sha1()
    for f in lib + har:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == key \
            and os.path.isdir(CLASSES) and os.path.isdir(HARNESS):
        return jars, key
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    _scalac(jars, os.path.join(jars, "*"), CLASSES, lib)
    _scalac(jars, CLASSES + ":" + os.path.join(jars, "*"), HARNESS, har)
    open(stamp, "w").write(key)
    log(f"built library and harness in {time.time() - t0:.1f} s")
    return jars, key


def java_cmd(jars, main, args, tmpdir, harness=True):
    cp = [CLASSES] + ([HARNESS] if harness else []) + [os.path.join(jars, "*")]
    heap = [f"-Xmx{HEAP}"] + ([f"-Xms{HEAP}"] if harness else [])
    return (["java"] + JVM_FLAGS + heap + [f"-Djava.io.tmpdir={tmpdir}", "-cp", ":".join(cp),
                                           main] + list(args))


def run_child(cmd, cwd, env_extra=None, log_path=None, timeout=170):
    """Run one child to completion. Returns (wall s, launch epoch s,
    returncode, rusage of that child alone)."""
    env = dict(os.environ)
    env.update(env_extra or {})
    out = open(log_path, "ab") if log_path else subprocess.DEVNULL
    t0 = time.time()
    p0 = time.perf_counter()
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=out)
    timer = threading.Timer(timeout, p.kill)
    timer.start()
    try:
        _, status, ru = os.wait4(p.pid, 0)
    finally:
        timer.cancel()
    wall = time.perf_counter() - p0
    p.returncode = os.waitstatus_to_exitcode(status)
    if log_path:
        out.close()
    return wall, t0, p.returncode, ru


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs so far: steal is time this
    machine's virtual CPUs were runnable but not running."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def tree_bytes(path):
    """Bytes in the regular files under path."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
               if os.path.isfile(os.path.join(d, f)))


def read_json(path):
    with open(path) as f:
        return json.load(f)


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)
