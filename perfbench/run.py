#!/usr/bin/env python3
"""thorspark benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script compiles the engine
(`src/main/scala`) and the benchmark's JVM runner (`perfbench/scala`) with the
Scala compiler shipped in the Spark distribution, into `.bench_build/`, and
reuses the classes while the sources are unchanged. It then starts one JVM for
the workload, checks the outputs, and prints

  * a `# detail` line: run metadata (host, git HEAD, seed, host probes) and
    the workload's own figures, and
  * as the last line, one JSON object: `correct`, `attempted`, `failed` and
    `metrics` (end-to-end metrics with --trace 0, per-layer with --trace 1).

Everything it writes stays under `.bench_build/` in the checkout, and the
per-run work directory is deleted on every exit path. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("ingest", "table_serve")
BUILD_DIR = ".bench_build/perfbench"
JVM_TIMEOUT_S = 165
HEAP = "3g"

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
    """$SPARK_HOME/jars, or the jars of the Spark whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail("no Spark distribution found; set SPARK_HOME")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "java"), os.X_OK):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        fail("no java on PATH")
    return found


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/scala"):
        for dirpath, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, jars):
    """Compile the engine and the runner into BUILD_DIR/classes; skipped
    when the source digest matches the last successful build."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        fail("no engine sources under src/main/scala — run from a thorspark checkout")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as fh:
            digest.update(fh.read())
    digest = digest.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{x}-2.13*.jar"))[0]
                        for x in ("compiler", "library", "reflect"))
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(jars, "*"), "-d", classes, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def git_head(root):
    """HEAD commit when the checkout is a git repository, else 'unknown'."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def mem_total_kb():
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def sweep_stale(work_root):
    """Remove work directories left by runs whose process is gone (kill -9)."""
    for d in glob.glob(os.path.join(work_root, "*")):
        try:
            pid = int(os.path.basename(d))
            os.kill(pid, 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


class Run:
    """Owns the work directory and the JVM; cleans both up on any exit."""

    def __init__(self, root):
        self.work_root = os.path.join(root, BUILD_DIR, "work")
        os.makedirs(self.work_root, exist_ok=True)
        sweep_stale(self.work_root)
        self.work = os.path.join(self.work_root, str(os.getpid()))
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.proc = None
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, self._on_signal)

    def _on_signal(self, signum, _frame):
        self.close()
        sys.exit(128 + signum)

    def close(self):
        if self.proc is not None and self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGTERM)
                self.proc.wait(timeout=10)
            except (ProcessLookupError, subprocess.TimeoutExpired):
                try:
                    os.killpg(self.proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                self.proc.wait()
        self.proc = None
        shutil.rmtree(self.work, ignore_errors=True)

    def jvm(self, classes, jars, argv, log):
        cmd = ([java_bin()] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
                  "-Xss4m", f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", ":".join([classes, os.path.join(os.getcwd(), "src/main/resources"),
                                   os.path.join(jars, "*")]),
                  "graft.perfbench.Main"] + argv)
        with open(log, "w") as fh:
            self.proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                         cwd=self.work, start_new_session=True)
            try:
                code = self.proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                self.close()
                fail(f"workload JVM exceeded {JVM_TIMEOUT_S} s")
            self.proc = None
        return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    jars = spark_jars()
    classes = build(root, jars)
    run = Run(root)
    try:
        out = os.path.join(run.work, "result.json")
        log = os.path.join(run.work, "jvm.log")
        argv = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", run.work, "--out", out]
        code = run.jvm(classes, jars, argv, log)
        if code != 0 or not os.path.exists(out):
            sys.stderr.write(open(log).read()[-6000:])
            fail(f"workload JVM exited {code} without a result")
        with open(out) as fh:
            raw = json.load(fh)
        if not all(c["ok"] for c in raw["checks"]):
            sys.stderr.write(open(log).read()[-6000:])
        result, detail = metrics.compute(raw, trace=bool(a.trace))
        detail["meta"] = {
            "nproc": os.cpu_count(), "mem_total_kb": mem_total_kb(),
            "git_head": git_head(root), "seed": a.seed, "held_out_seed": metrics.HELD_OUT_SEED,
            "host": raw.get("detail", {}).get("host"), "python": platform.python_version()}
        print("# detail " + json.dumps(detail, sort_keys=True))
        if not result["correct"]:
            for c in raw.get("checks", []):
                if not c["ok"]:
                    print(f"perfbench: CHECK FAILED {c['name']}: {c['info']}", file=sys.stderr)
        print(json.dumps(result))
        sys.stdout.flush()
        return 0 if result["correct"] else 1
    finally:
        run.close()


if __name__ == "__main__":
    sys.exit(main())
