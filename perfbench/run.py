#!/usr/bin/env python3
"""Benchmark launcher for the ACID lake table.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program and
the benchmark with offline sbt (perfbench/build.sbt depends on the root
build); later runs reuse the build while the sources are unchanged. Each
run then starts one fresh JVM with a fixed heap, which sets up its tables
under a temporary directory of its own, warms up, measures a timed window
and checks the program's outputs against the benchmark's own model. The
temporary directory is deleted when the run ends.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the line before it holds
per-operation counts and the run's ambience. Exit code 0 means the run
finished and every check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("oltp_keyed", "bulk_ingest", "acid_verify")
# One Spark local[4] and one fixed heap for every workload.
CPUS = 4
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with offline sbt unless the last build saw these sources;
    returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"build timed out after {BUILD_TIMEOUT_S} s; see {log_path}")
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        log.write(out)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode}); see {log_path}")
    cps = [line for line in out.splitlines() if "perfbench" in line and "classes" in line
           and not line.startswith("[")]
    if not cps:
        fail(f"build printed no classpath; see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def run_jvm(classpath, args):
    """One workload run in a fresh JVM under a temporary directory owned
    by this run; returns the parsed result object."""
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    proc = None
    try:
        for d in ("tables", "spark-local", "jtmp"):
            os.makedirs(os.path.join(tmp, d))
        out = os.path.join(tmp, "result.json")
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += [
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}/spark-local",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
            f"-Djava.io.tmpdir={tmp}/jtmp",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--dir", os.path.join(tmp, "tables"), "--out", out, "--cpus", str(CPUS),
        ]
        err_path = os.path.join(tmp, "stderr.log")
        with open(err_path, "w") as err:
            proc = subprocess.Popen(cmd, cwd=tmp, stdout=err, stderr=err,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                code = "timeout"
        if code != 0 or not os.path.exists(out):
            with open(err_path, errors="replace") as f:
                tail = f.readlines()[-40:]
            sys.stderr.write("".join(l for l in tail if "[perf]" not in l))
            fail(f"workload {args.workload} ended with {code}", 1)
        if args.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(tmp, "spans.jsonl"),
                        os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
        with open(out) as f:
            return json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    # a terminated launcher still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for needed in ("build.sbt", os.path.join("src", "main", "scala", "graft", "lake")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            fail(f"no program to measure: {needed} is missing beside {os.path.basename(HERE)}/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    result = run_jvm(build(), args)
    info = result.pop("info")
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "info": info}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
