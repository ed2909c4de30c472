#!/usr/bin/env python3
"""Run one benchmark workload end to end and print its result.

    python3 perfbench/run.py --workload sql_warm --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and
the benchmark from source with sbt (offline) and generates the input
tables; later runs reuse both while the sources are unchanged. Each
run starts one JVM with Spark on all local cores. Everything it writes
stays under `.bench_build/` in the checkout.

The last line of standard output is the result:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`,
with the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its
per-layer metrics (`--trace 1`). The line before it holds the details:
environment, sample counts, failure reasons and the dashboard-only
figures. Exits non-zero, printing no result, when the build, a check
or the run fails.

`--record` instead writes a sweep's expected query results to
perfbench/expected/<workload>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SF = "0.01"
DATA = os.path.join(BUILD, "data", "sf" + SF)
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as the root build sets).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
WORKLOADS = ("sql_warm", "corpus_cold", "dashboard_refresh")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every file the build reads, so an edited source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            if os.path.isfile(p) and (p.endswith((".scala", ".sbt", ".properties", ".java"))):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in os.environ:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no engine build at the checkout root")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "perfbench/compile", "export perfbench/Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    lines = open(log).read().splitlines()
    cps = [l.strip() for l in lines if ".jar" in l and ":" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (sbt exit {r.returncode}); log in {log}")
    with open(CLASSPATH, "w") as f:
        f.write(cps[-1])
    with open(STAMP, "w") as f:
        f.write(stamp)


def gen_data():
    """Generate the tables once per version of the generator."""
    gen = os.path.join(HERE, "gen_data.py")
    with open(gen, "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()
    done = os.path.join(DATA, "_DONE")
    if os.path.exists(done) and open(done).read() == stamp:
        return
    shutil.rmtree(DATA, ignore_errors=True)
    subprocess.run([sys.executable, gen, DATA, "--sf", SF], check=True, timeout=300)
    with open(done, "w") as f:
        f.write(stamp)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(args, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cp = open(CLASSPATH).read().strip()
    # A fixed young generation: G1 otherwise sizes it from pause times,
    # and the heap pages a run touches (its rss_peak_mb) vary with them.
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn512m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dlog4j2.configurationFile=classpath:perfbench-log4j2.properties"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local",
               PERFBENCH_COMMIT=os.environ.get("PERFBENCH_COMMIT", commit()))
    err_path = os.path.join(BUILD, "logs", os.path.basename(work) + ".err")
    os.makedirs(os.path.dirname(err_path), exist_ok=True)
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)

        def stop(*_):
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        old = signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(1)))
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; stderr in {err_path}")
        finally:
            signal.signal(signal.SIGTERM, old)
    if p.returncode != 0:
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-20:]))
        fail(f"run failed (exit {p.returncode}); stderr in {err_path}")
    return out


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return [m["name"] for m in b["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    build()
    gen_data()
    expected = os.path.join(HERE, "expected", a.workload + ".json")
    work = os.path.join(BUILD, "work", f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", DATA,
                       "--expected", expected, "--work", work, "--spans",
                       os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl"),
                       "--record", "1" if a.record else "0"], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.record:
        print(f"wrote {expected}")
        return
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        fail("the run printed no result")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result keys {sorted(result)}")
    want = declared(a.trace)
    if sorted(result["metrics"]) != sorted(want):
        fail(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(want)}")
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"detail": detail["detail"], "result": result}, f, indent=1)
    print(lines[-2])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
