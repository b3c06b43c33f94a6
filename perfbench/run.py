#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload forecast_selc10 --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

It builds the engine plus the runner in ``perfbench/`` with sbt (once per
source state, into ``.bench_build/``), runs one workload in one JVM on a
``local[nproc]`` Spark session and prints, as the last line of standard
output, one JSON object with the keys ``correct``, ``attempted``, ``failed``
and ``metrics``. The line before it carries the run context. The full
result, with the observed outputs and any check failures, goes to
``.bench_build/perfbench/results/``; a traced run also writes its spans to
``.bench_build/perfbench/run/traces/``.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark on JDK 17 needs these outside spark-submit (the list of
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def ensure_build():
    """Compiles with sbt unless the classpath was built from these sources."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    if shutil.which("sbt") is None:
        sys.exit("perfbench: sbt is not on PATH")
    log("building (sbt compile) ...")
    t0 = time.time()
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                        BUILD_TIMEOUT_S, cwd=BENCH, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(cp_file):
        sys.exit(f"perfbench: build failed (exit {code})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return digest


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_once(workload, seed, seconds, trace):
    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "data", "panel")):
        if not os.path.isdir(need):
            sys.exit(f"perfbench: {os.path.relpath(need, ROOT)} is missing; "
                     "run from the root of a full checkout")
    digest = ensure_build()
    with open(os.path.join(BUILD, "classpath.txt")) as fh:
        cp = fh.read().strip()
    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = nproc()
    # Scratch space stays in the checkout: JVM temp files, no /tmp perf
    # data, and Spark's local dirs from the session config, not the env.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    cmd = (["java", "-Xmx2g", "-XX:+UseSerialGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0", "--cpus", str(cpus),
              "--t0-ms", str(int(time.time() * 1000)), "--out", work,
              "--expected", os.path.join(BENCH, "expected.json")])
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    lines = out.rstrip("\n").split("\n")
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    try:
        res = json.loads(lines[-1])
    except (ValueError, IndexError):
        sys.exit(f"perfbench: no result from the JVM (exit {code})")
    if code != 0:
        sys.exit(f"perfbench: JVM exited with {code}")
    res["context"].update({"git_sha": git_sha(), "source_sha256": digest, "nproc": cpus})
    for f in res.get("failures", []):
        log(f"check failed: {f}")
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    path = os.path.join(BUILD, "results", f"{workload}-seed{seed}-trace{int(trace)}.json")
    with open(path, "w") as fh:
        json.dump(res, fh, indent=1)
    shutil.rmtree(os.path.join(work, "tables"), ignore_errors=True)
    return res


def selftest():
    """Short runs of every workload, traced and untraced: the last line must
    parse, carry exactly the four result keys, report correct outputs, and
    name every metric of BENCHMARK.json with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            r = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                                "--seed", "7", "--seconds", "1", "--trace", str(trace)],
                               cwd=ROOT, capture_output=True, text=True, timeout=900)
            tag = f"{w['name']} trace={trace}"
            before = len(problems)
            try:
                res = json.loads(r.stdout.strip().split("\n")[-1])
            except (ValueError, IndexError):
                problems.append(f"{tag}: last line is not JSON (exit {r.returncode})")
                continue
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: keys {sorted(res)}")
            if not (res.get("correct") is True and res.get("failed") == 0
                    and res.get("attempted", 0) >= 1):
                problems.append(f"{tag}: correct={res.get('correct')} failed={res.get('failed')}")
            got = res.get("metrics", {})
            for m in names:
                v = got.get(m["name"])
                if not v or v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {m['name']} missing or malformed: {v}")
            extra = set(got) - {m["name"] for m in names}
            if extra:
                problems.append(f"{tag}: unlisted metrics {sorted(extra)}")
            log(f"selftest {tag}: {'ok' if len(problems) == before else 'FAILED'}")
    for p in problems:
        print(p, file=sys.stderr)
    print(json.dumps({"selftest": "fail" if problems else "ok", "problems": len(problems)}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        ap.error("--workload is required")
    res = run_once(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps({"context": res["context"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
