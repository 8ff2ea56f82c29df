#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and its harness from source,
generates the input tables, runs one workload in a Spark JVM (local mode) and
prints one JSON result line (the last line of stdout).

Usage (from the repository root):
  python3 perfbench/run.py --workload <bank|curation|ingest> --seed <n>
      --seconds <s> --trace <0|1>

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones, and the full trace (spans, every per-layer metric, load
sentinel) is written to `.bench_build/traces/`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
RUN_TIMEOUT_S = 170
# CPU probe reference: median of the probe on an idle 4-core x86-64
# container (15 GB RAM). A probe more than 1.25x this flags the run as noisy.
PROBE_REF_S = 0.105
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import oracle  # noqa: E402
import metrics  # noqa: E402


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg):
    log("error:", msg)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def source_stamp():
    """Hash of every source file the build reads, so an unchanged checkout
    reuses its build."""
    h = hashlib.sha256()
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x != "target" and not x.startswith("."))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(env):
    """Compile engine + harness with sbt once per source state; returns
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the root of a checkout of the engine (src/main/scala missing)")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building engine + harness with sbt ...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL, timeout=840)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def ensure_data():
    """The generated tables, in a directory named after the generator's
    hash, so a changed generator writes new data."""
    gen = os.path.join(HERE, "gen_data.py")
    with open(gen, "rb") as f:
        d = os.path.join(BUILD, "data", hashlib.sha256(f.read()).hexdigest()[:12])
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = d + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, tmp], check=True)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return d


def cpu_probe():
    """Fixed CPU-bound work, single-threaded; median of three."""
    def once():
        t0 = time.perf_counter()
        h = b"perfbench"
        for _ in range(200_000):
            h = hashlib.sha256(h).digest()
        return time.perf_counter() - t0
    return statistics.median(once() for _ in range(3))


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["bank", "curation", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    env = dict(os.environ, SPARK_HOME=spark_home())
    classpath = build(env)
    data = ensure_data()

    nproc = os.cpu_count() or 1
    cores = min(4, nproc)
    sentinel = {"nproc": nproc, "cores": cores, "loadavg_before": loadavg(),
                "probe_s": cpu_probe(), "probe_ref_s": PROBE_REF_S}

    tmp = os.path.join(BUILD, "tmp", f"{a.workload}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(tmp, "record.json")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--tmp", tmp, "--cores", str(cores),
        "--out", out]
    jenv = dict(env, SPARK_GRAFT_CPUS=str(cores))
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=tmp, env=jenv, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
    if rc != 0 or not os.path.exists(out):
        fail(f"harness exited {rc} (log: {log_path})")
    result_dir = os.path.join(BUILD, "results")
    os.makedirs(result_dir, exist_ok=True)
    kept = os.path.join(result_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.record.json")
    os.replace(out, kept)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(kept) as f:
        rec = json.load(f)

    sentinel["loadavg_after"] = loadavg()
    # the load average includes this run's own threads, so only the probe
    # decides; the averages are kept for reading alongside it
    sentinel["noisy"] = sentinel["probe_s"] > 1.25 * PROBE_REF_S

    expect = oracle.expected(data, rec["oracle"], os.path.join(data, "oracle-cache.json"))
    checked = metrics.check_ops(rec, expect)
    attempted = len(checked)
    failures = [c for c in checked if not c["ok"]]
    for c in failures[:10]:
        log("FAILED", c["name"], c["why"])
    e2e = metrics.end_to_end(rec)
    if a.trace:
        layer, extra = metrics.per_layer(rec)
        if extra.get("repeat_differs"):
            # reported, not failed: the engine's adaptive plans can differ
            # from pass to pass with task timing (see README, Traces)
            log("exec.repeat:", extra["repeat_differs"])
        values = {k: layer[k] for k in metrics.PER_LAYER}
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "sentinel": sentinel,
                       "end_to_end_traced": e2e, "per_layer": layer, "extra": extra,
                       "passes": rec["passes"], "spans": rec["spans"],
                       "fs_counting": rec["fs_counting"]}, f)
    else:
        values = e2e
    with open(os.path.join(result_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"sentinel": sentinel, "metrics": values}, f)
    log("sentinel", json.dumps(sentinel))
    units = metrics.UNITS
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))


if __name__ == "__main__":
    main()
