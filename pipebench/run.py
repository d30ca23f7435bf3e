#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one seed, one run.

    python3 pipebench/run.py --workload etl_batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the product and the
benchmark's JVM program from source with sbt (pipebench/build.sbt); later
runs reuse the build while the sources are unchanged. Inputs are made from
the seed under .bench_build/runs/, the JVM program (pipebench.Main) runs
the workload for --seconds, outputs are checked, and the last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 they
are the per-layer metrics of a traced run. README.md in this directory
describes every metric and workload.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["etl_batch", "delta_upsert", "service_small", "stream_ingest"]
# The end-to-end metrics of BENCHMARK.json. peak_rss_mb is measured and kept
# in every run record but is not among them: its spread across seeds is too
# wide for a bound (see README.md).
END_TO_END = [
    ("setup_s", "s"), ("run_p50_ms", "ms"), ("run_tail_ms", "ms"), ("ops_per_s", "1/s"),
    ("read_p50_ms", "ms"), ("write_amp", "ratio"), ("space_amp", "ratio"),
]
HEAP = "3g"
RUN_LIMIT_S = 170      # a run must end within 180 s
BUILD_LIMIT_S = 880    # ... or 900 s when it builds
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "pipebench/build.sbt", "pipebench/project/build.properties",
            "pipebench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(root, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def source_hash(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, bench_dir):
    """Compiles the product and the JVM program unless the sources are unchanged
    since the last build; returns (classpath, built_now)."""
    stamp_file = os.path.join(bench_dir, "build.stamp")
    cp_file = os.path.join(bench_dir, "classpath.txt")
    stamp = source_hash(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(bench_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(bench_dir, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "pipebench"), env=env, stdout=subprocess.PIPE,
            stderr=log, text=True, timeout=BUILD_LIMIT_S - 120)
        log.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed, see {log_path}")
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath, see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def run_jvm(cp, args, run_dir, timeout):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "pipebench.Main"] + args
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(values):
    """p90 when there are at least 100 samples, otherwise the highest
    percentile with at least ten samples beyond it (the maximum when there
    are ten or fewer). Returns (value, percentile, n)."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0, 0, 0
    if n >= 100:
        k = math.ceil(0.9 * n) - 1
    else:
        k = max(0, n - 11)
    pct = 100 if n <= 10 else math.floor(100 * (k + 1) / n)
    return s[k] if n > 10 else s[-1], pct, n


def cpu_sample():
    """(total, idle, steal) CPU ticks from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0


def cpu_share(a, b):
    """(busy, steal) shares of all CPUs between two samples."""
    total = max(1, b[0] - a[0])
    return 1 - (b[1] - a[1]) / total, (b[2] - a[2]) / total


def git_sha(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_all(a):
    """Every workload in BENCHMARK.json, untraced then traced."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    code = 0
    for w in names:
        for t in (0, 1):
            print(f"## {w} --trace {t}", flush=True)
            p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                                "--seed", str(a.seed), "--seconds", str(a.seconds),
                                "--trace", str(t)])
            code = code or p.returncode
    return code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if a.workload == "all":
        sys.exit(run_all(a))
    started = time.time()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a checkout: the product's build.sbt and src/main/scala are missing")
    bench_dir = os.path.join(root, ".bench_build")
    os.makedirs(bench_dir, exist_ok=True)
    load_start = os.getloadavg()[0]
    s0 = cpu_sample()
    time.sleep(0.5)
    busy_start, steal_start = cpu_share(s0, cpu_sample())
    cp, built = build(root, bench_dir)
    deadline = started + (BUILD_LIMIT_S if built else RUN_LIMIT_S)

    run_dir = os.path.join(bench_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir = os.path.join(run_dir, "input")
    t0 = time.perf_counter()
    gen.generate(a.workload, a.seed, input_dir, a.seconds)
    gen_s = time.perf_counter() - t0

    result_path = os.path.join(run_dir, "result.json")
    jvm_start = cpu_sample()
    code = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--input", input_dir, "--work", os.path.join(run_dir, "work"),
                        "--result", result_path],
                   run_dir, timeout=max(10, deadline - time.time() - 8))
    if code != 0 or not os.path.exists(result_path):
        fail(f"JVM program {'timed out' if code is None else f'exited {code}'}; "
             f"log kept at {run_dir}/jvm.log")
    _, steal_run = cpu_share(jvm_start, cpu_sample())
    with open(result_path) as f:
        r = json.load(f)

    ops = r["ops"]
    checks.check(a.workload, input_dir, ops)
    runs = [o for o in ops if o["kind"] == "run"]
    reads = [o for o in ops if o["kind"] == "read"]
    failed = sum(1 for o in ops if not o["ok"])
    run_lat = [o["lat_ms"] for o in runs if o["ok"]]
    tail_v, tail_pct, tail_n = tail(run_lat)
    e2e = {
        "setup_s": gen_s + r["setup_s"],
        "run_p50_ms": statistics.median(run_lat) if run_lat else 0.0,
        "run_tail_ms": tail_v,
        # the open loop reports its own rate (see StreamIngest.latencies)
        "ops_per_s": r.get("ops_per_s") or len(run_lat) / r["window_s"],
        "read_p50_ms": statistics.median([o["lat_ms"] for o in reads if o["ok"]] or [0.0]),
        "write_amp": r["write_amp"],
        "space_amp": r["space_amp"],
    }
    load_end = os.getloadavg()[0]
    nproc = os.cpu_count()
    # load1 still carries the previous run for a minute, so the flag rests
    # on how busy the CPUs were just before the run, and on how much CPU
    # time the host took from this machine while the run wanted it
    loaded = busy_start > 0.5 or steal_run > 0.05
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": nproc, "heap": HEAP, "load1_start": load_start, "load1_end": load_end,
        "cpu_busy_start": busy_start, "cpu_steal_start": steal_start,
        "cpu_steal_run": steal_run, "loaded_box": loaded, "git_sha": git_sha(root), "source_hash": source_hash(root),
        "bench.gen_late_ms": r.get("gen_late_ms", 0.0), "gen_s": gen_s,
        "jvm_setup_s": r["setup_s"], "window_s": r["window_s"],
        "peak_rss_mb": r["peak_rss_mb"],
        "attempted": len(ops), "failed": failed,
        "error_rate": failed / max(1, len(ops)),
        "run_tail_pct": tail_pct, "run_tail_n": tail_n,
        "end_to_end": e2e, "per_layer": r["layers"],
        "errors": sorted({o["err"] for o in ops if not o["ok"]})[:5],
        "jvm": {k: v for k, v in r.items() if k not in ("ops", "layers")},
    }
    os.makedirs(os.path.join(bench_dir, "results"), exist_ok=True)
    stem = f"{a.workload}-s{a.seed}-t{a.trace}-{int(started)}"
    with open(os.path.join(bench_dir, "results", stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    spans = os.path.join(run_dir, "work", "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(bench_dir, "traces"), exist_ok=True)
        shutil.copy(spans, os.path.join(bench_dir, "traces", stem + ".jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    if loaded:
        print(f"WARNING: loaded box: CPUs {busy_start:.0%} busy at start, "
              f"{steal_run:.0%} of CPU time stolen by the host during the run, "
              f"on {nproc} cores")
    print(f"# {a.workload} seed={a.seed} trace={a.trace} nproc={nproc} heap={HEAP} "
          f"load1={load_start:.2f}->{load_end:.2f} git={record['git_sha']} "
          f"gen_late_ms={record['bench.gen_late_ms']:.2f}")
    print(f"# attempted={len(ops)} failed={failed} error_rate={record['error_rate']:.4f} "
          f"jvm_setup_s={r['setup_s']:.3f} gen_s={gen_s:.3f}")
    print(f"# reads={len(reads)} peak_rss_mb={r['peak_rss_mb']:.1f} MB")
    if a.trace:
        metrics = {k: {"value": v, "unit": checks.layer_unit(k)}
                   for k, v in r["layers"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    for k, m in sorted(metrics.items()):
        extra = f"  (p{tail_pct}, n={tail_n})" if k == "run_tail_ms" else ""
        print(f"{k:32s} {m['value']:14.4f} {m['unit']}{extra}")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
