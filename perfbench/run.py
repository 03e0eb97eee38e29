#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JVM.

Run from the repository root:

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 10 --trace 0

It builds the engine and the harness from source (sbt, offline) on first
use, generates the seeded input tables, runs the workload in one process at
local[nproc / 2] with one closed-loop client, checks every output against the
DuckDB oracles, and prints each metric with its unit. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
With --trace 1 the metrics are the per-layer ones (see README.md).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

import check

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
RUNS = os.path.join(BENCH, ".run")
MB = 1024.0 * 1024.0

WORKLOADS = ["read_mix", "daily_increment"]
SCALE = 0.01  # input rows as a fraction of the reference sf1 row counts
DATA_SEED = 42
RUN_LIMIT_S = 170  # one run, build excluded, must end within 180 s
CHECK_RESERVE_S = 20  # the correctness gate and reporting after the JVM
NOISY_STEAL = 0.05


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; cache the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "digest.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd = ["sbt", "--batch"] + opts + ["compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def dataset(scale):
    out = os.path.join(BUILD, f"data_scale{scale}_seed{DATA_SEED}")
    if not os.path.exists(os.path.join(out, ".done")):
        import gen_data
        shutil.rmtree(out, ignore_errors=True)
        gen_data.generate(scale, DATA_SEED, out)
        open(os.path.join(out, ".done"), "w").close()
    return out


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


class StealSampler(threading.Thread):
    """Samples hypervisor steal from /proc/stat once a second."""
    def __init__(self):
        super().__init__(daemon=True)
        self.samples, self.stop_flag = [], threading.Event()
        self.first = cpu_times()

    def run(self):
        prev = self.first
        while not self.stop_flag.wait(1.0):
            cur = cpu_times()
            dt = cur[0] - prev[0]
            if dt > 0:
                self.samples.append((cur[1] - prev[1]) / dt)
            prev = cur

    def finish(self):
        self.stop_flag.set()
        self.join()
        last = cpu_times()
        total = last[0] - self.first[0]
        return ((last[1] - self.first[1]) / total if total else 0.0,
                max(self.samples, default=0.0))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, work, timeout):
    """Run the harness JVM; its exit code, or None if it was killed at `timeout`."""
    heap = "2g"
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dlog4j2.level=WARN"]
           + [x for o in opens for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def tail_value(xs):
    """Latency at the highest percentile with at least 10 samples beyond it
    (the maximum when there are 10 samples or fewer)."""
    s = sorted(xs)
    n = len(s)
    beyond = 10 if n > 10 else 0
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n, beyond


def module_map():
    """query name -> object under queries/ or models/ that builds it."""
    src = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
    text = open(src).read()
    return {m.group(1): m.group(2) for m in
            re.finditer(r'"(q\w+)"\s*->\s*\((?:[\w.]*\.)?(\w+)\.\w+ _\)', text)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    spec = json.load(open(spec_path))
    cp = build()
    data = dataset(SCALE)
    t_ready = time.monotonic()
    nproc = len(os.sched_getaffinity(0))
    # Task slots: half the cores. The other half keep the driver thread, the
    # JIT compiler and the garbage collector off the task threads' cores, so
    # a core the host steals for a moment delays one task, not every stage.
    # At the benchmark's input size two slots are as fast as four.
    cores = max(1, nproc // 2)
    with open("/proc/loadavg") as f:
        load_at_launch = [float(x) for x in f.read().split()[:3]]

    work = os.path.join(RUNS, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    steal = StealSampler()
    steal.start()
    jvm_timeout = RUN_LIMIT_S - CHECK_RESERVE_S - (time.monotonic() - t_ready)
    rc = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--data", data, "--work", work, "--cores", str(cores),
                      "--budget", f"{jvm_timeout - 10:.1f}",
                      "--result", result_path], work, jvm_timeout)
    steal_total, steal_max = steal.finish()
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as f:
            log = f.read()
        sys.stderr.write(log[-4000:])
        phases = [l for l in log.splitlines() if l.startswith("[perfbench")]
        reached = phases[-1] if phases else "before the session was ready"
        how = f"killed after {jvm_timeout:.0f} s" if rc is None else f"exit {rc}"
        fail(f"engine run failed ({how}); last phase reached: {reached}")
    r = json.load(open(result_path))

    mismatches = check.compare_all(r, data, os.path.join(BUILD, "oracle_cache"))
    for name, msg in mismatches:
        print(f"check FAIL {name}: {msg}")
    run_failures = r["failures"]
    for name, msg in run_failures:
        print(f"op FAILED {name}: {msg}")
    attempted = r["attempted"]
    failed = len(run_failures) + len(mismatches)

    passes = r["passes"]
    plain = [p for p in passes if not p["traced"]] or passes
    traced = [p for p in passes if p["traced"]]
    lat = [op[1] for p in plain for op in p["ops"] if op[2]]
    tail, tail_pct, n_lat, n_beyond = tail_value(lat)
    e2e = {
        "setup_s": r["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in plain),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail,
        "ok_ratio": 1.0 - failed / attempted,
        "peak_heap_mb": statistics.median(p["peak_live_heap_bytes"] for p in plain) / MB,
        "written_mb": statistics.median(p["written_bytes"] for p in plain) / MB,
        "stored_mb": statistics.median(p["stored_bytes"] for p in plain) / MB,
    }
    env = {
        "workload": a.workload, "seed": a.seed, "nproc": nproc, "spark_cores": cores,
        "scale": SCALE,
        "loadavg_at_launch": load_at_launch, "steal_total": round(steal_total, 4),
        "steal_max_1s": round(steal_max, 4), "git_commit": git_commit(),
        "source_digest": source_digest()[:16], "passes": len(passes),
        "passes_planned": r["passes_planned"], "input_mb": dir_bytes(data) / MB,
        "setup_parts_s": {"session": r["session_s"], "prepare": r["prepare_s"],
                          "warm_up": r["setup_s"] - r["session_s"] - r["prepare_s"]},
        "failed_ratio": failed / attempted,
        "ops": [op[0] for op in passes[0]["ops"]],
        "rows": check.row_counts(r),
        "noisy": steal_max > NOISY_STEAL,
        "spark_conf": r["conf"],
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if a.trace == 0:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        print(f"op_tail_s is p{tail_pct:.1f} of {n_lat} operations ({n_beyond} beyond it)")
    else:
        metrics = layer_metrics(r, spec, traced, plain, cores)
        print("self time per traced pass: " + ", ".join(
            f"{k} {v / max(len(traced), 1):.3f} s" for k, v in sorted(r["self_s"].items())))
        print(f"trace overhead {metrics.get('trace.overhead', 0):.4f} "
              f"(traced pass_s / untraced pass_s - 1, {len(traced)} traced passes); "
              f"spans in {os.path.relpath(os.path.join(RUNS, 'last_trace_' + a.workload), ROOT)}")
    for k, v in metrics.items():
        print(f"metric {k} = {v:.6g} {units[k]}")
    print("env " + json.dumps(env, sort_keys=True))
    if a.trace == 1:
        keep = os.path.join(RUNS, f"last_trace_{a.workload}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("spans.jsonl", "result.json"):
            if os.path.exists(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), keep)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


def layer_metrics(r, spec, traced, plain, cores):
    n = max(len(traced), 1)
    layers = r.get("layers", {})
    per_pass = {k: v / n for k, v in layers.items()}
    mods = module_map()
    for p in traced:
        for name, sec, _ in p["ops"]:
            key = f"queries.{mods.get(name, 'other')}_s"
            per_pass[key] = per_pass.get(key, 0.0) + sec / n
    wall = sum(p["wall_s"] for p in traced) / n
    per_pass["exec.core_util"] = per_pass.get("exec.run_s", 0.0) / (wall * cores) if wall else 0.0
    rows_out = per_pass.get("output.rows", 0.0)
    per_pass["scan.rows_per_output_row"] = (per_pass.get("scan.input_rows", 0.0) / rows_out
                                            if rows_out else 0.0)
    commits = sum(p.get("log_commits", 0) for p in traced) / n
    per_pass["txlog.conflicts"] = max(per_pass.get("txlog.commit_n", 0.0) - commits, 0.0)
    if traced and plain:
        per_pass["trace.overhead"] = (statistics.median(p["wall_s"] for p in traced)
                                      / statistics.median(p["wall_s"] for p in plain) - 1.0)
    per_pass["codegen.compile_ms_mean"] = layers.get("codegen.compile_ms_mean", 0.0)
    return {m["name"]: per_pass.get(m["name"], 0.0) for m in spec["per_layer"]}


if __name__ == "__main__":
    main()
