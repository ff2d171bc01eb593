#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while the
sources are unchanged. Each run generates its inputs from the seed, runs the
workload in one JVM on local[<cores>], checks the outputs, and prints one
human-readable line per metric followed by a final JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 they are the per-layer ones, measured by a traced JVM, plus the
tracing overhead against an untraced JVM of the same seed, run just before.
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import selftest  # noqa: E402

WORKLOADS = ["crowd_stream", "history_sql"]
# scale factor of history_sql's tables (row counts linear in it; 0.1 = the
# engine's bench fixtures), sized so a run's set-up, check pass, warm pass
# and oracle compare fit beside the measured seconds; crowd_stream makes its
# frames in the JVM
HISTORY_SCALE = 0.01
RUN_LIMIT_S = 170
# A fixed young generation keeps the heap's growth, and so peak RSS, from
# following G1's adaptive sizing run to run (crowd_stream: 7.5% spread
# without it, 1-3% with it).
YOUNG_GEN = "-Xmn768m"

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(BENCH, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) are missing; nothing to build")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    log("building with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return lines[-1].strip()


def run_jvm(cp, workload, data, work, seed, seconds, trace, deadline):
    out = os.path.join(work, "result.json")
    cores = os.cpu_count() or 1
    heap = "3g"
    cmd = [os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java",
           f"-Xmx{heap}", f"-Xms{heap}", YOUNG_GEN, "-XX:+UseG1GC",
           f"-XX:ActiveProcessorCount={cores}",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           f"-Dderby.system.home={work}", *JAVA_OPENS,
           "-cp", cp, "perfbench.Harness",
           "--workload", workload, "--data", data, "--work", work, "--out", out,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--cores", str(cores)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    logf = open(os.path.join(work, "jvm.log"), "w")
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"{workload} JVM exceeded the run limit")
    finally:
        # also on SIGTERM or an interrupt: never leave the JVM running
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        logf.close()
    log(f"{workload} JVM ({'traced' if trace else 'untraced'}) ran {time.time() - t0:.1f} s")
    if proc.returncode != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
        raise SystemExit(f"{workload} JVM exited with {proc.returncode}")
    return json.load(open(out))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM and scratch are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + RUN_LIMIT_S
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp = build()
    selftest.run_all(BUILD)
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 30)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    try:
        if a.workload == "history_sql":
            t0 = time.time()
            gen.generate(a.seed, data, HISTORY_SCALE)
            log(f"inputs generated in {time.time() - t0:.2f} s")
        if a.trace:
            # the untraced JVM of the same seed and build, for the overhead
            plain = run_jvm(cp, a.workload, data, os.path.join(run_dir, "plain"), a.seed,
                            a.seconds, False, deadline)["end_to_end"]
        res = run_jvm(cp, a.workload, data, os.path.join(run_dir, "jvm"), a.seed, a.seconds,
                      bool(a.trace), deadline)
        if a.trace:
            spans = os.path.join(BUILD, "spans", f"{a.workload}-{a.seed}.json")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copyfile(os.path.join(run_dir, "jvm", "result.json.spans.json"), spans)
            log(f"spans written to {os.path.relpath(spans, ROOT)}")
        t0 = time.time()
        mismatched, rows_out = oracle.check(res["dumps"], data, res["timings"])
        log(f"oracle check in {time.time() - t0:.2f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = res["failed"] + sum(res["dumps"][q]["runs"] for q in mismatched)
    attempted = res["attempted"]
    for q, why in sorted(mismatched.items()):
        log(f"output mismatch (defect): {q}: {why}")
    for n in res["notes"]:
        log(n)
    for k, v in res["timings"]:
        log(f"{k}: {v:.3f} s")
    if a.trace:
        layer = dict(res["per_layer"])
        traced = res["end_to_end"]
        if res["dumps"]:
            out = sum(rows_out.get(q, 0) * d["runs"] for q, d in res["dumps"].items())
            layer["sources.rows_read_per_row_out"] = layer["sources.input_records"] / out if out else 0.0
        layer["trace.overhead_frac"] = traced["latency_p50_ms"] / plain["latency_p50_ms"] - 1.0
        layer["trace.throughput_overhead_frac"] = 1.0 - traced["throughput_per_s"] / plain["throughput_per_s"]
        for k, v in sorted(layer.items()):
            log(f"layer {k} = {v:.6g}")
        wanted = spec["per_layer"]
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
    else:
        e2e = res["end_to_end"]
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    log(f"{a.workload} seed={a.seed}: {res['samples']} latency samples, tail = "
        f"p{res['tail_percentile']:g}, setups {res['setup_runs_s']}")
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0 and not mismatched, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
