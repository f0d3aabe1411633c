"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source if needed (build.py), runs the workload in
one JVM (perfbench/src/Harness.scala) on the sf0.1 tables in
perfbench/data, checks every output against perfbench/digests.json (ingest:
against the batch pipeline), and prints each metric as `name value unit`,
then one JSON result as the last stdout line. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.
Workloads and their op lists are in perfbench/workloads.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

DATA = os.path.join(build.BENCH_DIR, "data", "sf0.1")
JVM_TIMEOUT_S = 170
# A fixed-size heap and the stop-the-world parallel collector: the explicit
# GC between ops finishes before the next op starts, and no heap resizing
# or adaptive young-generation sizing varies from one JVM to the next.
# JIT thresholds at 5 % of their defaults: each op runs only once a pass, so
# at the default thresholds much of Spark's planning code is still being
# compiled ten passes in, and how far a JVM has got depends on how much CPU
# the host gave its compiler threads. With the lower thresholds most of
# that drop is over after three warm passes (the `settle_passes` of
# etl_pipelines); later passes still get faster by a few percent each.
JVM_OPTS = ["-Xms4g", "-Xmx4g", "-Xmn1g", "-XX:+UseParallelGC", "-Xss8m",
            "-XX:CompileThresholdScaling=0.05"]


def load(name):
    with open(os.path.join(build.BENCH_DIR, name)) as f:
        return json.load(f)


MIN_WARM_PASSES = 3
# Seconds of `--seconds` per timed warm pass: a nominal pass length (with the
# GC between ops) that keeps a run of either workload near a minute.
PASS_S = 5.5


def warm_passes(seconds):
    """Timed warm passes of a run: as many nominal pass lengths as fit in
    `seconds`, and at least 3. The count depends on the arguments only,
    never on how fast the program runs, so every run times the same number
    of ops. The workload's `settle_passes` run before them, untimed."""
    return max(MIN_WARM_PASSES, int(seconds // PASS_S))


def run_harness(name, workload, seed, seconds, trace, log):
    """Run the timed JVM; return its raw record."""
    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    args = ["--data", DATA, "--work", work, "--out", out, "--seed", str(seed),
            "--passes", str(workload["settle_passes"] + warm_passes(seconds)),
            "--trace", "1" if trace else "0", "--workload", name]
    if "ops" in workload:
        args += ["--ops", ",".join(workload["ops"])]
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp"]
           + build.ADD_OPENS + ["-cp", build.classpath(), "perfbench.Harness"] + args)
    jvm_log = os.path.join(work, "jvm.log")
    try:
        with open(jvm_log, "w") as f:
            done = subprocess.run(cmd, stdout=f, stderr=f, timeout=JVM_TIMEOUT_S)
        if done.returncode != 0 or not os.path.exists(out):
            with open(jvm_log) as f:
                log.write("".join(f.readlines()[-40:]))
            raise RuntimeError(f"harness exited with code {done.returncode}")
        with open(out) as f:
            record = json.load(f)
        record["settle_passes"] = workload["settle_passes"]
        return record
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args(argv)
    log = sys.stderr
    workloads = load("workloads.json")
    if a.workload not in workloads:
        log.write(f"unknown workload {a.workload}; known: {', '.join(workloads)}\n")
        return 2
    try:
        if not os.path.isdir(DATA):
            raise RuntimeError(f"input tables not found at {DATA}")
        build.ensure_built(log)
        record = run_harness(a.workload, workloads[a.workload], a.seed,
                             a.seconds, a.trace, log)
    except (RuntimeError, OSError, subprocess.TimeoutExpired) as e:
        log.write(f"[perfbench] {e}\n")
        return 1

    attempted, failed, problems = metrics.failures(record, load("digests.json"))
    for p in problems:
        log.write(f"[perfbench] FAIL {p}\n")
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    if a.trace:
        values = metrics.per_layer(record)
    else:
        values, info = metrics.end_to_end(record)
        print(f"op_tail_s is p{info['op_tail_percentile']:.0f} of "
              f"n={info['op_tail_n']} warm op times")
        print(f"pass times (cold, {record['settle_passes']} untimed settle, then timed) "
              + " ".join(f"{t:.3f}" for t in info["pass_s"]))
        print(f"fail_ratio {failed / attempted:.6g} ratio ({failed} of {attempted} ops)")
    units = {m["name"]: m["unit"] for m in declared}
    if set(values) != set(units):
        log.write(f"[perfbench] metrics {sorted(set(values) ^ set(units))} "
                  "differ from BENCHMARK.json\n")
        return 1
    for name, v in values.items():
        print(f"{name} {v:.6g} {units[name]}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
