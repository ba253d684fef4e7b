"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program if needed, generates the workload's inputs from the seed,
runs the workload in one JVM (perfbench.Main), checks the outputs against the generator's
invariants and prints, as the last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1). The line before it carries the
environment stamp. Everything is written under .bench_build/.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("balance_lookups", "intraday_replay", "corpus_prep")

# name -> unit. Every run reports every metric of its mode.
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "retained_heap_mb": "MB",
}
_LAYER_NAMES = (
    ["sources.ingest_s", "validators.source_s", "validators.results_s", "fifo.match_s",
     "analytics.history_s", "analytics.report_s"]
    + [f"pipeline.stage.{s}_s" for s in
       ("ingest", "validate_source", "fifo_match", "validate_results", "build_analytics")]
    + ["pipeline.uncovered_s", "lookups.persist_s"]
    + [f"queries.q{k:02d}_ms" for k in range(1, 13)]
    + ["queries.plan_ms", "queries.exec_ms", "queries.cache_hit_frac",
       "replay.stage_s", "replay.stream_s", "replay.readback_s"]
    + [f"trigger.{p}_ms" for p in
       ("latest_offset", "planning", "add_batch", "wal_commit", "commit_offsets", "uncovered")]
    + ["trigger.first_ms", "trigger.tasks", "state.commit_ms", "state.rows_total",
       "state.memory_mb", "shared.curation_s", "shared.dedup_s", "shared.ann_s"]
    + [f"gates.{g}_s" for g in
       ("dedup_clusters", "ann_ivf_topk", "ann_recall_eval", "curation_pipeline_v5")]
    + ["jvm.heap_after_gc_mb"]
    + [f"spark.{k}" for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "cpu_frac",
                              "sched_delay_s", "shuffle_write_mb", "spill_mb", "gc_s")]
    + ["trace.overhead_ms"])


def layer_unit(name):
    if name.endswith("_frac"):
        return "fraction"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"


PER_LAYER = {n: layer_unit(n) for n in _LAYER_NAMES}

JVM_HEAP = "3g"
JDK_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
DEADLINE_S = 170  # a run must end within 180 s


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def filesystem(path):
    """(mount point, fs type) of the mount holding `path`."""
    path = os.path.realpath(path)
    best = ("/", "?")
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[0]):
                best = (mnt, fstype)
    return {"mount": best[0], "fstype": best[1]}


def percentile(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = (len(s) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(result):
    setup = result["setup"]
    lat = result["lat_ms"]
    return {
        "setup_s": setup["session_s"] + setup["load_s"] + setup["prep_s"] + setup["warmup_s"],
        "throughput_per_s": result["work_done"] / result["wall_s"],
        "op_p50_ms": statistics.median(lat) if lat else 0.0,
        "op_p90_ms": percentile(lat, 90),
        "retained_heap_mb": setup["retained_heap_mb"],
    }


def per_layer(result):
    """Every declared layer metric; a layer this workload does not exercise
    spent no time and ran no work in it, so it reads 0."""
    layers = result["layers"]
    unknown = sorted(set(layers) - set(PER_LAYER))
    if unknown:
        raise ValueError(f"undeclared layer metrics {unknown}")
    return {n: layers.get(n, 0.0) for n in PER_LAYER}


def run_jvm(classpath, workload, run_dir, seconds, trace, deadline):
    work, tmp, replay = (os.path.join(run_dir, d) for d in ("work", "tmp", "replay"))
    for d in (work, tmp, replay):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-Xss8m", "-XX:-UsePerfData"]
           + [a for o in JDK_OPENS for a in ("--add-opens", o)]
           + ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
              f"-Dgraft.replay.tmpdir={replay}", "-cp", classpath, "perfbench.Main",
              workload, os.path.join(run_dir, "input"), work, str(seconds), str(trace), out])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                              timeout=max(10.0, deadline - time.monotonic()))
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited with {proc.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    root = os.getcwd()
    try:
        classpath = build.ensure(root)
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(root, build.BUILD_DIR, "runs", f"{name}-{os.getpid()}")
    results_dir = os.path.join(root, build.BUILD_DIR, "results")
    os.makedirs(results_dir, exist_ok=True)
    try:
        inv = gen.generate(a.workload, a.seed, os.path.join(run_dir, "input"))
        load_before = loadavg()
        result = run_jvm(classpath, a.workload, run_dir, a.seconds, a.trace, deadline)
        load_after = loadavg()
        replay_fs = filesystem(os.path.join(run_dir, "replay"))
        shutil.copy(os.path.join(run_dir, "jvm.log"), os.path.join(results_dir, name + ".log"))
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        sys.exit(f"run failed: {e}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed, errors = checks.check_run(a.workload, result, inv)
    env = dict(result["env"], nproc=os.cpu_count(), load_before=load_before,
               load_after=load_after, replay_scratch=replay_fs, workload=a.workload,
               seed=a.seed, seconds=a.seconds, trace=a.trace)
    values, units = (per_layer(result), PER_LAYER) if a.trace else (end_to_end(result), END_TO_END)
    line = {
        "correct": attempted > 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    with open(os.path.join(results_dir, name + ".json"), "w") as f:
        json.dump(dict(result, env=env, check_errors=errors, line=line), f)
    for e in errors[:20]:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
