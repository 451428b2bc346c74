#!/usr/bin/env python3
"""Seeded benchmark of the vspace job and the data pipeline.

    python3 perfbench/run.py --workload vspace-ref --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness with sbt (offline); later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed and cached per (workload,
seed) under .bench_build/perfbench, so generation is in no metric.

A run starts a set-up-only JVM and then the job JVM, each fresh: setup_s is
the median of their two set-up times. The job JVM runs the job once cold,
then twice warm; job_s, cpu_s and heap_peak_mb are medians over the warm
jobs. Every run measures this same work, whatever --seconds says (it is
recorded). Every job's outputs are checked. The last line of stdout is the
result; the line before it is the run's provenance. With --trace 1 only the
job JVM runs: one cold and one warm untraced job, then one traced job, and
the run reports the per-layer metrics. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# generated corpus text per workload, in bytes
WORKLOADS = {"vspace-ref": 3_000_000, "datapipe-dense": 2_500_000}
SETUPS = 2
HEAP = "-Xmx3g"
KEEP_INPUTS = 40
RUN_DEADLINE_S = 170
BUILD_TIMEOUT_S = 840

END_TO_END = [("job_s", "s"), ("gb_per_h", "GB/h"), ("cpu_s", "s"),
              ("setup_s", "s"), ("heap_peak_mb", "MB")]
VSPACE_LAYERS = ["sources", "corpus.normalize", "corpus.grams", "vocabulary.filter",
                 "stats.by_source", "stats.global", "sinks"]
DP_STAGES = ["dp.scan_score", "dp.exact_dedup", "dp.near_cands", "dp.near_verify",
             "dp.near_cc", "dp.decontam", "dp.split_write"]
PER_LAYER = {
    "vspace-ref": [f"{l}.{m}" for l in VSPACE_LAYERS
                   for m in ("wall_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "rows_out")]
    + ["vocabulary.filter.keep_ratio", "vocabulary.filter.broadcast",
       "vocabulary.filter.cache_mb", "corpus.normalize.cache_mb",
       "stats.by_source.fanout", "stats.by_source.task_skew"],
    "datapipe-dense": [f"{s}.{m}" for s in DP_STAGES
                       for m in ("wall_s", "cpu_s", "shuffle_write_mb", "spill_mb")]
    + ["dp.near_cands.task_skew", "dp.near_verify.pairs_per_candidate"],
}
TRACE_COMMON = ["trace.total_s", "trace.coverage", "trace.untraced_job_s", "trace.cold_job_s"]
UNITS = {"wall_s": "s", "cpu_s": "s", "gc_s": "s", "total_s": "s", "untraced_job_s": "s",
         "cold_job_s": "s",
         "shuffle_write_mb": "MB", "spill_mb": "MB", "cache_mb": "MB", "rows_out": "count",
         "broadcast": "flag"}

# SPARK_GRAFT_* variables read only by tool entry points this benchmark never
# calls; every other one changes what the program does
INERT_LEVERS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def child_env():
    """The environment every child process gets: no program levers."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("GRAFT_JVM_OPTS", "SPARK_DRIVER_MEM")}
    env["COURSIER_MODE"] = "offline"
    return env


def run_child(cmd, cwd, logfile, timeout):
    """Runs cmd in its own process group; kills the group on timeout.
    Returns (exit code or None on timeout, seconds)."""
    t0 = time.time()
    with open(logfile, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=child_env(), stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    return code, time.time() - t0


def source_stamp():
    """Hash of everything the build depends on."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
            os.path.join(HARNESS, "project"), os.path.join(HARNESS, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Builds the program and the harness from the sources `stamp` hashes;
    returns (classpath, jvm options)."""
    launch = os.path.join(HARNESS, "target", "launch.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    fresh = os.path.exists(launch) and os.path.exists(stamp_file)
    if not (fresh and open(stamp_file).read() == stamp):
        if shutil.which("sbt") is None:
            fail("sbt not found")
        log("building program and harness (sbt, offline)")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        os.environ["SBT_OPTS"] = " ".join(opts)
        code, secs = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/launchFile"],
                               HARNESS, os.path.join(WORK, "build.log"), BUILD_TIMEOUT_S)
        if code != 0 or not os.path.exists(launch):
            fail(f"build failed (exit {code}); see {os.path.join(WORK, 'build.log')}")
        log(f"built in {secs:.0f} s")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launch).read().splitlines()
    # the program's own JVM options, with a fixed heap and no perf-data file
    return lines[0], [l for l in lines[1:] if l] + [HEAP, "-XX:-UsePerfData",
                                                    "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")]


def java(launch, args, logfile, timeout):
    cp, opts = launch
    return run_child(["java", *opts, "-cp", cp, "perfbench.Main", *args], ROOT, logfile, timeout)


def inputs(launch, workload, seed, stamp, deadline):
    """The cached input directory of (workload, seed), generated if absent.
    It is kept per size and build, so no build reads inputs another
    generator wrote, and the kept-id record in it belongs to one build."""
    root = os.path.join(WORK, "inputs")
    d = os.path.join(root, f"{workload}-{seed}-{WORKLOADS[workload]}-{stamp[:12]}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        log(f"generating {workload} inputs for seed {seed}")
        code, secs = java(launch, ["gen", workload, str(seed), d, str(WORKLOADS[workload])],
                          os.path.join(WORK, "gen.log"), deadline - time.time())
        if code != 0:
            fail(f"input generation failed (exit {code}); see {os.path.join(WORK, 'gen.log')}")
        log(f"generated in {secs:.1f} s")
        open(os.path.join(d, "_DONE"), "w").close()
    os.utime(os.path.join(d, "_DONE"))
    others = sorted((os.path.getmtime(os.path.join(root, x, "_DONE")), x) for x in os.listdir(root)
                    if os.path.exists(os.path.join(root, x, "_DONE")))
    for _, x in others[:-KEEP_INPUTS]:
        shutil.rmtree(os.path.join(root, x), ignore_errors=True)
    return d


def measure(launch, workload, in_dir, mode, deadline):
    """The fresh JVMs of a run in `mode` (plain or trace); returns the job
    JVM's result with the set-up samples added."""
    out = os.path.join(WORK, "out", workload)
    res = out + ".json"

    def launch_jvm(args, t_launch):
        if os.path.exists(res):
            os.remove(res)
        code, secs = java(launch, args, os.path.join(WORK, "job.log"), deadline - time.time())
        r = json.load(open(res)) if os.path.exists(res) else {}
        if code != 0 or not r:
            r["ok"] = False
            r.setdefault("error", f"{args[0]} JVM exit {code}")
        r["process_s"] = secs
        if "call_epoch_s" in r:
            r["setup_s"] = r["call_epoch_s"] - t_launch - r.get("canary_pre_spent_s", 0.0)
        return r

    samples = []
    for _ in range(SETUPS - 1 if mode == "plain" else 0):
        s = launch_jvm(["setup", workload, in_dir, res, WORK], time.time())
        if "error" in s:
            return s
        samples.append(s["setup_s"])
    shutil.rmtree(out, ignore_errors=True)
    r = launch_jvm(["job", workload, in_dir, out, mode, res, WORK], time.time())
    shutil.rmtree(out, ignore_errors=True)
    if "setup_s" in r:
        r["setup_samples_s"] = samples + [r["setup_s"]]
    return r


def git(*args):
    try:
        p = subprocess.run(["git", *args], cwd=ROOT, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return p.stdout if p.returncode == 0 else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"{ROOT} holds no program to measure (no build.sbt / src/main/scala)")
    levers = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_") and k not in INERT_LEVERS)
    if levers:
        fail(f"refusing to run: program levers set in the environment: {', '.join(levers)}")
    if shutil.which("java") is None:
        fail("java not found")
    for d in ("tmp", "out"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    in_git = (git("rev-parse", "--show-toplevel") or "").strip() == ROOT
    head = git("rev-parse", "HEAD").strip() if in_git else None
    tree_before = git("status", "--porcelain") if in_git else None
    load_before = os.getloadavg()

    stamp = source_stamp()
    launch = build(stamp)
    t_start = time.time()
    deadline = t_start + RUN_DEADLINE_S
    in_dir = inputs(launch, a.workload, a.seed, stamp, deadline)
    expected = dict(l.split("=", 1) for l in open(os.path.join(in_dir, "expected.properties"))
                    .read().splitlines() if "=" in l and not l.startswith("#"))
    corpus_gb = int(expected.get("corpus_bytes") or expected["text_bytes"]) / 1e9

    run = measure(launch, a.workload, in_dir, "trace" if a.trace else "plain", deadline)
    reps = run.get("reps", [])
    problems = [f"JVM: {run['error']}"] if run.get("error") else []
    problems += [f"job {k}: {r.get('error') or [c for c in r.get('checks', []) if not c['ok']]}"
                 for k, r in enumerate(reps) if not r.get("ok")]
    attempted = max(1, len(reps))
    failed = sum(1 for r in reps if not r.get("ok")) or (0 if reps else 1)

    metrics = {}
    if a.trace:
        values = dict(run.get("layers", {}))
        missing = [m for m in PER_LAYER[a.workload] + ["trace.total_s", "trace.coverage"]
                   if m not in values]
        if missing and reps:
            problems.append(f"traced run lacks per-layer metrics: {', '.join(missing)}")
        if len(reps) == 3:
            values["trace.cold_job_s"] = reps[0].get("job_s", 0.0)
            values["trace.untraced_job_s"] = reps[1].get("job_s", 0.0)
        # layers the workload does not call did no work: 0
        for name in [m for w in PER_LAYER.values() for m in w] + TRACE_COMMON:
            unit = UNITS.get(name.rsplit(".", 1)[1], "ratio")
            metrics[name] = {"value": values.get(name, 0.0), "unit": unit}
    elif not problems:
        # the first job is cold; the metrics are medians over the warm ones
        def warm(key):
            return statistics.median(r[key] for r in reps[1:])
        values = {"job_s": warm("job_s"), "gb_per_h": corpus_gb / (warm("job_s") / 3600),
                  "cpu_s": warm("cpu_s"), "setup_s": statistics.median(run["setup_samples_s"]),
                  "heap_peak_mb": warm("heap_peak_mb")}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}

    tree_after = git("status", "--porcelain") if in_git else None
    if tree_before != tree_after:
        problems.append("the run changed the git working tree")

    provenance = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "git_head": head,
        "git_tree_unchanged": tree_before == tree_after if in_git else None,
        "corpus_gb": corpus_gb, "expected": expected,
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "cores": run.get("cores"), "jvm_flags": run.get("jvm_flags"),
        "spark_conf": run.get("spark_conf"), "canary": run.get("canary"),
        "setup_samples_s": run.get("setup_samples_s"), "process_s": run["process_s"],
        "jobs": reps,
        "problems": problems, "run_s": time.time() - t_start,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    when = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(WORK, "results", f"{when}-{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"provenance": provenance, "metrics": metrics}, f, indent=1)
    for p in problems:
        log(p)
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
