#!/usr/bin/env python3
"""CDC service benchmark: one workload, one seed, one measuring time.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source with sbt (offline) into .bench_build/; later runs reuse
the build while the sources are unchanged. The harness (perfbench/src) runs
the workload in one JVM and writes raw samples; this script turns them into
metrics, writes a self-describing record to .bench_build/results/ and
prints, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. `attempted` counts source rows (one
per row of every pass, warm-up included) and `failed` counts rows lost,
duplicated or wrong plus passes that threw, so failed / attempted is the
error rate.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 165
HEAP = "-Xmx3g"
SBT_OFFLINE = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
               "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """Compile program + harness unless the sources match the last build.
    Returns the launch file lines: classpath, then the program's JVM options."""
    h = hashlib.sha256()
    for f in source_files():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    launch = os.path.join(BUILD, "launch.txt")
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(launch).read().splitlines()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=" ".join(SBT_OFFLINE + ["-Xmx2g"]))
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/launchFile"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          timeout=840)
    if proc.returncode != 0 or not os.path.exists(launch):
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        fail("build failed", 3)
    print("perfbench: built in %.1f s" % (time.time() - t0))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(launch).read().splitlines()


def environment():
    env = {"nproc": len(os.sched_getaffinity(0))}
    try:
        env["loadavg"] = open("/proc/loadavg").read().split()[:3]
        for line in open("/proc/meminfo"):
            if line.startswith("MemAvailable:"):
                env["mem_available_kb"] = int(line.split()[1])
    except OSError:
        pass
    env["git_head"], env["git_dirty"] = "unknown", None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            env["git_head"] = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                             text=True, timeout=30).stdout.strip()
            env["git_dirty"] = bool(subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                                                   capture_output=True, text=True, timeout=30).stdout.strip())
        except (OSError, subprocess.SubprocessError):
            pass
    return env


def run_harness(launch, args, work):
    raw_file = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = [o for o in launch[1:] if not o.startswith("-Xmx")]
    cmd = (["java", HEAP, "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"), "-cp", launch[0]] + jvm +
           ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", raw_file, "--work", work])
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("harness exceeded %d s" % RUN_TIMEOUT_S, 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0 or not os.path.exists(raw_file):
        fail("harness exited with code %s" % code, 4)
    with open(raw_file) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(spec_file))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload %r" % args.workload)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("program sources (build.sbt, src/main/scala) not found next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    launch = build()
    env = environment()
    work = os.path.join(BUILD, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    os.makedirs(work, exist_ok=True)
    out_dir = os.path.join(BUILD, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = os.path.join(out_dir, "%s-%d-t%d" % (args.workload, args.seed, args.trace))
    try:
        raw = run_harness(launch, args, work)
    finally:
        if os.path.exists(os.path.join(work, "raw.json")):
            shutil.copy(os.path.join(work, "raw.json"), name + ".raw.json")
        shutil.rmtree(work, ignore_errors=True)

    e2e, layers, bases, attempted, failed, errors = stats.summarize(raw)
    if raw.get("fatal"):
        errors.append(raw["fatal"])
        failed += 1
    wanted = spec["end_to_end"] if args.trace == 0 else spec["per_layer"]
    got = e2e if args.trace == 0 else layers
    if not got:
        for e in errors:
            sys.stderr.write(e + "\n")
        fail("no pass completed correctly", 5)
    metrics = {m["name"]: {"value": got[m["name"]][0], "unit": m["unit"]} for m in wanted}

    layers_map = json.load(open(os.path.join(HERE, "layers.json")))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "env": env, "attempted": attempted, "failed": failed, "errors": errors,
        "metrics": {k: {"value": v[0], "samples": v[1]} for k, v in got.items()},
        "ratio_bases": bases, "layer_targets": layers_map,
        "passes": [{k: p[k] for k in ("index", "traced", "warmup", "setup_s", "timed_s", "rows", "failed")}
                   for p in raw["passes"]],
    }
    if args.trace == 0 and args.workload == "stream_fresh":
        record["fresh_p99_within_1000ms"] = got["fresh_p99_ms"][0] <= 1000.0
    with open(name + ".json", "w") as fh:
        json.dump(record, fh, indent=1)

    for m in wanted:
        print("%-36s %14.4f %-6s (n=%d)" % (m["name"], got[m["name"]][0], m["unit"], got[m["name"]][1]))
    if args.trace == 1:
        print("tracing overhead %.1f%% of untraced rows_per_s %.1f (traced %.1f)" % (
            layers["trace.overhead_pct"][0], layers["trace.untraced_rows_per_s"][0],
            layers["trace.traced_rows_per_s"][0]))
    print(json.dumps({"correct": failed == 0 and not errors, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
