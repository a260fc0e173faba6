#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result record.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: pipeline_batch, stream_events (see perfbench/README.md). The first run builds the program and the harness
from source with sbt (offline); later runs reuse that build while the
sources are unchanged. Each run starts one JVM that does all the work;
everything it writes stays under perfbench/ (work files are removed at the
end, result and span files are kept in perfbench/results/).

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`.
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
HARNESS = os.path.join(HERE, "harness")
LAUNCH = os.path.join(HARNESS, "target", "launch")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("pipeline_batch", "stream_events")
# A fixed-size heap with the parallel collector: under G1 the same pipeline
# pass settled 20-30 % apart from one JVM to the next on a 4-core machine,
# which the benchmark's bounds cannot absorb. No perf-data file in /tmp: a
# run writes only inside the checkout.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: the program's and the harness's."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src", "main")):
        for dirpath, dirnames, files in os.walk(d):
            dirnames.sort()
            inputs += [os.path.join(dirpath, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def build():
    stamp = source_stamp()
    stamp_file = os.path.join(LAUNCH, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return
    print("perfbench: building graft and the harness (sbt compile)", file=sys.stderr)
    try:
        code, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                                BUILD_TIMEOUT_S, cwd=HARNESS, env=sbt_env(),
                                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, when it is present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft sources here ({need} missing); nothing to benchmark")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    build()

    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        classpath = f.read().strip()
    with open(os.path.join(LAUNCH, "jvm_options.txt")) as f:
        jvm_options = [l for l in f.read().splitlines() if l]
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(RESULTS, exist_ok=True)
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + jvm_options +
           ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", RESULTS])
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    record = None
    for i in range(len(lines) - 1, -1, -1):
        try:
            cand = json.loads(lines[i])
        except ValueError:
            continue
        if isinstance(cand, dict) and set(cand) == {"correct", "attempted", "failed", "metrics"}:
            record = cand
            del lines[i]
            break
    for line in lines:
        print(line)
    if code != 0 or record is None:
        fail(f"harness exited with {code} and no result", 5)
    declared = declared_metrics(args.trace)
    if declared is not None:
        got = {k: v["unit"] for k, v in record["metrics"].items()}
        if got != declared:
            fail(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(declared))}", 6)
    sys.stdout.flush()
    print(json.dumps(record, separators=(",", ":")))


if __name__ == "__main__":
    sys.exit(main())
