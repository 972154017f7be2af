#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload q4112_probe --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (sbt, offline) and keeps the classpath under
perfbench/.build; later runs reuse it while the sources are unchanged.
Each run starts one JVM on local[nproc / 2] through graft.Engine.session,
checks every pass against an independent oracle, writes a self-contained
record under perfbench/.runs/records, and prints as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
--smoke runs every code path on tiny inputs (see tests/smoke_test.py).
Exit code 0 only when every pass agreed with its oracle.
"""
import argparse
import datetime
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
BUILD_DIR = os.path.join(HERE, ".build")
RUNS_DIR = os.path.join(HERE, ".runs")

# scale: the workload's size relative to its Matrix shape. Sizes were
# fixed by sizing runs on a 4-core host so that one run, builds aside,
# ends within about 45 seconds.
WORKLOADS = {
    "q4112_probe": {"scale": 0.01, "smoke_scale": 1e-4},
    "q4112_groups": {"scale": 0.005, "smoke_scale": 1e-4},
}
# rounds per run, each a fresh session + ingest, one cold pass and
# --seconds / ROUNDS of warm passes
ROUNDS = 4
HEAP = "3g"
# BASELINE.md, t4 column (C reference, 4 threads, 1e9 orders rows):
# part-1 cfg8 and part-2 cfg11, the shapes the q4112 workloads scale down
REFERENCE_T4_S = {"q4112_probe": 6.01, "q4112_groups": 17.76}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and benchmark (sbt, offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's own scratch files (server sockets, JVM perf data) stay in the
    # checkout too
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS") or " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]),
        "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}"])
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    t0 = time.time()
    out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], HERE, env, timeout=840)
    if out is None or out[0] != 0:
        log("build failed:\n" + (out[1][-4000:] if out else "timed out"))
        sys.exit(3)
    cps = [l for l in out[1].splitlines() if "scala-2.13/classes" in l and ".jar" in l]
    if not cps:
        log("build printed no classpath")
        sys.exit(3)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cps[-1].strip()


def run_child(cmd, cwd, env, timeout, stdout_path=None):
    """Run a child in its own process group; on timeout kill the group and
    wait for it. Returns (code, stdout) or None on timeout."""
    err = open(stdout_path + ".err", "w") if stdout_path else subprocess.STDOUT
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None
    finally:
        if stdout_path:
            err.close()


def cpu_ticks():
    """(steal, total) clock ticks summed over the CPUs this process may
    use, from /proc/stat; (0, 0) where the kernel does not report them."""
    mine = {f"cpu{c}" for c in os.sched_getaffinity(0)}
    steal = total = 0
    try:
        with open("/proc/stat") as f:
            for line in f:
                parts = line.split()
                if parts and parts[0] in mine:
                    ticks = [int(x) for x in parts[1:]]
                    total += sum(ticks[:8])
                    steal += ticks[7] if len(ticks) > 7 else 0
    except OSError:
        pass
    return steal, total


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown (git unavailable)"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=4112)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, every code path")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources under {ROOT} (need build.sbt and src/main/scala/graft)")
        sys.exit(2)

    wl = WORKLOADS[a.workload]
    scale = wl["smoke_scale"] if a.smoke else wl["scale"]
    rounds = 1 if a.smoke else ROUNDS
    classpath = build()
    nproc = len(os.sched_getaffinity(0))
    # Spark runs on half of the CPUs. Task threads on every CPU leave none
    # for the driver, the JIT, the collector and the kernel, and on a
    # shared host a stage then waits on whichever CPU the hypervisor took
    # away. In three paired sets of runs on a 4-CPU host, local[4] gave
    # cold_s 1.5 to 3.6 times the run-to-run spread of local[2].
    cores = max(1, nproc // 2)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(RUNS_DIR, tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    records = os.path.join(RUNS_DIR, "records")
    os.makedirs(records, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    spans = os.path.join(records, f"{stamp}-{tag}-spans.jsonl")

    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scale", repr(scale), "--rounds", str(rounds),
            "--cores", str(cores), "--spans", spans if a.trace else ""]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/tmp",
              "-cp", classpath, "perfbench.Main"] + args)
    t0 = time.time()
    ticks0 = cpu_ticks()
    res = run_child(cmd, ROOT, dict(os.environ), timeout=170,
                    stdout_path=os.path.join(run_dir, "jvm.log"))
    ticks1 = cpu_ticks()
    wall = time.time() - t0
    lines = res[1].strip().splitlines() if res else []
    if res is None or res[0] != 0 or not lines:
        with open(os.path.join(run_dir, "jvm.log.err")) as f:
            log("JVM failed" + (" (timeout)" if res is None else f" (exit {res[0]})")
                + ":\n" + f.read()[-4000:])
        sys.exit(4)
    rec = json.loads(lines[-1])
    with open(os.path.join(run_dir, "jvm.log.err")) as f:
        for line in f:
            if line.startswith("[perfbench"):
                sys.stderr.write(line)

    for e in rec["errors"]:
        log(f"FAILED {e}")
    attempted, failed = rec["attempted"], rec["failed"]
    # the C reference's 4-thread time for 1e9 orders rows, scaled to this
    # run's orders rows; a derived ratio for the record, not a metric
    scaled_t4 = REFERENCE_T4_S[a.workload] * scale
    rec.update({
        "host": {"nproc": nproc, "spark_cores": cores, "cpu_count": os.cpu_count(), "heap": HEAP},
        "git_commit": git_commit(),
        "utc": stamp,
        "run_wall_s": wall,
        # share of CPU time the hypervisor gave to other guests during the
        # run; a diagnostic for noisy runs on shared hosts, never a metric
        "steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
        "rounds": rounds,
        "inputs": "graft.gen.Q4112Gen with GenConfig.seed = --seed",
        "fail_ratio": failed / attempted,
        "scaled_t4": {"reference_t4_s_at_1e9_rows": REFERENCE_T4_S[a.workload],
                      "scaled_t4_s": scaled_t4,
                      "warm_s_over_scaled_t4": statistics.median(rec["warm_s"]) / scaled_t4},
    })
    with open(os.path.join(records, f"{stamp}-{tag}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": rec["metrics"]}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
