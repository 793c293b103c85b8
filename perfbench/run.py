#!/usr/bin/env python3
"""Benchmark driver for the graft engine: builds the engine and the harness
from source, runs one workload, checks its outputs and prints one JSON
line with the metrics named in BENCHMARK.json.

Usage (from the repository root):

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

With --trace 0 the result carries the end-to-end metrics; with --trace 1 it
carries the per-layer metrics and the run writes its spans to
<build dir>/traces/<workload>-seed<n>.json. The build goes to
$CARGO_TARGET_DIR (default .bench_build) and is reused while the sources
are unchanged. See perfbench/README.md.
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
from pathlib import Path

sys.dont_write_bytecode = True
import corpus  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_LIMIT_S = 170  # a run must end within 180 s

# Each workload: the prefixes of the per-layer metrics it measures (those
# of other layers read 0), and the scale of the corpus it reads, if any.
COMMON = ("spark.", "trace.", "peak_rss", "host.")
WORKLOADS = {
    "repl_open_drain": {"layers": ("open.", "drain.", "avro.") + COMMON, "corpus_sf": None},
    "catalog_sf0.01_mix": {"layers": ("catalog.", "staging.") + COMMON, "corpus_sf": 0.01},
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for src in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(build_dir):
    """Compile engine and harness with sbt unless the sources are unchanged;
    return the JVM classpath and options the engine's build declares."""
    stamp_file, launch = build_dir / "stamp", build_dir / "launch.txt"
    stamp = sources_stamp()
    if not (launch.exists() and stamp_file.exists()
            and stamp_file.read_text() == stamp):
        build_dir.mkdir(parents=True, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
            env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
        with open(build_dir / "build.log", "w") as log:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true",
                 f"-Dbench.out={build_dir}", "compile", "benchLaunch"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL).returncode
        if rc != 0:
            tail = (build_dir / "build.log").read_text().splitlines()[-20:]
            fail("build failed:\n" + "\n".join(tail))
        stamp_file.write_text(stamp)
    lines = launch.read_text().splitlines()
    return lines[0], lines[1:]


def run_jvm(classpath, jvm_opts, args, work, deadline):
    """Run the harness JVM; stop it (and wait) if it outlives `deadline`."""
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp, local = work / "tmp", work / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    cmd = [str(java), "-Xmx2g", f"-Djava.io.tmpdir={tmp}", *jvm_opts,
           "-cp", classpath, "graftbench.Main", *args]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0:
        tail = (work / "jvm.log").read_text().splitlines()[-30:]
        reason = "timed out" if rc is None else f"exited with {rc}"
        fail(f"harness {reason}:\n" + "\n".join(tail))


def cpu_ticks():
    """(steal, total) CPU ticks of this machine so far, from /proc/stat."""
    fields = [int(v) for v in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return fields[7], sum(fields)


def trace_overhead(build_dir, workload, run_s, traced):
    """Record this run's timed wall time; for a traced run, return its
    excess over the median untraced run of the workload with this build."""
    history, stamp = build_dir / "history.jsonl", (build_dir / "stamp").read_text()
    base = []
    if history.exists():
        for line in history.read_text().splitlines():
            rec = json.loads(line)
            if (rec["stamp"], rec["workload"], rec["trace"]) == (stamp, workload, False):
                base.append(rec["run_s"])
    with open(history, "a") as f:
        f.write(json.dumps({"stamp": stamp, "workload": workload, "trace": traced,
                            "run_s": run_s}) + "\n")
    return (run_s - statistics.median(base) if base else 0.0), len(base)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs, for the smoke tests")
    args = ap.parse_args()
    # any integer is a seed; the JVM and numpy take one in [0, 2^63)
    args.seed %= 2 ** 63
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ROOT / 'src'}")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")

    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classpath, jvm_opts = build(build_dir)
    deadline = time.monotonic() + RUN_LIMIT_S
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    trace_file = build_dir / "traces" / f"{args.workload}-seed{args.seed}.json"
    try:
        t0 = time.time()
        jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--work", str(work), "--result", str(work / "result.json"),
                    "--trace-file", str(trace_file), "--repo", str(ROOT),
                    "--python", sys.executable]
        sf = WORKLOADS[args.workload]["corpus_sf"]
        if sf is not None:
            corpus.write(str(work / "corpus"), args.seed, sf / (10 if args.tiny else 1))
            jvm_args += ["--corpus", str(work / "corpus")]
        steal0, total0 = cpu_ticks()
        run_jvm(classpath, jvm_opts, jvm_args, work, deadline)
        steal1, total1 = cpu_ticks()
        res = json.loads((work / "result.json").read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".bench_work").rmdir()
        except OSError:
            pass

    if any(p.startswith("run aborted") for p in res["problems"]):
        fail("; ".join(res["problems"]))
    measured = res["metrics"]
    # set-up before the JVM (corpus, JVM start) plus set-up inside it
    measured["setup_s"] = (res["main_start_epoch_s"] - t0) + res["setup_s"]
    # CPU time the hypervisor gave to other guests while the run had work:
    # the run's timings stretch with it
    measured["host.steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    if "run_s" in measured:
        overhead, base = trace_overhead(build_dir, args.workload, measured["run_s"],
                                        bool(args.trace))
        measured["trace.overhead_s"] = overhead
        measured["trace.baseline_runs"] = base

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    problems = list(res["problems"])
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in measured and measured[name] is not None:
            metrics[name] = {"value": measured[name], "unit": m["unit"]}
        elif args.trace and not name.startswith(WORKLOADS[args.workload]["layers"]):
            metrics[name] = {"value": 0, "unit": m["unit"]}
        else:
            problems.append(f"metric {name} was not measured")
    for f in res["failures"]:
        print(f"perfbench: failed: {f}", file=sys.stderr)
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({"correct": not problems and res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
