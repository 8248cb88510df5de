#!/usr/bin/env python3
"""Candle-lake benchmark runner (see perfbench/README.md).

One measured run, in a fresh JVM and a fresh lake directory:

    python3 perfbench/run.py --workload backtest_read --seed 1 --seconds 10 --trace 0

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones. Every workload, both kinds of run, the tracing overhead and
the exact-repeat check of the counters:

    python3 perfbench/run.py --all [--seed N] [--seconds S]

Records (seed, nproc, git HEAD, Spark settings, samples) and span files go
to .perfbench/runs/ at the repository root.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["backtest_read", "ingest_daily"]
TUNING_SEED = 1
# Hold-out seed, reserved for confirming a claimed change and never used
# while tuning one: run.py --all --seed 7919.
HOLDOUT_SEED = 7919
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# Counters that must repeat exactly between two traced runs at one seed.
REPEAT_COUNTERS = ("lake.upsert.jobs", "lake.refresh.jobs", "lake.read.jobs",
                   "lake.upsert.files_written", "lake.read.fs_list_ops", "ops.fill.rows")
# Job counts that vary between runs at one seed: AQE replans a query from
# whichever of its concurrent stages finished first (OrLevels' self-joins
# most of all). Drift is reported, not failed.
VARYING_COUNTERS = ("ops.orlevels.jobs", "spark.jobs")


def git_head():
    try:
        top = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        lines = top.stdout.split()
        if top.returncode == 0 and os.path.realpath(lines[0]) == os.path.realpath(build.ROOT):
            return lines[1]
    except (OSError, subprocess.SubprocessError, IndexError):
        pass
    return None


def run_once(workload, seed, seconds, trace):
    """Runs one JVM; returns its full result record, or raises RuntimeError."""
    classes, jars, fingerprint = build.build()
    runs = os.path.join(build.OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{workload}-s{seed}-t{int(trace)}"
    tmp = tempfile.mkdtemp(prefix="run-", dir=build.OUT)
    log_path = os.path.join(runs, tag + ".log")
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--tmp", tmp]
    if trace:
        cmd += ["--spans-out", os.path.join(runs, tag + ".spans.jsonl")]
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    cwd=tmp, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                raise RuntimeError(f"{tag}: no result within {JVM_TIMEOUT_S} s (log: {log_path})")
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if proc.returncode != 0 or not lines:
            with open(log_path) as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"{tag}: JVM exited {proc.returncode} without a result\n{tail}")
        rec = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    rec.update({"git_head": git_head(), "source_sha256": fingerprint, "seconds": seconds,
                "recorded_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())})
    with open(os.path.join(runs, tag + ".json"), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    return rec


def result_line(rec):
    return json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")})


def show(rec, out=sys.stdout):
    ratio = rec["failed"] / rec["attempted"]
    print(f"# {rec['workload']} seed={rec['seed']} trace={int(rec['trace'])} nproc={rec['nproc']} "
          f"head={rec['git_head']} ops={len(rec['op_samples_s'])} "
          f"correct={rec['correct']} failed_ratio={ratio:.4f} ({rec['failed']}/{rec['attempted']})", file=out)
    print(f"  peak_rss_mb {rec['peak_rss_mb']:.0f} MB (recorded, not gated)", file=out)
    for name, m in sorted(rec["metrics"].items()):
        print(f"  {name:34s} {m['value']!s:>24} {m['unit']}", file=out)
    for p in rec["problems"]:
        print(f"  ! {p}", file=out)


def run_all(seed, seconds):
    """Every workload: timed run, traced run, overhead, exact-repeat check."""
    ok = True
    summary = {}
    for w in WORKLOADS:
        timed = run_once(w, seed, seconds, False)
        traced = run_once(w, seed, seconds, True)
        again = run_once(w, seed, seconds, True)
        show(timed)
        show(traced)
        t, u = traced["metrics"]["trace.op_p50_s"]["value"], timed["metrics"]["op_p50_s"]["value"]
        print(f"  tracing overhead: traced op_p50_s {t:.4f} - untraced op_p50_s {u:.4f} = {t - u:+.4f} s")
        drift = [n for n in REPEAT_COUNTERS + VARYING_COUNTERS
                 if traced["metrics"][n]["value"] != again["metrics"][n]["value"]]
        for n in drift:
            kind = "varies (AQE)" if n in VARYING_COUNTERS else "DRIFT"
            print(f"  {kind} {n}: {traced['metrics'][n]['value']} vs {again['metrics'][n]['value']}")
        drift = [n for n in drift if n in REPEAT_COUNTERS]
        if not drift:
            print(f"  exact-repeat counters identical across two traced runs: {', '.join(REPEAT_COUNTERS)}")
        ok = ok and timed["correct"] and traced["correct"] and again["correct"] and not drift
        summary[w] = {"failed_ratio": timed["failed"] / timed["attempted"], "drift": drift,
                      "metrics": {k: v["value"] for k, v in timed["metrics"].items()}}
    print(json.dumps({"seed": seed, "ok": ok, "workloads": summary}))
    return ok


def main():
    # a SIGTERM unwinds through run_once's cleanup: the JVM's process group
    # is killed and its scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=TUNING_SEED)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="run every workload (see above)")
    a = ap.parse_args()
    try:
        if a.all:
            sys.exit(0 if run_all(a.seed, a.seconds) else 1)
        if not a.workload:
            ap.error("--workload or --all is required")
        rec = run_once(a.workload, a.seed, a.seconds, bool(a.trace))
    except (build.BuildError, RuntimeError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
    show(rec, out=sys.stderr)
    print(result_line(rec))


if __name__ == "__main__":
    main()
