"""Benchmark entry point for the KG engine on local[4].

    python3 perfbench/run.py --workload kg_narrow --seed 1 --seconds 30 \
        --trace 0

Run from the repository root. Generates the workload's inputs for the
seed (once per seed, untimed) and starts a worker process (``work.py``)
that builds the graph with a fresh JVM and a fresh Spark session, then,
in untraced runs, repeats a crash drill on that graph in the same
session; untraced runs then start more fresh processes that only set up
a session. It samples the workers' process sessions from ``/proc`` for
peak memory, and prints one JSON object as the last line of standard
output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the run also writes a Spark event
log, runs the contract queries and an append, and the metrics are the
per-layer metrics. The line before the result is a JSON record of the
run: input properties, every setup and resume sample, the host-weather
probe (a single-core hashing rate before and after the run), the
end-to-end figures, peak memory, the error rate and the failed checks.
Exits non-zero without a result when the run cannot be made, for
example outside a checkout of the repository.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

WORKLOADS = ("kg_narrow", "kg_wide")
#: workers still running this long after the start are stopped; the whole
#: run must end within 180 s
RUN_TIMEOUT_S = 170
MEM_SAMPLE_S = 1.0
#: fresh processes per untraced run that only start a session, for more
#: setup_s samples beside the main process's
SETUP_PROCESSES = 1


def cpu_probe() -> float:
    """Host weather: a fixed single-core hashing loop, in kH/s. Recorded
    beside each run so later comparisons can tell host noise from code."""
    import hashlib

    h, n = b"x" * 64, 200_000
    t0 = time.perf_counter()
    for _ in range(n):
        h = hashlib.sha256(h).digest()
    return n / (time.perf_counter() - t0) / 1000


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt this process's orphaned descendants. A JVM whose Python
    parent was killed, and the pyspark daemon with its forked workers,
    then become children of this process, which reaps them; otherwise they
    would linger, as zombies or still running, after it exits."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def session_pids(sid: int) -> list[int]:
    """Every process of session ``sid``, zombies included. The worker
    leads its own session; the pyspark daemon moves itself and its
    workers to a process group of their own, but stays in the session."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            if int(stat[stat.rindex(")") + 2:].split()[3]) == sid:
                pids.append(int(entry))     # field 6: session
        except (OSError, ValueError, IndexError):
            continue                        # the process just exited
    return pids


def session_pss_bytes(sid: int) -> int:
    """Summed proportional set size of session ``sid``: the worker's
    Python process, its JVM, and the JVM's Python workers. PSS divides each
    shared page among the processes that map it, so the forked Python
    workers' shared pages count once."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            continue
    return total


def reap_orphans() -> None:
    """Reap every adopted descendant that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_session(proc: subprocess.Popen) -> None:
    """Kill every process of the worker's session and return only when
    none is left, not even a zombie."""
    while True:
        pids = session_pids(proc.pid)
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.wait()                         # before reaping any other child
        reap_orphans()
        if not pids:
            return
        time.sleep(0.05)


def run_worker(cmd: list[str], env: dict,
               deadline: float) -> tuple[int, float]:
    """Run the worker in a session of its own; return (exit code, peak
    summed PSS in GB). Every process of the session is stopped before
    returning."""
    proc = subprocess.Popen(cmd, env=env, start_new_session=True,
                            stdout=sys.stderr)
    peak = 0
    try:
        while time.monotonic() < deadline:
            peak = max(peak, session_pss_bytes(proc.pid))
            try:
                proc.wait(timeout=MEM_SAMPLE_S)
                break
            except subprocess.TimeoutExpired:
                pass
        else:
            print("worker timed out", file=sys.stderr)
    finally:
        stop_session(proc)
    return proc.returncode, peak / (1 << 30)


def _exit_on_signal(signum, _frame):
    sys.exit(128 + signum)      # unwinds through run_worker's cleanup


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    become_subreaper()
    deadline = time.monotonic() + RUN_TIMEOUT_S

    root = Path.cwd()
    if not (root / "master_project_spark" / "pipeline.py").is_file():
        print("run from the root of a repository checkout: "
              "master_project_spark/ not found", file=sys.stderr)
        return 2
    work = root / ".perfbench_work"
    # JVMs stopped by a signal leave their temp and block-manager dirs
    for leftover in ("tmp", "spark_local"):
        shutil.rmtree(work / leftover, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    inputs, props = gen.ensure_inputs(args.workload, args.seed, work)

    result_path = work / "result.json"
    result_path.unlink(missing_ok=True)
    # temp files stay inside the checkout, the JVMs' too (no
    # /tmp/hsperfdata_*)
    env = dict(os.environ,
               PYTHONPATH=str(root), TMPDIR=str(work / "tmp"),
               JAVA_TOOL_OPTIONS=(f"-Djava.io.tmpdir={work / 'tmp'} "
                                  "-XX:-UsePerfData"),
               SPARK_GRAFT_LOCAL_DIR=str(work / "spark_local"),
               PYTHONHASHSEED="0")
    env.pop("SPARK_GRAFT_MASTER", None)
    weather_before = cpu_probe()
    worker = [sys.executable, str(HERE / "work.py"),
              "--workload", args.workload, "--seed", str(args.seed),
              "--trace", str(args.trace),
              "--inputs", str(inputs), "--work", str(work),
              "--result", str(result_path), "--seconds", str(args.seconds)]
    code, peak_gb = run_worker(worker, env, deadline)
    if code != 0 or not result_path.exists():
        print(f"worker failed with exit code {code}", file=sys.stderr)
        return 1
    res = json.loads(result_path.read_text())
    # untraced runs: more set-up samples, each in a fresh process;
    # setup_s and resume_s are medians over the run's samples
    setups, resumes = [res["metrics"]["setup_s"]], res["resume_samples_s"]
    for _ in range(0 if args.trace else SETUP_PROCESSES):
        result_path.unlink()
        code, setup_gb = run_worker(worker + ["--setup-only"], env, deadline)
        peak_gb = max(peak_gb, setup_gb)
        if code != 0 or not result_path.exists():
            print(f"set-up process failed with exit code {code}",
                  file=sys.stderr)
            return 1
        setups.append(json.loads(result_path.read_text())["setup_s"])
    res["metrics"]["setup_s"] = statistics.median(setups)
    if resumes:
        res["metrics"]["resume_s"] = statistics.median(resumes)
    weather_after = cpu_probe()

    if args.trace:
        layers = dict(res["layers"], **{
            "host.peak_pss_gb": peak_gb,
            "host.cpu_probe_khs": (weather_before + weather_after) / 2})
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]}
                   for k, v in res["metrics"].items()}
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "input": props,
              "setup_samples_s": [round(v, 4) for v in setups],
              "resume_samples_s": [round(v, 4) for v in resumes],
              "weather_khs": [round(weather_before, 1),
                              round(weather_after, 1)],
              "end_to_end": {k: round(v, 4)
                             for k, v in res["metrics"].items()},
              "peak_pss_gb": round(peak_gb, 3),
              "error_rate": res["failed"] / res["attempted"],
              "failures": res["failures"]}
    if args.trace:
        record["coverage"] = res["coverage"]
        record["span_self_s"] = res["span_self_s"]
        record["append"] = res["append"]
    print(json.dumps(record))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


UNITS = {"setup_s": "s", "pipeline_s": "s", "triples_per_s": "triples/s",
         "resume_s": "s"}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_gb", "GB"),
                         ("_mb_per_krow", "MB/krow"), ("_khs", "kH/s"),
                         ("skew", "ratio"), ("coverage_min", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
