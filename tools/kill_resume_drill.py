"""Real-SIGKILL crash/resume drill (the unit tests simulate kills by
staging files; this drives the ACTUAL failure mode end to end).

Protocol, run twice:

- pipeline: launch `run_pipeline` as a subprocess over a deterministic
  input, SIGKILL -9 it mid-flight at several offsets, rerun with
  resume=True after each kill, finish with one uninterrupted run, and diff
  every output table against an uninterrupted clean run;
- append: build the first half of the conversations (the synthetic input
  for N conversations is a prefix of the one for 2N), copy that output
  dir twice, SIGKILL `run_pipeline --incremental` over all of them at the
  same offsets in one copy, finish with one uninterrupted append, and diff
  every table against one uninterrupted append onto the other copy (not a
  fresh build: the append's exact-match graph merge defers LSH pairs).

Exercises the commit contract: manifest invalidated before overwrite,
committed == readable, partial stages recomputed, the append's ledger
committed last.

Usage: python tools/kill_resume_drill.py [n_convs] [kill_seconds...]
Prints one JSON line.
"""

import json
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = ["extracted", "triples", "mentions", "verified_triples",
          "linked_mentions", "chunks", "corpus", "conv_stats", "nodes",
          "edges", "entity_map", "processed_convs"]


def run(cmd, timeout=None, kill_after=None):
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL)
    if kill_after is None:
        return p.wait(timeout=timeout)
    time.sleep(kill_after)
    if p.poll() is None:
        p.send_signal(signal.SIGKILL)
        p.wait()
        return "killed"
    return p.returncode


def drill(cmd, out_k, out_c, kills) -> dict:
    """Kill ``cmd`` into ``out_k`` at each offset, let one run finish, then
    run it once uninterrupted into ``out_c``."""
    results = []
    for ks in kills:
        r = run(cmd + ["--out", str(out_k)], kill_after=ks)
        results.append({"kill_after_s": ks, "outcome": str(r)})
    rc = run(cmd + ["--out", str(out_k)], timeout=600)
    run(cmd + ["--out", str(out_c)], timeout=600)
    return {"kills": results, "final_rc": rc}


def diff(spark, a_dir, b_dir) -> dict:
    """Rows in one output dir's table but not the other's, per table."""
    diffs = {}
    for t in TABLES:
        a = spark.read.parquet(str(a_dir / t))
        b = spark.read.parquet(str(b_dir / t))
        diffs[t] = a.exceptAll(b).count() + b.exceptAll(a).count()
    return diffs


def main() -> int:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
    kills = [float(x) for x in sys.argv[2:]] or [8.0, 14.0, 20.0]
    base = Path(tempfile.mkdtemp(prefix="kill_drill_", dir="/dev/shm"))
    cmd = [sys.executable, "-m", "master_project_spark.run_pipeline",
           "--cores", "8"]
    full = cmd + ["--n-convs", str(n_convs)]

    try:
        pipe = drill(full, base / "killed", base / "clean", kills)
        run(cmd + ["--n-convs", str(n_convs // 2), "--out",
                   str(base / "half")], timeout=600)
        for d in ("append_killed", "append_clean"):
            shutil.copytree(base / "half", base / d)
        app = drill(full + ["--incremental"], base / "append_killed",
                    base / "append_clean", kills)

        from master_project_spark.session import get_spark
        spark = get_spark(8, app_name="drill_diff")
        spark.sparkContext.setLogLevel("ERROR")
        pipe["table_row_diffs_vs_clean"] = diff(spark, base / "killed",
                                                base / "clean")
        app["table_row_diffs_vs_clean"] = diff(spark, base / "append_killed",
                                               base / "append_clean")
        spark.stop()
        ok = all(v == 0 for r in (pipe, app)
                 for v in r["table_row_diffs_vs_clean"].values())
        print(json.dumps({
            "metric": "kill_resume_drill", "n_convs": n_convs,
            **pipe, "append": app, "all_tables_equal": ok,
        }))
        return 0 if ok else 1
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
