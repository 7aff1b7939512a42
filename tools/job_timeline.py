"""Print one line per Spark job from an event log.

    python tools/job_timeline.py <event-log dir>

For each job: its id, start offset from the application start and
duration (seconds), job group, call site, and ``py`` when any of its
stages ran a ``PythonRDD`` (Python worker tasks fed by a Python RDD, as
``spark.createDataFrame(<list of tuples>)`` builds). A footer counts jobs
and Python-RDD jobs. Enable the log with ``spark.eventLog.enabled=true``
and ``spark.eventLog.dir``; uncompressed logs only. Standard library only.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys


def events(log_dir: str):
    """The JSON events of every log file under an event-log directory
    (rolling ``eventlog_v2_*`` logs included), in order."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*",
                                          "events_*"))
                   or [p for p in glob.glob(os.path.join(log_dir, "*"))
                       if os.path.isfile(p)])
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def jobs(log_dir: str) -> list[dict]:
    """One row per job, in id order: id, start offset and duration in
    seconds, group, call site, python flag."""
    app_start, rows = None, {}
    for ev in events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app_start = ev["Timestamp"] / 1000
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            stages = ev.get("Stage Infos") or []
            # the result stage (highest id) names the action's call site
            last = max(stages, key=lambda s: s["Stage ID"], default={})
            rows[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "start": ev["Submission Time"] / 1000,
                "end": None,
                "group": props.get("spark.jobGroup.id") or "",
                "call_site": (props.get("callSite.short")
                              or last.get("Stage Name", "")),
                "python": any(r.get("Name") == "PythonRDD"
                              for s in stages
                              for r in s.get("RDD Info") or []),
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in rows:
            rows[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
    t0 = app_start if app_start is not None else min(
        (r["start"] for r in rows.values()), default=0.0)
    out = []
    for r in sorted(rows.values(), key=lambda r: r["id"]):
        out.append(dict(r, start=r["start"] - t0,
                        duration=(r["end"] - r["start"]
                                  if r["end"] is not None else None)))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log_dir", help="event-log directory")
    rows = jobs(ap.parse_args(argv).log_dir)
    print(f"{'job':>5} {'start_s':>8} {'dur_s':>7}  {'py':2}  "
          f"{'group':24} call site")
    for r in rows:
        dur = "-" if r["duration"] is None else f"{r['duration']:.3f}"
        print(f"{r['id']:>5} {r['start']:8.3f} {dur:>7}  "
              f"{'py' if r['python'] else '':2}  {r['group'][:24]:24} "
              f"{r['call_site']}")
    print(f"{len(rows)} jobs, {sum(r['python'] for r in rows)} with a "
          "PythonRDD stage")
    return 0


if __name__ == "__main__":
    sys.exit(main())
