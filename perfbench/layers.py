"""Spans, Spark job tagging and the event-log reducer for traced runs.

A traced run enables Spark's event log and tags jobs from outside the
program: ``Tagger`` wraps the public functions the pipeline calls, so
each job carries the name of the stage or layer that submitted it. After
the run, ``reduce_run`` turns the event log, the benchmark's spans and the
``run_metrics`` table into the per-layer metrics listed in
``BENCHMARK.json``. The reducer uses the standard library only.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

#: committed pipeline stages, in commit order
STAGES = ["extracted", "conv_stats", "chunks", "triples", "mentions",
          "processed_convs", "verified_triples", "linked_mentions",
          "entity_map", "corpus", "nodes", "edges"]
#: stages whose engine-side cost is broken out per stage
ENGINE_STAGES = ["extracted", "chunks", "conv_stats", "verified_triples",
                 "linked_mentions", "entity_map", "nodes", "edges"]
#: stages that run Python workers
PYTHON_STAGES = ["extracted", "chunks", "verified_triples"]
WAVES = {"wave1": ["extracted", "conv_stats", "chunks"],
         "wave2": ["triples", "mentions", "processed_convs",
                   "verified_triples", "linked_mentions", "entity_map",
                   "corpus"],
         "graph": ["nodes", "edges"]}

_GROUP = "spark.jobGroup.id"


class Spans:
    """Spans kept in memory and written out when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.rows.append({"name": name, "start": start, "end": time.time(),
                              "parent": parent, "run_id": self.run_id})

    def get(self, name: str) -> dict:
        return next(r for r in self.rows if r["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Each span's duration minus the time its child spans cover."""
        out = {r["name"]: r["end"] - r["start"] for r in self.rows}
        for r in self.rows:
            if r["parent"] is not None:
                out[r["parent"]] -= r["end"] - r["start"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")


@contextlib.contextmanager
def job_group(sc, group: str):
    """Tag the jobs this thread submits; an outer tag wins, so nested
    wrapped calls stay attributed to the outermost layer."""
    prev = sc.getLocalProperty(_GROUP)
    if prev:
        yield
        return
    sc.setLocalProperty(_GROUP, group)
    try:
        yield
    finally:
        sc.setLocalProperty(_GROUP, None)


class Tagger:
    """Wraps the pipeline's commit and canonicalization calls so their jobs
    carry a job group (thread-local, so the concurrent stage threads of one
    wave are told apart), and times each canonicalization call."""

    def __init__(self, spark):
        from master_project_spark import pipeline, tableio

        sc = spark.sparkContext
        self.canon_s: list[float] = []

        def commit(orig):
            def wrapped(io, df, name, *args, **kwargs):
                with job_group(sc, f"stage:{name}"):
                    return orig(io, df, name, *args, **kwargs)
            return wrapped

        def canonicalize(orig):
            def wrapped(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    with job_group(sc, "stage:entity_map"):
                        return orig(*args, **kwargs)
                finally:
                    self.canon_s.append(time.perf_counter() - t0)
            return wrapped

        tableio.TableIO.commit = commit(tableio.TableIO.commit)
        # patched where pipeline looks it up
        pipeline.build_entity_map = canonicalize(pipeline.build_entity_map)


def event_log_conf(log_dir: str) -> dict:
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false"}


# ------------------------------------------------------------ reducer

def _events(log_dir: str):
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
        or [p for p in glob.glob(os.path.join(log_dir, "*"))
            if os.path.isfile(p)])
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _acc(task_info: dict) -> dict:
    out: dict[str, float] = {}
    for a in task_info.get("Accumulables", []):
        name, upd = a.get("Name"), a.get("Update")
        if name is None or upd is None:
            continue
        try:
            out[name] = out.get(name, 0.0) + float(upd)
        except (TypeError, ValueError):
            continue
    return out


def read_log(log_dir: str) -> tuple[list[dict], list[dict], float]:
    """(tasks, jobs, application start): one row per finished task with
    its stage's job group, and one row per job with its wall span."""
    stage_props: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    app_start = 0.0
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app_start = ev["Timestamp"] / 1000
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get(_GROUP) or "",
                "description": props.get("spark.job.description") or "",
                "start": ev["Submission Time"] / 1000, "end": None}
            for sid in ev.get("Stage IDs", []):
                stage_props.setdefault(sid, props)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties")
            if props:
                stage_props[ev["Stage Info"]["Stage ID"]] = props
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            props = stage_props.get(ev["Stage ID"], {})
            acc = _acc(info)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            tasks.append({
                "group": props.get(_GROUP) or "",
                "launch": info["Launch Time"] / 1000,
                "task_s": m.get("Executor Run Time", 0) / 1000,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000,
                "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000,
                "shuffle_write_s": sw.get("Shuffle Write Time", 0) / 1e9,
                "spill_b": m.get("Disk Bytes Spilled", 0),
                "written_b": (m.get("Output Metrics") or {})
                .get("Bytes Written", 0),
                "py_boot_s": (acc.get("time to start Python workers", 0)
                              + acc.get("time to initialize Python workers",
                                        0)) / 1000,
                "py_run_s": acc.get("time to run Python workers", 0) / 1000,
                "arrow_sent_b": acc.get("data sent to Python workers", 0),
                "arrow_returned_b": acc.get(
                    "data returned from Python workers", 0),
                "task_commit_s": acc.get("task commit time", 0) / 1000,
            })
    return tasks, list(jobs.values()), app_start


def _in(t: float, span: dict) -> bool:
    return span["start"] <= t <= span["end"]


def _skew(durations: list[float]) -> float:
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 0.0


def reduce_run(log_dir: str, spans: Spans, tagger: Tagger,
               run_metrics: list[dict], entity_map: list[tuple],
               incremental: dict) -> tuple[dict, dict]:
    """Per-layer metrics (name -> value) and the coverage report.

    ``run_metrics`` are the timed pipeline's rows of the ``run_metrics``
    table, ``entity_map`` its (surface, entity_id) rows, and
    ``incremental`` the counters ``append_new_conversations`` returned."""
    tasks, jobs, app_start = read_log(log_dir)
    out: dict[str, float] = {}
    MB = 1 / (1 << 20)

    def tsum(rows, key):
        return sum(t[key] for t in rows)

    # ---- session: JVM launch and context start, then the rest of
    # get_spark (worker warmup, log filter)
    setup = spans.get("setup")
    out["session.get_spark_s"] = setup["end"] - setup["start"]
    out["session.context_s"] = app_start - setup["start"]
    out["session.after_context_s"] = setup["end"] - app_start
    out["session.warmup_s"] = sum(
        j["end"] - j["start"] for j in jobs
        if j["description"].startswith("session warmup")
        and j["end"] is not None)

    # ---- pipeline: the timed, cold run
    pipe_span = spans.get("pipeline")
    pipe = [t for t in tasks if _in(t["launch"], pipe_span)]
    pipe_jobs = [j for j in jobs if _in(j["start"], pipe_span)]
    by_stage: dict[str, list] = {}
    for t in pipe:
        by_stage.setdefault(t["group"], []).append(t)
    walls = {m["stage"]: m["wall_ms"] / 1000 for m in run_metrics}
    for s in STAGES:
        out[f"stage.{s}.wall_s"] = walls.get(s, 0.0)
    for w, members in WAVES.items():
        out[f"pipeline.{w}_s"] = sum(tsum(by_stage.get(f"stage:{s}", []),
                                          "task_s") for s in members)
    out["pipeline.untagged_task_s"] = tsum(by_stage.get("", []), "task_s")
    for s in PYTHON_STAGES:
        rows = by_stage.get(f"stage:{s}", [])
        out[f"python.{s}.run_s"] = tsum(rows, "py_run_s")
        out[f"python.{s}.boot_s"] = tsum(rows, "py_boot_s")
        out[f"arrow.{s}.sent_mb"] = tsum(rows, "arrow_sent_b") * MB
        out[f"arrow.{s}.returned_mb"] = tsum(rows, "arrow_returned_b") * MB
    for s in ENGINE_STAGES:
        rows = by_stage.get(f"stage:{s}", [])
        out[f"spark.{s}.task_s"] = tsum(rows, "task_s")
        out[f"spark.{s}.cpu_s"] = tsum(rows, "cpu_s")
        out[f"spark.{s}.gc_s"] = tsum(rows, "gc_s")
        out[f"spark.{s}.shuffle_mb"] = tsum(rows, "shuffle_b") * MB
        out[f"spark.{s}.spill_mb"] = tsum(rows, "spill_b") * MB
        out[f"spark.{s}.skew"] = _skew([t["task_s"] for t in rows])
        out[f"spark.{s}.jobs"] = sum(1 for j in pipe_jobs
                                     if j["group"] == f"stage:{s}")

    # ---- tableio: the commits of the timed run
    stage_rows = [t for t in pipe if t["group"].startswith("stage:")]
    out["tableio.files"] = sum(m["n_files"] for m in run_metrics
                               if m["stage"] in STAGES)
    out["tableio.task_commit_s"] = tsum(stage_rows, "task_commit_s")
    out["tableio.written_mb"] = tsum(stage_rows, "written_b") * MB
    commit_s: dict[str, float] = {}
    for j in pipe_jobs:
        if j["group"].startswith("stage:") and j["end"] is not None:
            commit_s[j["group"]] = commit_s.get(j["group"], 0.0) \
                + j["end"] - j["start"]
    out["tableio.commit_s"] = sum(commit_s.values())
    out["tableio.commit_max_s"] = max(commit_s.values(), default=0.0)

    # ---- canonicalize: inside the timed run's entity_map stage
    order = [m for m in run_metrics if m["stage"] == "_order_check"]
    out["canonicalize.build_s"] = tagger.canon_s[0] if tagger.canon_s else 0.0
    out["canonicalize.surfaces"] = len(entity_map)
    out["canonicalize.entities"] = len({e for _, e in entity_map})
    out["canonicalize.jobs"] = out["spark.entity_map.jobs"]
    out["canonicalize.buckets_dropped"] = json.loads(
        order[0]["files_json"])["lsh_buckets_dropped"] if order else 0

    # ---- incremental: the timed append
    app = [t for t in tasks if t["group"] == "incremental"]
    rows_k = incremental["new_rows"] / 1000
    out["incremental.new_rows"] = incremental["new_rows"]
    out["incremental.touched_batches"] = incremental["touched_batches"]
    out["incremental.rebuilds"] = int(incremental["graph_rebuilt"])
    out["incremental.written_mb_per_krow"] = (
        tsum(app, "written_b") * MB / rows_k if rows_k else 0.0)
    out["incremental.task_s"] = tsum(app, "task_s")
    out["incremental.jobs"] = sum(1 for j in jobs
                                  if j["group"] == "incremental")

    # ---- contract queries
    q = [t for t in tasks if t["group"].startswith("query:")]
    for sp in spans.rows:
        if sp["name"].startswith("query:"):
            out[f"query.{sp['name'][6:]}_s"] = sp["end"] - sp["start"]
    out["spark.queries.task_s"] = tsum(q, "task_s")
    out["spark.queries.shuffle_mb"] = tsum(q, "shuffle_b") * MB

    # ---- coverage. Tagged plus untagged task time must equal the log's
    # total. Per stage, the named layers (JVM CPU, GC pauses, Python worker
    # run time, shuffle waits, task commit) are compared with task
    # time; what they leave is time off CPU that the log does not name.
    # Python worker start time is left out: Spark's per-task figure can
    # exceed the task's own run time when workers start concurrently.
    total = tsum(tasks, "task_s")
    tagged = sum(t["task_s"] for t in tasks if t["group"])
    untagged = sum(t["task_s"] for t in tasks if not t["group"])
    cover = {}
    for s in STAGES:
        rows = by_stage.get(f"stage:{s}", [])
        task_s = tsum(rows, "task_s")
        if task_s > 0:
            named = sum(t["cpu_s"] + t["gc_s"] + t["py_run_s"]
                        + t["fetch_wait_s"]
                        + t["shuffle_write_s"] + t["task_commit_s"]
                        for t in rows)
            cover[s] = round(named / task_s, 3)
    report = {"total_task_s": total, "tagged_task_s": tagged,
              "untagged_task_s": untagged,
              "sum_ok": abs(tagged + untagged - total) <= 1e-6 * max(total, 1),
              "stage_coverage": cover,
              "coverage_ok": all(0.9 <= c <= 1.1 for c in cover.values())}
    out["trace.coverage_min"] = min(cover.values(), default=0.0)
    return out, report
