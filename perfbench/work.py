"""The processes of one benchmark run, started by ``run.py``; each writes
its result as JSON.

- the main process starts a session and builds the graph; then, in
  untraced runs, it repeats a crash drill (the final wave's manifests are
  deleted and the pipeline resumes) and, in traced runs, runs the contract
  queries and appends a delta. Every output is checked;
- a set-up process (``--setup-only``) only starts a session, for another
  sample of the set-up time.

Usage: python3 perfbench/work.py --workload W --seed N --trace 0|1
       --inputs DIR --work DIR --result FILE [--seconds S] [--setup-only]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import re
import shutil
import sys
import time
import traceback
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import layers as tr  # noqa: E402

CORES = 4
#: the 13 headline contract queries (bench.HEADLINE_QUERIES)
QUERY_NAMES = [
    "pricing_summary", "revenue_by_nation", "top_orders_per_cust",
    "running_total_per_cust", "sessionize_users", "cosine_topk",
    "minhash_band_groups", "bow_dedup_groups", "pattern_triples",
    "token_stats", "fixpoint_entities", "semantic_search_documents",
    "verified_triples",
]
#: conversations whose triples and mentions are checked against the oracle
ORACLE_SAMPLE = 60
#: crash drills per untraced run, at least; more while the run has
#: measured less than --seconds
MIN_RESUMES = 5

TRIPLE_COLS = ["conv_id", "turn_idx", "subj", "pred", "obj", "mtype",
               "confidence"]
MENTION_COLS = ["conv_id", "turn_idx", "mention_id", "surface", "span_start",
                "span_end", "mtype"]
#: the columns of each output table that the checks compare
#: (avg_confidence merges with rounding drift by design)
COMPARE = {
    "triples": TRIPLE_COLS,
    "chunks": ["conv_id", "chunk_idx", "chunk_text"],
    "nodes": ["entity_id", "canonical", "n_mentions"],
    "edges": ["src", "dst", "pred", "weight"],
}


class Checks:
    """Counts operations and the ones that failed or failed their check."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def op(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{name}: {detail}" if detail else name)


def read_rows(out: str, table: str, cols: list[str]) -> list[tuple]:
    """Rows of a committed table, read with pyarrow rather than Spark."""
    t = pq.read_table(f"{out}/{table}", columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def digest(out: str, table: str, cols: list[str]) -> str:
    """Order-independent content digest of ``cols`` of a committed table."""
    rows = sorted(map(repr, read_rows(out, table, cols)))
    return f"{len(rows)}:" + hashlib.sha256(
        "\n".join(rows).encode()).hexdigest()[:16]


def oracle_check(out: str, rows: list[dict], seed: int,
                 checks: Checks) -> None:
    """Triples and mentions of a seeded conversation sample equal the
    single-process oracle exactly (precision and recall 1.0)."""
    from master_project_spark import oracle

    convs = sorted({r["conv_id"] for r in rows})
    sample = set(random.Random(seed).sample(convs,
                                            min(ORACLE_SAMPLE, len(convs))))
    mine = [r for r in rows if r["conv_id"] in sample]
    for table, cols, gold in (
            ("triples", TRIPLE_COLS, oracle.oracle_triples(mine)),
            ("mentions", MENTION_COLS, oracle.oracle_mentions(mine))):
        got = {r for r in read_rows(out, table, cols) if r[0] in sample}
        want = {tuple(g[c] for c in cols) for g in gold}
        checks.op(f"oracle_{table}", got == want and bool(want),
                  f"{len(got & want)} shared of {len(got)} got, "
                  f"{len(want)} expected")


def repeat_check(out: str, store: Path, checks: Checks) -> None:
    """Per-table digests agree with the first run of the same seed."""
    tables = {"triples": TRIPLE_COLS, "mentions": MENTION_COLS,
              "chunks": COMPARE["chunks"], "nodes": COMPARE["nodes"],
              "edges": COMPARE["edges"],
              "entity_map": ["surface", "skey", "entity_id"]}
    now = {t: digest(out, t, c) for t, c in tables.items()}
    if store.exists():
        before = json.loads(store.read_text())
        bad = [t for t in tables if before.get(t) != now[t]]
        checks.op("repeat_digests", not bad, f"differ: {bad}")
    else:
        tmp = store.with_suffix(".tmp")
        tmp.write_text(json.dumps(now))
        tmp.replace(store)


def expected_graph(out: str) -> dict[str, set]:
    """nodes and edges recomputed in Python from the committed triples,
    mentions and entity_map: what a build over these tables must give."""
    from master_project_spark.core import SELF_SUBJECT

    em = dict(read_rows(out, "entity_map", ["surface", "entity_id"]))
    nodes: dict[str, list] = {}
    for (surface,) in read_rows(out, "mentions", ["surface"]):
        if surface in em:
            n = nodes.setdefault(em[surface], [surface, 0])
            n[0], n[1] = min(n[0], surface), n[1] + 1
    edges: dict[tuple, int] = {}
    for conv, subj, pred, obj in read_rows(
            out, "triples", ["conv_id", "subj", "pred", "obj"]):
        src = (f"conv:{conv}" if subj == SELF_SUBJECT
               else em.get(subj, subj))
        key = (src, em.get(obj, obj), pred)
        edges[key] = edges.get(key, 0) + 1
    return {"nodes": {(e, c, n) for e, (c, n) in nodes.items()},
            "edges": {(*k, w) for k, w in edges.items()}}


def graph_check(out: str, label: str, checks: Checks) -> None:
    want = expected_graph(out)
    for t in ("nodes", "edges"):
        got = set(read_rows(out, t, COMPARE[t]))
        checks.op(f"{label}_graph:{t}", got == want[t] and bool(got),
                  f"{len(got ^ want[t])} rows differ")


def append_check(out: str, delta_rows: list[dict], em_before: str,
                 checks: Checks) -> None:
    """The appended graph equals a fresh build over the final input. The
    delta names no new entity surface, so a fresh build would cluster
    exactly the surfaces the committed entity_map already holds: check
    that, check the delta's per-conversation rows against the oracle, and
    check nodes and edges against the aggregation of all committed rows."""
    from master_project_spark import oracle

    checks.op("append:entity_map",
              digest(out, "entity_map", ["surface", "entity_id"]) == em_before,
              "the delta changed the entity map")
    convs = {r["conv_id"] for r in delta_rows}
    for table, cols, gold in (
            ("triples", TRIPLE_COLS, oracle.oracle_triples(delta_rows)),
            ("mentions", MENTION_COLS, oracle.oracle_mentions(delta_rows)),
            ("chunks", COMPARE["chunks"], oracle.oracle_chunks(delta_rows))):
        got = {r for r in read_rows(out, table, cols) if r[0] in convs}
        want = {tuple(g[c] for c in cols) for g in gold}
        checks.op(f"append:{table}", got == want and bool(want),
                  f"{len(got ^ want)} rows differ")
    graph_check(out, "append", checks)


def _decimals(values) -> int:
    """Most digits after the decimal point among ``values``' reprs."""
    return max((len(r.split(".")[1]) for r in map(repr, values)
                if "." in r and "e" not in r), default=0)


def frames_match(a, b) -> bool:
    """Same rows, in any order. Float columns may differ by one unit in
    their last rounded decimal (the queries round sums that Spark and
    DuckDB accumulate in different orders) or by 1e-9 relative."""
    import numpy as np
    import pandas as pd

    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)
    floats = [c for c in cols if pd.api.types.is_float_dtype(a[c])
              or pd.api.types.is_float_dtype(b[c])]
    exact = [c for c in cols if c not in floats]

    def canon(df):
        df = df[exact + floats].copy()
        for c in exact:
            df[c] = df[c].map(repr)
        return df.sort_values(exact + floats).reset_index(drop=True)

    a, b = canon(a), canon(b)
    if not a[exact].equals(b[exact]):
        return False
    for c in floats:
        x, y = a[c].to_numpy(float), b[c].to_numpy(float)
        unit = 10.0 ** -_decimals(np.concatenate([x, y]).tolist())
        tol = np.maximum(unit * 1.000001, 1e-9 * np.abs(y))
        both_nan = np.isnan(x) & np.isnan(y)
        if not np.all(both_nan | (np.abs(x - y) <= tol)):
            return False
    return True


def query_check(results: dict, tables_dir: str, checks: Checks) -> None:
    """Each query's rows equal its DuckDB twin's."""
    import duckdb

    from master_project_spark.entry_queries import ORACLE_SQL, TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{tables_dir}/{t}.parquet')")
        for name, sdf in results.items():
            # materialized CTEs: DuckDB otherwise inlines every reference,
            # and the fixpoint twin's chained rounds then take ~12 s
            sql = re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (",
                         ORACLE_SQL[name])
            ddf = con.execute(sql).df()
            checks.op(f"query:{name}", len(sdf) > 0 and frames_match(sdf, ddf),
                      f"{len(sdf)} rows vs {len(ddf)}")
    finally:
        con.close()


def snapshot_token(args) -> str:
    """Stands in for the source table's snapshot id: one per input."""
    return f"{args.workload}-seed{args.seed}"


def run(args) -> dict:
    from master_project_spark.entry_queries import QUERIES
    from master_project_spark.incremental import append_new_conversations
    from master_project_spark.pipeline import run_pipeline
    from master_project_spark.session import get_spark

    inputs, work = Path(args.inputs), Path(args.work)
    run_dir = work / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    spans = tr.Spans(f"{args.workload}-{args.seed}")

    def dur(name):
        span = spans.get(name)
        return span["end"] - span["start"]

    checks = Checks()
    conf = {}
    if args.trace:
        conf = tr.event_log_conf(str(run_dir / "eventlog"))
        (run_dir / "eventlog").mkdir()

    with spans.span("setup"):
        spark = get_spark(CORES, app_name=f"perfbench_{args.workload}",
                          extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        tagger = tr.Tagger(spark) if args.trace else None
        base_dir = str(inputs / "base")
        delta_dir = str(inputs / "delta")
        out = str(run_dir / "graph")

        # 1. build the graph from scratch: the timed, cold pipeline. The
        # input read is part of it; the snapshot token stands in for the
        # source table's snapshot id, so the crash drill can resume.
        with spans.span("pipeline"):
            alias = spark.read.parquet(str(inputs / "alias.parquet"))
            res = run_pipeline(spark, spark.read.parquet(base_dir), out,
                               alias, resume=False,
                               snapshot_token=snapshot_token(args))
            n_triples = res.tables["triples"].count()
        checks.op("pipeline", n_triples > 0, "no triples")
        base_rows = pq.read_table(base_dir, columns=["conv_id", "turn_idx",
                                                     "text"]).to_pylist()
        oracle_check(out, base_rows, args.seed, checks)
        graph_check(out, "pipeline", checks)
        entity_map = read_rows(out, "entity_map", ["surface", "entity_id"])
        repeat_check(out, inputs / "digests.json", checks)
        run_id = res.run_id

        # untraced runs: crash drills on the committed graph, in this
        # session; MIN_RESUMES, and more until the run has measured
        # --seconds
        resumes: list[float] = []
        measured = dur("setup") + dur("pipeline")
        while not args.trace and (len(resumes) < MIN_RESUMES
                                  or measured < args.seconds):
            resumes.append(resume_drill(spark, args, Path(out), checks))
            measured += resumes[-1]

        # 2. traced runs only: the contract queries, collected into this
        # process (results are small) and checked from that one execution
        if args.trace:
            tables_dir = str(inputs / "tables")
            results: dict = {}
            with spans.span("queries"):
                for name in QUERY_NAMES:
                    with spans.span(f"query:{name}"), \
                            tr.job_group(sc, f"query:{name}"):
                        results[name] = QUERIES[name](spark,
                                                      tables_dir).toPandas()
            query_check(results, tables_dir, checks)

        # 3. traced runs only: append the delta to a copy of the graph
        if args.trace:
            grown = str(run_dir / "appended")
            shutil.copytree(out, grown)
            em_before = digest(grown, "entity_map", ["surface", "entity_id"])
            with spans.span("append"), tr.job_group(sc, "incremental"):
                appended = append_new_conversations(
                    spark, spark.read.parquet(base_dir, delta_dir), grown,
                    alias)
            checks.op("append", appended["new_rows"] > 0
                      and not appended["graph_rebuilt"], json.dumps(appended))
            delta_rows = pq.read_table(
                delta_dir, columns=["conv_id", "turn_idx", "text"]).to_pylist()
            append_check(grown, delta_rows, em_before, checks)

        if args.trace:
            metrics_rows = [r.asDict() for r in spark.read.parquet(
                f"{out}/run_metrics").filter(f"run_id = '{run_id}'")
                .collect()]
    finally:
        if args.trace:
            spark.stop()    # flushes the event log

    pipeline_s = dur("pipeline")
    result = {
        "metrics": {
            "setup_s": dur("setup"),
            "pipeline_s": pipeline_s,
            "triples_per_s": n_triples / pipeline_s,
        },
        "attempted": checks.attempted,
        "failed": len(checks.failures),
        "failures": checks.failures,
        "triples": n_triples,
        "resume_samples_s": resumes,
    }
    spans.write(str(run_dir / "spans.jsonl"))
    if args.trace:
        layers, report = tr.reduce_run(
            str(run_dir / "eventlog"), spans, tagger, metrics_rows,
            entity_map, appended)
        layers["trace.pipeline_s"] = pipeline_s
        layers["incremental.append_s"] = dur("append")
        layers["queries.total_s"] = dur("queries")
        result["append"] = appended
        result["layers"] = layers
        result["coverage"] = report
        result["span_self_s"] = {k: round(v, 4)
                                 for k, v in spans.self_times().items()}
        result["attempted"] += 1
        if not report["sum_ok"]:
            result["failed"] += 1
            result["failures"].append("trace: tagged + untagged != total")
    return result


def resume_drill(spark, args, out: Path, checks: Checks) -> float:
    """A crash in the final wave: delete the ``nodes`` and ``edges``
    manifests of the committed graph and time ``run_pipeline(resume=True)``,
    which must rebuild exactly those two tables and skip wave 1."""
    from master_project_spark.pipeline import run_pipeline

    inputs = Path(args.inputs)
    before = {t: digest(str(out), t, COMPARE[t]) for t in ("nodes", "edges")}
    for t in ("nodes", "edges"):
        (out / f"{t}._manifest.json").unlink()
    t0 = time.perf_counter()
    resumed = run_pipeline(
        spark, spark.read.parquet(str(inputs / "base")), str(out),
        spark.read.parquet(str(inputs / "alias.parquet")), resume=True,
        snapshot_token=snapshot_token(args))
    elapsed = time.perf_counter() - t0
    skipped = {m["stage"] for m in resumed.metrics if m["skipped"]}
    for t in ("nodes", "edges"):
        checks.op(f"resume:{t}", digest(str(out), t, COMPARE[t]) == before[t]
                  and t not in skipped)
    checks.op("resume:skips", "extracted" in skipped, "recomputed wave 1")
    return elapsed


def setup_only(args) -> dict:
    """Another sample of the set-up time, in a fresh process."""
    from master_project_spark.session import get_spark

    t0 = time.perf_counter()
    get_spark(CORES, app_name=f"perfbench_{args.workload}_setup")
    return {"setup_s": time.perf_counter() - t0}


def main() -> int:
    ap = argparse.ArgumentParser()
    for a in ("--workload", "--inputs", "--work", "--result"):
        ap.add_argument(a, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--setup-only", action="store_true",
                    help="only start a session and time it")
    args = ap.parse_args()
    try:
        result = setup_only(args) if args.setup_only else run(args)
    except Exception:
        traceback.print_exc()
        return 1
    tmp = args.result + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, args.result)
    if not args.trace:
        os._exit(0)     # the caller stops the session's JVM
    return 0


if __name__ == "__main__":
    sys.exit(main())
