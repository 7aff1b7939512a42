"""End-to-end pipeline correctness (SURVEY.md §5.2 items 2, 4, 5, 6).

The keystone gate: Spark pipeline triples vs the single-process oracle at
exact (conv_id, turn_idx, subj, pred, obj) match, P/R >= 0.95 (BASELINE.json;
target 1.0 since both sides share core.py).
"""

import pytest

from master_project_spark import core
from master_project_spark.datagen import (alias_df, gen_transcripts,
                                          transcripts_df, alias_spark_schema,
                                          transcripts_spark_schema)
from master_project_spark.oracle import (oracle_chunks, oracle_mentions,
                                         oracle_triples, precision_recall)
from master_project_spark.pipeline import run_pipeline

N_CONVS, MAX_TURNS = 60, 25

#: one conversation naming a dictionary alias pair (SQuAD and its long
#: form) and a near-duplicate pair only LSH can merge: "Penn Treebank" and
#: "Penn Treebank V2" have different canonical keys
ALIAS_TEXTS = [
    "We trained on SQuAD using the default hyperparameters everywhere.",
    "Our model was trained on Stanford Question Answering Dataset using "
    "the default hyperparameters everywhere.",
    "Our model was trained on Penn Treebank using the default "
    "hyperparameters everywhere.",
    "Our model was trained on Penn Treebank V2 using the default "
    "hyperparameters everywhere.",
]


@pytest.fixture(scope="module")
def rows():
    from datetime import datetime, timezone

    ts = datetime(2025, 1, 1, tzinfo=timezone.utc)
    return gen_transcripts(N_CONVS, MAX_TURNS, seed=42) + [
        {"conv_id": "conv_aliases", "turn_idx": i, "role": "user",
         "text": text, "tool": None, "ts": ts}
        for i, text in enumerate(ALIAS_TEXTS)]


@pytest.fixture(scope="module")
def result(spark, rows, tmp_path_factory):
    out = tmp_path_factory.mktemp("kg_out")
    tdf = spark.createDataFrame(rows, transcripts_spark_schema())
    return run_pipeline(spark, tdf, str(out), alias_df(spark), resume=False)


def _triple_tuples(df):
    return [(r["conv_id"], r["turn_idx"], r["subj"], r["pred"], r["obj"])
            for r in df.select("conv_id", "turn_idx", "subj", "pred",
                               "obj").collect()]


def test_triples_pr_vs_oracle(result, rows):
    got = _triple_tuples(result.tables["triples"])
    gold = [(t["conv_id"], t["turn_idx"], t["subj"], t["pred"], t["obj"])
            for t in oracle_triples(rows)]
    p, r = precision_recall(got, gold)
    assert p >= 0.95 and r >= 0.95, (p, r)
    # shared core => must actually be exact
    assert sorted(got) == sorted(gold)


def test_mentions_match_oracle(result, rows):
    got = sorted((r["conv_id"], r["turn_idx"], r["surface"], r["mtype"],
                  r["span_start"], r["span_end"])
                 for r in result.tables["mentions"].collect())
    gold = sorted((m["conv_id"], m["turn_idx"], m["surface"], m["mtype"],
                   m["span_start"], m["span_end"])
                  for m in oracle_mentions(rows))
    assert got == gold


def test_chunks_match_oracle(result, rows):
    got = sorted((r["conv_id"], r["chunk_idx"], r["chunk_text"])
                 for r in result.tables["chunks"].collect())
    gold = sorted((c["conv_id"], c["chunk_idx"], c["chunk_text"])
                  for c in oracle_chunks(rows))
    assert got == gold


def test_linking_broadcast_hits(result):
    linked = result.tables["linked_mentions"]
    n_linked = linked.filter("canonical_id is not null").count()
    assert n_linked > 0
    # every known dataset mention must link
    hit = linked.filter("lower(surface) = 'squad'")
    assert hit.count() == hit.filter("canonical_id = 'ent_squad'").count()


def test_canonicalization_merges_aliases(result):
    em = {r["surface"]: r["entity_id"]
          for r in result.tables["entity_map"].collect()}
    # dictionary-linked alias pair lands on one entity
    assert em["SQuAD"] == em["Stanford Question Answering Dataset"] \
        == "ent_squad"
    # a near-duplicate of a linked surface joins its cluster through LSH
    assert em["Penn Treebank V2"] == em["Penn Treebank"] \
        == "ent_penn_treebank"
    # every surface got an entity id
    assert all(v for v in em.values())


def test_graph_tables(result):
    nodes = result.tables["nodes"]
    edges = result.tables["edges"]
    assert nodes.count() > 0 and edges.count() > 0
    assert set(edges.columns) == {"src", "dst", "pred", "weight",
                                  "avg_confidence", "first_ts", "last_ts"}
    # 'self' subjects became conv-scoped nodes
    assert edges.filter("src like 'conv:%'").count() > 0
    # weights aggregate duplicates
    assert edges.selectExpr("max(weight)").collect()[0][0] >= 1


def test_run_metrics_lineage(result):
    m = result.tables["run_metrics"]
    stages = {r["stage"] for r in m.collect()}
    assert {"triples", "mentions", "entity_map", "nodes", "edges"} <= stages
    # per-file lineage recorded
    assert m.filter("stage = 'triples'").collect()[0]["files_json"]
    # ordering invariant held
    oc = m.filter("stage = '_order_check'").collect()[0]
    assert oc["rows_out"] == 0


def test_repartition_invariance(spark, rows, result, tmp_path_factory):
    """SURVEY §5.2 item 4: output invariant under repartition(1) and input
    row-order shuffling."""
    out = tmp_path_factory.mktemp("kg_rep1")
    tdf = (spark.createDataFrame(list(reversed(rows)),
                                 transcripts_spark_schema())
           .repartition(1))
    res1 = run_pipeline(spark, tdf, str(out), alias_df(spark), resume=False,
                        with_chunks=False, extract_partitions=1)
    assert sorted(_triple_tuples(res1.tables["triples"])) == \
        sorted(_triple_tuples(result.tables["triples"]))


def test_resume_skips_committed_stages(spark, rows, tmp_path_factory):
    """SURVEY §5.2 item 5: second run over the same input skips every
    committed stage and yields identical tables."""
    out = str(tmp_path_factory.mktemp("kg_resume"))
    tdf = transcripts_df(spark, 20, 10, seed=7)
    r1 = run_pipeline(spark, tdf, out, alias_df(spark), resume=True,
                      with_chunks=False)
    assert all(not m["skipped"] for m in r1.metrics
               if m["stage"] != "_order_check")
    r2 = run_pipeline(spark, tdf, out, alias_df(spark), resume=True,
                      with_chunks=False)
    skipped = {m["stage"] for m in r2.metrics if m["skipped"]}
    assert {"triples", "mentions", "linked_mentions"} <= skipped
    assert sorted(_triple_tuples(r1.tables["triples"])) == \
        sorted(_triple_tuples(r2.tables["triples"]))


def test_resume_recomputes_on_input_change(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg_changed"))
    r1 = run_pipeline(spark, transcripts_df(spark, 10, 8, seed=1), out,
                      alias_df(spark), resume=True, with_chunks=False)
    r2 = run_pipeline(spark, transcripts_df(spark, 10, 8, seed=2), out,
                      alias_df(spark), resume=True, with_chunks=False)
    assert all(not m["skipped"] for m in r2.metrics
               if m["stage"] != "_order_check")


def test_kill_and_resume_partial_outputs(spark, tmp_path_factory):
    """Simulated kill: only some stages committed (manifest written), the
    next stage's data half-written without manifest -> rerun recomputes the
    uncommitted stage, reuses the committed one, and the final output equals
    an uninterrupted run."""
    import shutil
    from pathlib import Path

    out = Path(str(tmp_path_factory.mktemp("kg_kill")))
    tdf = transcripts_df(spark, 15, 10, seed=3)
    full = run_pipeline(spark, tdf, str(out / "full"), alias_df(spark),
                        resume=True, with_chunks=False)

    # stage a "killed" run: copy triples (committed) but leave mentions as
    # garbage data with NO manifest
    killed = out / "killed"
    killed.mkdir()
    shutil.copytree(out / "full" / "triples", killed / "triples")
    shutil.copy(out / "full" / "triples._manifest.json",
                killed / "triples._manifest.json")
    (killed / "mentions").mkdir()
    (killed / "mentions" / "part-00000.parquet").write_bytes(b"garbage")

    res = run_pipeline(spark, tdf, str(killed), alias_df(spark), resume=True,
                       with_chunks=False)
    by_stage = {m["stage"]: m for m in res.metrics}
    assert by_stage["triples"]["skipped"] is True
    assert by_stage["mentions"]["skipped"] is False
    assert sorted(_triple_tuples(res.tables["triples"])) == \
        sorted(_triple_tuples(full.tables["triples"]))
    got_m = sorted(tuple(r) for r in res.tables["mentions"].collect())
    want_m = sorted(tuple(r) for r in full.tables["mentions"].collect())
    assert got_m == want_m


def test_conv_stats_salted_aggregation(result, rows):
    """Two-phase salted aggregation equals the direct per-conv stats."""
    from collections import defaultdict
    gold = defaultdict(lambda: [0, 0])
    for r in rows:
        gold[r["conv_id"]][0] += 1
        gold[r["conv_id"]][1] += len(r["text"])
    got = {r["conv_id"]: (r["n_turns"], r["n_chars"])
           for r in result.tables["conv_stats"].collect()}
    assert got == {k: tuple(v) for k, v in gold.items()}


def test_node_alias_arrays_bounded_on_hot_entity(spark):
    """VERDICT round-2 ask #4: a hot entity with 1e5 distinct surfaces must
    produce a BOUNDED aliases row (<= ALIAS_CAP sample, streamed through a
    ranking window — never an entity-sized array) while n_aliases and
    n_mentions stay exact; small entities stay complete and exact."""
    from pyspark.sql import functions as F

    from master_project_spark.pipeline import ALIAS_CAP, node_aggregates

    n_hot = 100_000
    hot = spark.range(n_hot).select(
        F.lit("hot").alias("entity_id"),
        F.format_string("surface_%06d", F.col("id")).alias("surface"))
    # the hot surfaces appear twice each (n_mentions != n_aliases)
    small = spark.createDataFrame(
        [("tiny", "a"), ("tiny", "b"), ("tiny", "b")],
        "entity_id string, surface string")
    linked = hot.union(hot).union(small)

    got = {r["entity_id"]: r for r in node_aggregates(linked).collect()}
    h = got["hot"]
    assert len(h["aliases"]) == ALIAS_CAP            # bounded row
    assert h["n_aliases"] == n_hot                   # exact, overflow visible
    assert h["n_mentions"] == 2 * n_hot
    assert h["aliases"] == sorted(h["aliases"])
    assert h["canonical"] == "surface_000000"
    t = got["tiny"]
    assert t["aliases"] == ["a", "b"]
    assert t["n_aliases"] == 2 and t["n_mentions"] == 3


def test_node_alias_merge_cap_semantics(spark, tmp_path):
    """The incremental algebraic node merge under caps: exact n_aliases
    while both stored arrays are complete; a documented lower bound (never
    fatal, always >= each input) once a side overflowed."""
    from pyspark.sql import functions as F

    from master_project_spark.datagen import alias_df, transcripts_df
    from master_project_spark.incremental import append_new_conversations
    from master_project_spark.pipeline import ALIAS_CAP, run_pipeline

    alias = alias_df(spark)
    out = str(tmp_path / "capmerge")
    full_t = transcripts_df(spark, 24, 10, seed=43)
    batch1 = full_t.filter(F.col("conv_id") < "conv00000022")
    append_new_conversations(spark, batch1, out, alias)
    res = append_new_conversations(spark, full_t, out, alias,
                                   rebuild_threshold=1.0)
    assert res["graph_rebuilt"] is False             # algebraic merge ran

    fresh = run_pipeline(spark, full_t, str(tmp_path / "fresh"), alias,
                         resume=False, with_chunks=False)
    cols = ["entity_id", "canonical", "n_aliases", "n_mentions"]
    inc_nodes = sorted(map(tuple, spark.read.parquet(f"{out}/nodes")
                           .select(*cols).collect()))
    fresh_nodes = sorted(map(tuple, fresh.tables["nodes"]
                             .select(*cols).collect()))
    # below the cap the merge is EXACT (complete-complete branch)
    assert inc_nodes == fresh_nodes
    for r in spark.read.parquet(f"{out}/nodes").collect():
        assert len(r["aliases"]) <= ALIAS_CAP
        assert r["n_aliases"] >= len(r["aliases"])


def test_jvm_cue_prefilter_matches_python_gate(spark):
    """Round-4 ask #1: the rlike prefilter must keep EVERY row the Python
    gate passes (output-exactness), and on ASCII text it must equal the
    gate exactly (the non-ASCII keep-all branch is the only slack)."""
    from master_project_spark import core
    from master_project_spark.datagen import gen_transcripts
    from master_project_spark.pipeline import cue_prefilter_condition

    texts = [r["text"] for r in gen_transcripts(60, 20, seed=41)]
    texts += [
        "Wé tráined the módel on SQuAD with great care today.",  # non-ASCII cue
        "Ünrelated wörds with nö cues at all hönestly.",         # non-ASCII no cue
        "No relevant verbs at all in this sentence, honestly.",  # ASCII no cue
        "trai(Smith 2020)ned on SQuAD daily.",                   # deletion trigger
        "Great :-) thanks!", "....", "", "   ", "Ok sure.",
        "the word use inside because of gate over-inclusion",
    ]
    rows = [(i, t) for i, t in enumerate(texts)] + [(len(texts), None)]
    df = spark.createDataFrame(rows, "id long, text string")
    cond = cue_prefilter_condition(spark)
    assert cond is not None, "JVM rejected the translated gate pattern"
    kept = {r["id"] for r in df.filter(cond).select("id").collect()}

    for i, t in enumerate(texts):
        py = core.turn_may_extract(t)
        if py:
            assert i in kept, f"prefilter dropped a gate-passing row: {t!r}"
        elif t.isascii():
            assert i not in kept, f"ASCII prefilter not exact: {t!r}"
        # non-ASCII gate-failing rows MAY be kept (Python re-gates them)
    assert len(texts) not in kept       # null text drops (extracts nothing)
    # the corpus must exercise both directions
    assert any(i not in kept for i in range(len(texts)))
    assert any(i in kept for i in range(len(texts)))


def test_bucketed_input_chunks_identical_and_shuffle_free(spark, tmp_path):
    """Round-5 chunker-shuffle elimination: a conv_id-bucketed input table
    must (a) produce byte-identical chunks to the default path — including
    through the segmented mega-conv route — and (b) plan the seg
    aggregation with ZERO shuffle exchange (HashPartitioning(conv_id) from
    the bucketed scan satisfies the (conv_id, seg_idx) clustering), so raw
    turn text never crosses executors. Only broadcast exchanges (the tiny
    big-conv id set) are allowed in the whole chunk-stage plan."""
    import contextlib
    import io

    from master_project_spark.datagen import transcripts_df
    from master_project_spark.pipeline import chunk_stage_df

    t = transcripts_df(spark, 40, 24).select("conv_id", "turn_idx", "text")
    spark.sql("DROP TABLE IF EXISTS t_bucketed_test")
    (t.write.mode("overwrite").bucketBy(4, "conv_id")
     .sortBy("conv_id", "turn_idx").format("parquet")
     .option("path", str(tmp_path / "bucketed"))
     .saveAsTable("t_bucketed_test"))
    try:
        bt = spark.table("t_bucketed_test")
        # seg_turns=8 forces multi-segment conversations (max_turns=24), so
        # the streaming big-conv route is exercised under input_clustered
        base = sorted(map(tuple, chunk_stage_df(t, seg_turns=8).collect()))
        buck_df = chunk_stage_df(bt, seg_turns=8, input_clustered=True)
        buck = sorted(map(tuple, buck_df.collect()))
        assert buck == base and len(base) > 0

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            buck_df.explain(mode="formatted")
        p = buf.getvalue()
        assert "Exchange hashpartitioning" not in p
        assert "BroadcastExchange" in p  # routing joins stay broadcast
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucketed_test")


def test_stage_starts_when_its_inputs_commit():
    """The runner starts a stage once the stages it reads have committed,
    while an unrelated slow stage is still running: "slow" waits for
    "child" to start, which a wave-by-wave runner would never do."""
    import threading

    from master_project_spark.pipeline import _StageRunner

    class FakeIO:
        def commit(self, df, name, snapshot_id, partition_by=None):
            return {"rows": 0, "n_files": 0, "files": []}

        def read(self, spark, name):
            return f"table:{name}"

    child_started = threading.Event()

    def slow(t):
        assert child_started.wait(timeout=30), "child waited for slow"
        return None

    def child(t):
        assert t == {"fast": "table:fast"}
        child_started.set()
        return None

    st = _StageRunner(None, FakeIO(), "token", False, "run")
    done = st.run_stages([
        ("slow", [], slow, {}),
        ("fast", [], lambda t: None, {}),
        ("child", ["fast"], child, {}),
    ])
    assert done == {n: f"table:{n}" for n in ("slow", "fast", "child")}
    assert {m["stage"] for m in st.metrics} == {"slow", "fast", "child"}


def test_stage_threads_inherit_the_callers_job_group(spark, tmp_path):
    """Jobs submitted from the runner's stage threads carry the job group
    the caller set: no job without a group appears during the run."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def settle(group):
        """Run a marker job in ``group`` and wait until the listener shows
        it: it sees jobs in submission order, so every earlier job is then
        visible too."""
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(group):
            assert time.monotonic() < deadline
            time.sleep(0.05)

    t = transcripts_df(spark, 4, 4, seed=5)
    alias = alias_df(spark)
    settle("before")
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("caller", "run_pipeline under a job group")
    try:
        run_pipeline(spark, t, str(tmp_path / "kg"), alias, resume=False,
                     with_chunks=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    settle("after")
    assert tracker.getJobIdsForGroup("caller")
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


def test_resume_skipping_verification_collects_no_vocabulary(
        spark, tmp_path, monkeypatch):
    """A resume that skips verified_triples never builds its verify UDF,
    so the alias vocabulary is neither collected nor broadcast."""
    from master_project_spark import pipeline

    t = transcripts_df(spark, 4, 4, seed=7)
    out = str(tmp_path / "kg")
    run_pipeline(spark, t, out, alias_df(spark), with_chunks=False,
                 snapshot_token="s")
    (tmp_path / "kg" / "edges._manifest.json").unlink()

    def refuse(*args):
        raise AssertionError("verify_udf_for called on a skipped stage")

    monkeypatch.setattr(pipeline, "verify_udf_for", refuse)
    res = run_pipeline(spark, t, out, alias_df(spark), with_chunks=False,
                       snapshot_token="s")
    skipped = {m["stage"] for m in res.metrics if m["skipped"]}
    assert "verified_triples" in skipped and "edges" not in skipped


def test_run_metrics_append_runs_no_python(spark):
    """The run_metrics rows reach the JVM as Arrow: no Python RDD scan."""
    from master_project_spark.pipeline import run_metrics_df

    df = run_metrics_df(spark, [{
        "run_id": "r", "stage": "s", "snapshot_id": "", "skipped": False,
        "rows_out": 3, "n_files": 1, "wall_ms": 1.5, "files_json": "[]"}])
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in p and "PythonRDD" not in p, p
    assert df.collect()[0]["rows_out"] == 3
