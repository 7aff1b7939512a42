"""Physical-plan shape tests (SURVEY.md §4): the scale-critical properties —
predicate pushdown, column pruning, broadcast join selection, map-side
partial aggregation — asserted on .explain output so a regression that
silently de-optimizes a plan fails CI."""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from master_project_spark import entry_queries as EQ

SF_DIR = "/root/testdata/sf0.001"


def plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark):
    """vec_id < 8 must reach the parquet scan; only needed columns read."""
    p = plan(EQ.cosine_topk(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,8)]" in p \
        or "LessThan(vec_id,8)" in p
    assert "label" not in p.split("ReadSchema")[1].split("\n")[0]


def test_column_pruning_documents(spark):
    """corpus filter projects doc_id only -> scan must not read lang/source/
    n_chars."""
    p = plan(EQ.corpus_keyword_filter(spark, SF_DIR))
    read_schema = [line for line in p.splitlines() if "ReadSchema" in line]
    assert read_schema and "n_chars" not in read_schema[0]
    assert "text" in read_schema[0]  # needed for the rlike


def test_broadcast_join_selected(spark):
    p = plan(EQ.nation_region_lookup(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    p2 = plan(EQ.revenue_by_nation(spark, SF_DIR))
    assert "BroadcastHashJoin" in p2


def test_semi_anti_joins(spark):
    assert "LeftSemi" in plan(EQ.semi_join_customers(spark, SF_DIR))
    assert "LeftAnti" in plan(EQ.anti_join_customers(spark, SF_DIR))


def test_partial_aggregation(spark):
    """pricing_summary must partial-aggregate map-side: two HashAggregate
    nodes around the exchange."""
    p = plan(EQ.pricing_summary(spark, SF_DIR), mode="simple")
    assert p.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(l_returnflag" in p


def test_whole_stage_codegen_on_text_ops(spark):
    """textops are JVM expressions -> inside WholeStageCodegen, no
    BatchEvalPython/ArrowEvalPython in the plan. The scan-spread exchange
    (r6, entry_queries._tp) wraps the query in AdaptiveSparkPlan, which
    hides codegen markers until execution — so execute first and assert on
    the FINAL adaptive plan. The codegen marker must sit on the node that
    evaluates the regexp_extract_all projection itself: another stage (the
    scan below the exchange) being codegen'd proves nothing about the text
    ops."""
    df = EQ.token_stats(spark, SF_DIR)
    df.collect()
    p = plan(df, mode="simple")
    final = p.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    text_ops = [line for line in final.splitlines()
                if "regexp_extract_all" in line]
    assert text_ops
    for line in text_ops:
        # "+- *(2) Project [...]": whole-stage-codegen stage id on the node
        assert re.match(r"[\s+:-]*\*\(\d+\) Project \[", line), line
    assert "EvalPython" not in p


def test_lsh_pairs_plan_reads_checkpointed_signatures(spark):
    """MinHash runs once per key: the LSH pairs plan reads the checkpointed
    (skey, sig) table, with no Python evaluation node left to re-run the
    signature UDF."""
    from master_project_spark.canonicalize import (lsh_candidate_pairs,
                                                   surface_vertices)
    from master_project_spark.datagen import alias_df
    surfaces = spark.createDataFrame(
        [("SQuAD",), ("SQuAD 2.0",), ("ImageNet",)], "surface string")
    pairs, _ = lsh_candidate_pairs(surface_vertices(surfaces,
                                                    alias_df(spark)))
    p = plan(pairs, mode="extended")
    assert "EvalPython" not in p
    assert "ExistingRDD" in p
    # the bucket sizes ride the checkpoint: no side of the self-join
    # recomputes them
    assert not re.search(r"Aggregate \[band_idx", p), p


def test_pipeline_link_stage_broadcasts(spark):
    from master_project_spark.datagen import alias_df, transcripts_df
    mentions = spark.createDataFrame(
        [("c1", 0, 0, "SQuAD", 0, 5, "DATASET")],
        "conv_id string, turn_idx int, mention_id int, surface string, "
        "span_start int, span_end int, mtype string")
    linked = mentions.join(
        F.broadcast(alias_df(spark)),
        F.lower(F.col("surface")) == F.col("alias"), "left")
    assert "BroadcastHashJoin" in plan(linked)


def test_fixpoint_literal_corpus_broadcasts(spark):
    """Round >= 2 of the fixpoint filters ALL chunks against the grown
    literal keyword set — must be a broadcast (nested-loop) semi-join, not
    a shuffled theta join on the corpus side."""
    chunks = spark.createDataFrame(
        [("c1", 0, "we trained on squad today ok.")],
        "conv_id string, chunk_idx int, chunk_text string")
    kws = spark.createDataFrame([("squad",)], "kw string")
    j = chunks.join(F.broadcast(kws),
                    F.expr("contains(lower(chunk_text), kw)"), "left_semi")
    p = plan(j)
    assert "BroadcastNestedLoopJoin" in p and "LeftSemi" in p


def test_verified_triples_single_arrow_pass(spark):
    """The verification stage is one Arrow-vectorized pass over triples —
    no shuffle, no row-at-a-time Python."""
    from master_project_spark.udfs import make_verify_udf
    triples = spark.createDataFrame(
        [("c1", 0, "self", "trained_on", "SQuAD", 0.9, "DATASET")],
        "conv_id string, turn_idx int, subj string, pred string, "
        "obj string, confidence double, mtype string")
    vu = make_verify_udf(spark, frozenset({"squad"}))
    from master_project_spark import core
    out = triples.filter(
        vu(F.col("obj"), F.col("mtype"))
        & ((F.col("subj") == core.SELF_SUBJECT)
           | vu(F.col("subj"), F.col("mtype"))))
    p = plan(out, mode="simple")
    assert "Exchange" not in p
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


def test_segmented_chunk_routing_is_map_side(spark):
    """The small/large conversation routing must be BROADCAST joins against
    the (tiny) big-conv id set — the seg-text rows shuffle exactly once
    (their aggregation), never again for routing. A per-conv window count
    here cost +23% on the stage (measured, pinned 16 cores, 1.87M turns)."""
    from master_project_spark.pipeline import chunk_stage_df
    from master_project_spark.datagen import transcripts_df
    t = transcripts_df(spark, 4, 6)
    p = plan(chunk_stage_df(t.select("conv_id", "turn_idx", "text")))
    assert "Window" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "LeftAnti" in p and "LeftSemi" in p


def test_extraction_stage_has_no_shuffle_after_repartition(spark):
    """The extract stage is one round-robin-free hash repartition followed by
    ArrowEvalPython/MapInPandas — no second exchange before the write."""
    from master_project_spark.datagen import transcripts_df
    from master_project_spark.udfs import EXTRACTED_SCHEMA, extract_turn_batches
    t = transcripts_df(spark, 5, 5)
    df = (t.select("conv_id", "turn_idx", "ts", "text")
          .repartition(8, "conv_id", "turn_idx")
          .mapInPandas(extract_turn_batches, EXTRACTED_SCHEMA))
    p = plan(df, mode="simple")
    assert p.count("Exchange") == 1
    assert "MapInPandas" in p
