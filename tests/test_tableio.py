"""TableIO crash-window + snapshot-token resume (round-2 hardening).

Covers the two ADVICE findings: (a) a manifest must never outlive the data
it describes — commit() invalidates it BEFORE the overwrite starts, so a run
killed mid-overwrite leaves the table uncommitted instead of
committed-but-clobbered; (b) the input fingerprint must be cancellation-free
(bit_xor alone zeroes out on even duplicate multisets)."""

import pytest
from pyspark.sql import functions as F

from master_project_spark.datagen import alias_df, transcripts_df
from master_project_spark.pipeline import input_fingerprint, run_pipeline
from master_project_spark.tableio import TableIO


def test_commit_invalidates_manifest_before_overwrite(spark, tmp_path):
    """Both commit modes: the whole-table overwrite, and the
    partition-replacing mode the incremental append uses."""
    from pyspark.sql.functions import udf

    @udf("long")
    def boom(x):
        raise RuntimeError("killed mid-overwrite")

    for mode in ("full", "partitions"):
        io = TableIO(tmp_path / mode)
        kw = ({} if mode == "full"
              else {"partition_by": ["batch"], "replace_partitions": ["b0"]})

        def table(x):
            df = spark.range(5).select(x.alias("x"))
            return df if mode == "full" else df.withColumn("batch", F.lit("b0"))

        io.commit(table(F.col("id")), "t", "snap1", **kw)
        assert io.is_committed("t", "snap1"), mode

        # a failing overwrite (kill analog) must leave the table UNcommitted
        with pytest.raises(Exception):
            io.commit(table(boom("id")), "t", "snap1", **kw)
        assert not io.is_committed("t", "snap1"), mode
        assert io.manifest("t") is None, mode


def test_fingerprint_detects_even_duplicate_swap(spark):
    """Swapping two copies of row A for two copies of row B preserves both
    count and bit_xor — the decimal-sum component must still differ."""
    base = [("c1", 0, "same text"), ("c2", 0, "other")]
    a = spark.createDataFrame(
        base + [("c3", 1, "AAAA")] * 2, "conv_id string, turn_idx int, text string")
    b = spark.createDataFrame(
        base + [("c3", 1, "BBBB")] * 2, "conv_id string, turn_idx int, text string")
    assert input_fingerprint(a) != input_fingerprint(b)


def test_snapshot_token_skips_fingerprint_scan(spark, tmp_path):
    """VERDICT #5: an external snapshot token (Iceberg snapshot id analog)
    must skip the full-input fingerprint scan; resume still works."""
    t = transcripts_df(spark, 8, 6, seed=21)
    out = str(tmp_path / "tok")
    r1 = run_pipeline(spark, t, out, alias_df(spark), resume=True,
                      with_chunks=False, snapshot_token="snapA")
    ident1 = [m for m in r1.metrics if m["stage"] == "_input_identity"][0]
    assert '"fingerprint_scanned": false' in ident1["files_json"]
    assert '"token_provided": true' in ident1["files_json"]

    r2 = run_pipeline(spark, t, out, alias_df(spark), resume=True,
                      with_chunks=False, snapshot_token="snapA")
    skipped = {m["stage"] for m in r2.metrics if m["skipped"]}
    assert {"extracted", "triples", "mentions"} <= skipped

    # a NEW token invalidates: everything recomputes
    r3 = run_pipeline(spark, t, out, alias_df(spark), resume=True,
                      with_chunks=False, snapshot_token="snapB")
    assert all(not m["skipped"] for m in r3.metrics
               if m["stage"] not in ("_order_check", "_input_identity"))


def test_resume_false_skips_fingerprint_scan(spark, tmp_path):
    """resume=False needs no input identity — no fingerprint scan."""
    t = transcripts_df(spark, 6, 5, seed=22)
    r = run_pipeline(spark, t, str(tmp_path / "nof"), alias_df(spark),
                     resume=False, with_chunks=False)
    ident = [m for m in r.metrics if m["stage"] == "_input_identity"][0]
    assert '"fingerprint_scanned": false' in ident["files_json"]


def test_read_of_committed_table_runs_no_job(spark, tmp_path):
    """Opening a committed table uses the manifest's schema: no schema
    inference job, for a partitioned table and for an empty partitioned
    commit (which has no data files at all)."""
    import time

    io = TableIO(tmp_path)
    df = spark.range(6).withColumn("batch", F.lit("b0"))
    io.commit(df, "full", "s1", partition_by=["batch"])
    io.commit(df.limit(0), "empty", "s1", partition_by=["batch"])

    sc = spark.sparkContext
    sc.setJobGroup("tableio_read", "read committed tables")
    try:
        full, empty = io.read(spark, "full"), io.read(spark, "empty")
        # a marker job: the listener sees jobs in submission order, so once
        # it is visible any job the reads started is visible too
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not (ids := sc.statusTracker().getJobIdsForGroup("tableio_read")):
        assert time.monotonic() < deadline
        time.sleep(0.05)
    assert len(ids) == 1, ids
    assert full.columns == empty.columns == ["id", "batch"]
    assert sorted(r["id"] for r in full.collect()) == list(range(6))
    assert empty.count() == 0
