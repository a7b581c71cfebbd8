"""Checkpoint/resume + audit lineage, and batch/stream parity."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from validify_spark.data import generate_turns, standard_turns_ruleset
from validify_spark.engine import ValidationEngine
from validify_spark.io import AuditedValidationRun, read_audit_log
from validify_spark.streaming import (
    stream_partition_metrics, stream_violations,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="validify_audit_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _engine():
    return ValidationEngine(standard_turns_ruleset(),
                            key_cols=["conv_id", "turn_idx"])


def test_resume_never_revalidates_and_matches_full_run(spark, tmpdir):
    turns = generate_turns(spark, 3000, seed=42).persist()
    run = AuditedValidationRun(_engine(), tmpdir, run_id="r1",
                               n_buckets=8)
    # simulate a crash after 3 of 8 partition groups
    first = run.run(turns, max_partitions=3)
    assert len(first) == 3
    assert run.completed_partitions() == {p["partition_id"]
                                          for p in first}
    # restart: a fresh object over the same dir resumes
    run2 = AuditedValidationRun(_engine(), tmpdir, run_id="r1",
                                n_buckets=8)
    second = run2.run(turns)
    assert len(second) == 5  # only the pending ones
    done_ids = [p["partition_id"] for p in first + second]
    assert len(done_ids) == len(set(done_ids))  # nothing ran twice

    # final violations == single-shot batch run
    resumed = run2.violations(spark)
    batch = _engine().violations(turns)
    key = ["conv_id", "turn_idx", "location", "code"]
    assert (resumed.select(key).exceptAll(batch.select(key)).isEmpty()
            and batch.select(key).exceptAll(resumed.select(key))
            .isEmpty())

    # audit table carries lineage + metrics for all 8 groups
    audit = read_audit_log(spark, tmpdir, "r1")
    rows = audit.collect()
    assert len(rows) == 8
    assert sum(r["n_rows"] for r in rows) == 3000
    assert all(r["ruleset"] == "turns" and r["wall_sec"] > 0
               for r in rows)
    turns.unpersist()


def test_rerun_is_noop(spark, tmpdir):
    turns = generate_turns(spark, 800, seed=42).persist()
    run = AuditedValidationRun(_engine(), tmpdir, run_id="r2",
                               n_buckets=4)
    assert len(run.run(turns)) == 4
    assert run.run(turns) == []  # fully complete → no work


def test_stream_violations_match_batch(spark, tmpdir):
    turns = generate_turns(spark, 2000, seed=42)
    src_dir = f"{tmpdir}/turns_src"
    turns.write.parquet(src_dir)

    stream = (spark.readStream
              .schema(turns.schema)
              .parquet(src_dir))
    eng = _engine()
    sv = stream_violations(eng, stream)
    q = (sv.writeStream.format("memory").queryName("viol_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.sql("SELECT conv_id, turn_idx, location, code "
                    "FROM viol_stream")
    want = eng.violations(spark.read.parquet(src_dir)) \
              .select("conv_id", "turn_idx", "location", "code")
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    assert got.count() > 0


def test_stream_windowed_metrics(spark, tmpdir):
    turns = generate_turns(spark, 1000, seed=42) \
        .filter(F.col("ts").isNotNull())
    src_dir = f"{tmpdir}/turns_src2"
    turns.write.parquet(src_dir)
    stream = spark.readStream.schema(turns.schema).parquet(src_dir)
    m = stream_partition_metrics(_engine(), stream, window="1 hour")
    q = (m.writeStream.format("memory").queryName("metrics_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # append mode + availableNow: only windows past the watermark emit;
    # the job must at least run and produce a valid schema
    rows = spark.sql("SELECT * FROM metrics_stream").collect()
    assert {"window", "n_rows", "n_failed_rows", "passed"} <= {
        c for c in spark.table("metrics_stream").columns}
    for r in rows:
        assert r["n_rows"] >= r["n_failed_rows"]


def test_stream_ordering_stateful_cross_batch(spark, tmpdir):
    """applyInPandasWithState ordering check: single-batch output equals
    the batch window-lag check, and state carries across micro-batches
    (a gap between batch 1's tail and batch 2's head is detected, which
    the stateless form cannot see)."""
    import time as _time

    from validify_spark.checks import ordering_violations
    from validify_spark.streaming import stream_ordering_violations

    rows1 = [("c1", 1, "2024-01-01T00:00:00"),
             ("c1", 2, "2024-01-01T00:01:00"),
             ("c2", 1, "2024-01-01T00:00:00"),
             ("c2", 1, "2024-01-01T00:02:00")]   # dup in batch 1
    rows2 = [("c1", 5, "2024-01-01T00:03:00"),   # gap vs batch-1 tail (2->5)
             ("c2", 2, "2024-01-01T00:01:00")]   # ts backwards vs batch 1
    ddl = "conv_id string, turn_idx int, ts_s string"

    def mk(rows):
        df = spark.createDataFrame(rows, ddl)
        return df.selectExpr("conv_id", "turn_idx",
                             "CAST(ts_s AS TIMESTAMP) AS ts")

    src_dir = f"{tmpdir}/ordering_src"
    mk(rows1).coalesce(1).write.mode("append").parquet(src_dir)
    _time.sleep(1.1)  # distinct mtimes => file source batches in order
    mk(rows2).coalesce(1).write.mode("append").parquet(src_dir)

    stream = (spark.readStream.schema(mk(rows1).schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    q = (stream_ordering_violations(stream)
         .writeStream.format("memory").queryName("ord_stream")
         .option("checkpointLocation", f"{tmpdir}/ord_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {(r["conv_id"], r["turn_idx"], r["code"])
           for r in spark.sql("SELECT * FROM ord_stream").collect()}
    # batch 1 violations + cross-batch: c1 gap 2->5, c2 ts backwards
    assert got == {("c2", 1, "dup_turn_idx"),
                   ("c1", 5, "turn_idx_gap"),
                   ("c2", 2, "ts_out_of_order")}

    # single-batch parity with the stateless batch check
    both = mk(rows1).unionByName(mk(rows2))
    batch = {(r["conv_id"], r["turn_idx"], r["code"])
             for r in ordering_violations(both).collect()}
    assert got == batch


def test_audit_run_with_zero_violations(spark, tmpdir):
    # all-pass input: the single-pass batch commit must handle an empty
    # violations write (only _SUCCESS in the dir) and mark every group
    # passed
    from validify_spark import RuleSet, length
    clean = spark.createDataFrame(
        [(f"c{i}", 0, "hello") for i in range(50)],
        "conv_id string, turn_idx int, text string")
    eng = ValidationEngine(
        RuleSet(rules=[length("text", min=1, max=50)]),
        key_cols=["conv_id", "turn_idx"])
    run = AuditedValidationRun(eng, tmpdir, run_id="clean",
                               n_buckets=4)
    done = run.run(clean)
    assert len(done) == 4
    assert all(p["passed"] and p["n_violations"] == 0 for p in done)
    assert sum(p["n_rows"] for p in done) == 50


def test_audit_run_with_conversation_rules(spark, tmpdir):
    """Whole-conversation aggregate rules ride the resumable runner:
    conversation violations land per group, their counts join the
    marker/audit row, and pass/fail reflects BOTH row and conversation
    verdicts — cross-checked against a direct conversation_rules run
    bucketed the same way."""
    from validify_spark.checks import conversation_rules

    turns = generate_turns(spark, 2000, seed=7).persist()
    conv_rules = [
        ("has_assistant", F.max(F.col("role") == "assistant")),
        ("max_40_turns", F.count("*") <= 40),
    ]
    run = AuditedValidationRun(_engine(), tmpdir, run_id="cr",
                               n_buckets=8, conv_agg_rules=conv_rules)
    payloads = run.run(turns)
    assert len(payloads) == 8

    # direct evaluation, bucketed identically
    direct = (conversation_rules(
                  _engine().normalize(turns),
                  agg_rules=conv_rules, conv_col="conv_id")
              .withColumn("pid", (F.abs(F.xxhash64(F.col("conv_id")))
                                  % 8).cast("string")))
    expected = {r["pid"]: r["n"]
                for r in direct.groupBy("pid")
                .agg(F.count("*").alias("n")).collect()}
    got = {p["partition_id"]: p["n_conv_violations"] for p in payloads}
    assert {k: v for k, v in got.items() if v} == expected

    # pass/fail folds conversation verdicts in
    for p in payloads:
        assert p["passed"] == (p["n_violations"] == 0
                               and p["n_conv_violations"] == 0)
    # the committed conv-violations table is readable and group-tagged
    cv = spark.read.parquet(run.conv_violations_dir)
    assert {"conv_id", "code", "partition_id"} <= set(cv.columns)
    assert cv.count() == sum(expected.values())

    # audit table carries the new column for every group
    audit = read_audit_log(spark, tmpdir, "cr").collect()
    assert all(r["n_conv_violations"] is not None for r in audit)
    turns.unpersist()


def test_conv_rules_reject_custom_partitioning(spark, tmpdir):
    with pytest.raises(ValueError, match="default conv-hash"):
        AuditedValidationRun(
            _engine(), tmpdir, partition_expr=F.lit("x"),
            conv_agg_rules=[("c", F.count("*") <= 1)])


def test_job_summary_counts_each_group_once(spark, tmpdir, capsys):
    """A crash between a batch's audit append and its marker write
    re-runs the batch, which appends a second audit row for the group;
    the job summary still counts every group and row once."""
    import json
    import os

    from validify_spark import job

    argv = ["--out", tmpdir, "--gen-rows", "2000", "--buckets", "4",
            "--checks", "none", "--run-ts", "2026-01-01T00:00:00"]
    assert job.main(argv) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (first["rows"], first["groups"]) == (2000, 4)

    os.remove(os.path.join(tmpdir, "markers", "run1", "0.json"))
    assert job.main(argv) == 0
    again = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert again["partitions_validated_this_run"] == 1
    assert len(read_audit_log(spark, tmpdir).collect()) == 5
    n_rows = spark.read.parquet(
        os.path.join(tmpdir, "input_turns_2000")).count()
    assert (again["rows"], again["groups"]) == (n_rows, 4)
    for k in ("violations", "groups_passed", "partitions_total"):
        assert again[k] == first[k], k


def test_stream_ordering_out_of_range_and_null_ts(spark, tmpdir):
    """Timestamps outside pandas' nanosecond range (year 2600, as
    generate_turns emits, and year 1600) and NULL timestamps: the
    single-batch stateful output equals the batch check row for row,
    down to a 1 µs step backwards at year 2600 (beyond float64's exact
    integers, 2^53 µs)."""
    import datetime as dt

    from validify_spark.checks import ordering_violations
    from validify_spark.streaming import stream_ordering_violations

    far = dt.datetime(2600, 1, 1)
    us = dt.timedelta(microseconds=1)
    rows = [("c1", 1, far + 2 * us), ("c1", 2, far + us),
            ("c1", 3, None), ("c1", 4, far + 3 * us),
            ("c2", 1, None), ("c2", 1, dt.datetime(2024, 1, 1)),
            ("c2", 3, dt.datetime(2600, 6, 1)),
            ("c3", 1, dt.datetime(1600, 1, 1)),
            ("c3", 2, dt.datetime(1599, 12, 31)),
            ("c3", 3, None), ("c3", 3, None)]
    df = spark.createDataFrame(rows,
                               "conv_id string, turn_idx int, ts timestamp")
    src = f"{tmpdir}/far_src"
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (stream_ordering_violations(stream)
         .writeStream.format("memory").queryName("ord_far")
         .option("checkpointLocation", f"{tmpdir}/far_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert q.exception() is None

    def key(r):
        return (r["conv_id"], r["turn_idx"], r["code"])

    got = sorted(map(key, spark.sql("SELECT * FROM ord_far").collect()))
    want = sorted(map(key, ordering_violations(df).collect()))
    assert got == want
    assert ("c1", 2, "ts_out_of_order") in want
    assert ("c3", 2, "ts_out_of_order") in want
