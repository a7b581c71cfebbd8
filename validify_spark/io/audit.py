"""Checkpointed, resumable validation runs with per-partition lineage +
metrics (north_rule: "resumable from checkpoint with per-partition
lineage + metrics").

Shape:
- The input is validated partition-group by partition-group (a
  partition expression over e.g. bucket(conv_id) or date(ts)).
- Each completed group writes (a) its violations under
  ``out_dir/violations/partition_id=<p>/`` and (b) an atomic JSON
  marker ``out_dir/markers/<p>.json`` carrying lineage + metrics.
- On restart with the same run directory, completed markers are
  anti-joined against the planned groups — finished work is never
  recomputed, partial work is overwritten idempotently (dynamic
  partition overwrite per group).

Markers are plain filesystem files (os.replace = atomic rename), which
works on local disk in the sandbox and maps 1:1 onto object-store
conditional puts / an Iceberg audit table in production.

At 10^12 rows the unit of restart is the partition group (e.g. 4096
conv_id buckets), so a failed 40-hour run resumes at the granularity of
minutes of lost work, and the audit table doubles as a progress and
throughput dashboard.

Composing with conversation-level checks: the DEFAULT partitioning is a
hash bucket of the engine's first key column (conv_id for transcripts),
so every conversation is whole within its group by construction —
``checks.conversation_rules`` / ``conversation_shape_violations`` run
correctly per group over the same partition slices (their groupBy never
crosses a group boundary). A custom ``partition_expr`` that splits
conversations (e.g. ``date(ts)``) keeps ROW-level rules correct but
breaks whole-conversation semantics — partition by conv_id bucket when
conversation-level checks ride along.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import tempfile
import time
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..engine import ValidationEngine

AUDIT_SCHEMA = ("run_id string, partition_id string, n_rows long, "
                "n_failed_rows long, n_violations long, passed boolean, "
                "ruleset string, started_at string, finished_at string, "
                "wall_sec double, n_conv_violations long")


def _has_data_files(spark: SparkSession, d: str) -> bool:
    """True if the directory tree contains any parquet data file
    (``part-*``) — distinguishes a legitimately-empty violations sink
    (only ``_SUCCESS``) from one that should be readable.

    Probed through the Hadoop FileSystem API, NOT a driver-local
    os.walk: Spark resolves ``d`` against the default filesystem, so
    on HDFS/S3 deployments a local walk would see nothing and silently
    mint n_violations=0 / passed=true markers that resume never
    revisits — the exact false-pass this probe exists to prevent.

    Under Spark Connect there is no py4j bridge (``spark._jvm`` /
    ``_jsc`` don't exist), so the probe falls back to the binaryFile
    source — same default-filesystem resolution, DataFrame-API only.
    A missing path raises AnalysisException there, which is the
    no-files answer, not an error."""
    if getattr(spark, "_jsc", None) is not None:
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(d)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return False
        it = fs.listFiles(path, True)
        while it.hasNext():
            if it.next().getPath().getName().startswith("part-"):
                return True
        return False
    from pyspark.errors import AnalysisException
    try:
        return not (spark.read.format("binaryFile")
                    .option("pathGlobFilter", "part-*")
                    .option("recursiveFileLookup", "true")
                    .load(d)
                    .select("path")
                    .isEmpty())
    except AnalysisException:
        return False


def _atomic_write_json(path: str, payload: dict) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)  # atomic on POSIX


class AuditedValidationRun:
    """Drive a ValidationEngine over an input in resumable partition
    groups."""

    def __init__(self, engine: ValidationEngine, out_dir: str,
                 run_id: str = "run1",
                 partition_expr: Optional[Column] = None,
                 n_buckets: int = 16,
                 audit_table: Optional[str] = None,
                 partition_domain: Optional[Sequence[str]] = None,
                 conv_agg_rules: Optional[Sequence] = None):
        """``audit_table``: optional Iceberg table identifier
        (``catalog.db.audit``) — lineage + metrics rows append there
        via the sources abstraction instead of the default parquet
        path under ``out_dir`` (north_rule: 'lineage + metrics rows
        written to an Iceberg audit table'; the sandbox has no Iceberg
        jar, so tests exercise the parquet route of the same code
        path).

        ``partition_domain``: with a custom ``partition_expr``, the
        explicit list of group values to plan (e.g. the date range of
        the run). Without it, planning a custom expression requires a
        ``distinct()`` scan of the input — a full pass over the table
        at 10^12 rows, so callers at scale should always supply the
        domain (the default hash-bucket path enumerates bucket ids and
        never scans).

        ``conv_agg_rules``: optional whole-conversation aggregate rules
        (the ``conversation_rules(agg_rules=...)`` contract —
        ``(code, boolean aggregate Column)`` pairs over the turn
        columns). Evaluated per commit batch against the engine's
        first key column as conv_id; conversation violations land
        under ``out_dir/conv_violations/`` partitioned by group, their
        counts join the marker/audit row (``n_conv_violations``), and
        a group passes only when BOTH row and conversation violations
        are zero. Requires the default conv-hash partitioning — a
        custom ``partition_expr`` could split a conversation across
        groups, silently mis-evaluating whole-conversation rules, so
        that combination raises."""
        if conv_agg_rules and partition_expr is not None:
            raise ValueError(
                "conv_agg_rules requires the default conv-hash "
                "partitioning: a custom partition_expr can split a "
                "conversation across groups, breaking "
                "whole-conversation semantics")
        self.engine = engine
        self.out_dir = out_dir.rstrip("/")
        self.run_id = run_id
        self.n_buckets = n_buckets
        self.partition_expr = partition_expr
        self.audit_table = audit_table
        self.partition_domain = (sorted(str(p) for p in partition_domain)
                                 if partition_domain is not None else None)
        self.conv_agg_rules = list(conv_agg_rules or [])
        os.makedirs(self._marker_dir, exist_ok=True)

    # -- layout -----------------------------------------------------------
    @property
    def _marker_dir(self) -> str:
        return f"{self.out_dir}/markers/{self.run_id}"

    @property
    def violations_dir(self) -> str:
        return f"{self.out_dir}/violations/{self.run_id}"

    @property
    def conv_violations_dir(self) -> str:
        return f"{self.out_dir}/conv_violations/{self.run_id}"

    @property
    def audit_path(self) -> str:
        return f"{self.out_dir}/audit/{self.run_id}"

    def _partition_col(self) -> Column:
        if self.partition_expr is not None:
            return self.partition_expr
        key = self.engine.key_cols[0]
        return (F.abs(F.xxhash64(F.col(key))) % self.n_buckets) \
            .cast("string")

    # -- progress ---------------------------------------------------------
    def completed_partitions(self) -> set:
        if not os.path.isdir(self._marker_dir):
            return set()
        return {f[:-5] for f in os.listdir(self._marker_dir)
                if f.endswith(".json")}

    def completed_markers(self) -> list:
        """The marker payloads of every completed group, one per group
        however often its batch was re-run (the audit log keeps one row
        per attempt)."""
        out = []
        for pid in sorted(self.completed_partitions()):
            with open(f"{self._marker_dir}/{pid}.json") as f:
                out.append(json.load(f))
        return out

    def planned_partitions(self, df: DataFrame) -> list:
        # hash-bucket plans need no input scan: every bucket id in
        # [0, n_buckets) is a group (empty buckets commit trivially) —
        # at 10^12 rows a distinct-scan just to enumerate groups is a
        # full pass over the table
        if self.partition_expr is None:
            return sorted(str(i) for i in range(self.n_buckets))
        if self.partition_domain is not None:
            return list(self.partition_domain)
        # fallback: enumerate by scanning — an explicit full pass over
        # the input; acceptable for small/ad-hoc runs only (pass
        # partition_domain at scale)
        return sorted(
            r["p"] for r in
            df.select(self._partition_col().alias("p")).distinct()
              .collect())

    def pending_partitions(self, df: DataFrame) -> list:
        done = self.completed_partitions()
        return [p for p in self.planned_partitions(df) if p not in done]

    # -- execution ----------------------------------------------------------
    def run(self, df: DataFrame,
            max_partitions: Optional[int] = None,
            chunk_size: Optional[int] = None) -> list:
        """Validate all pending partition groups; returns the marker
        payloads written this call.

        Single-pass shape (NOT one scan per group): each commit batch
        does exactly TWO scans of the pending data regardless of how
        many groups it contains — one producing the violations (written
        partitioned by group id with dynamic partition overwrite), one
        aggregation producing per-group row/fail counts. The old
        group-at-a-time loop re-scanned the full input once per group
        (thousands of full scans at ``--buckets 4096`` on 100 TB).

        ``chunk_size`` bounds the commit batch (groups per batch) —
        smaller batches give finer-grained restart at the cost of more
        scans (scans = 2 × ceil(pending / chunk_size)). Default: one
        batch. ``max_partitions`` limits total work (used by the resume
        test to simulate a crash).
        """
        pending = self.pending_partitions(df)
        if max_partitions is not None:
            pending = pending[:max_partitions]
        if not pending:
            return []
        step = chunk_size or len(pending)
        written = []
        for i in range(0, len(pending), step):
            written += self._run_batch(df, pending[i:i + step])
        return written

    def _run_batch(self, df: DataFrame, pids: list) -> list:
        spark = df.sparkSession
        started = dt.datetime.now(dt.timezone.utc)
        t0 = time.perf_counter()
        # __pid is computed on the RAW input, before modifiers run:
        # planned_partitions/pending_partitions plan on the raw df, and
        # a modifier touching a column referenced by partition_expr
        # (e.g. trim on a category key) would otherwise shift rows into
        # groups no planned marker ever commits
        src = self.engine.normalize(
            df.withColumn("__pid", self._partition_col())
              .filter(F.col("__pid").isin(pids)))

        # scan 1: violations for every group in the batch, written in
        # one job partitioned by group id; dynamic overwrite touches
        # only the batch's partitions (idempotent re-run after a crash)
        viols = (self.engine
                 .violations(src, pre_normalized=True,
                             extra_cols=["__pid"])
                 .withColumnRenamed("__pid", "partition_id"))
        (viols.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("partition_id")
              .parquet(self.violations_dir))

        # scan 2: per-group row + failed-row counts in ONE aggregation
        failed = (~self.engine._pass_all(src)).cast("long")
        stats = {
            r["__pid"]: (r["n_rows"], r["n_failed_rows"])
            for r in src.groupBy("__pid")
                        .agg(F.count("*").alias("n_rows"),
                             F.sum(failed).alias("n_failed_rows"))
                        .collect()
        }
        # violation counts from the committed files (reads only the
        # failing minority, partition-pruned to this batch). The
        # zero-violation case is detected EXPLICITLY (no data files in
        # the dir) — a real read failure (corrupt file, transient IO,
        # permissions) must fail the batch, not mint a passed=true
        # marker that resume would never revisit.
        if _has_data_files(spark, self.violations_dir):
            vcounts = {
                r["partition_id"]: r["n"]
                for r in spark.read.parquet(self.violations_dir)
                    .filter(F.col("partition_id").cast("string")
                            .isin(pids))
                    .groupBy(F.col("partition_id").cast("string")
                              .alias("partition_id"))
                    .agg(F.count("*").alias("n")).collect()
            }
        else:
            # an all-pass batch with no prior partitions leaves only
            # _SUCCESS in the dir — correctly zero violations everywhere
            vcounts = {}

        # optional whole-conversation rules: one extra aggregation scan
        # over the batch (conversations are whole per group — enforced
        # at construction), written/counted with the same idempotent
        # dynamic-overwrite + explicit-empty-dir discipline as row
        # violations
        ccounts = {}
        if self.conv_agg_rules:
            from ..checks.convrules import conversation_rules
            key = self.engine.key_cols[0]
            cv = (conversation_rules(src.drop("__pid"),
                                     agg_rules=self.conv_agg_rules,
                                     conv_col=key)
                  # partition id is a pure function of conv_id, so it
                  # is recomputable from the group output itself
                  .withColumn("partition_id", self._partition_col()))
            (cv.write.mode("overwrite")
               .option("partitionOverwriteMode", "dynamic")
               .partitionBy("partition_id")
               .parquet(self.conv_violations_dir))
            if _has_data_files(spark, self.conv_violations_dir):
                ccounts = {
                    r["partition_id"]: r["n"]
                    for r in spark.read.parquet(self.conv_violations_dir)
                        .filter(F.col("partition_id").cast("string")
                                .isin(pids))
                        .groupBy(F.col("partition_id").cast("string")
                                  .alias("partition_id"))
                        .agg(F.count("*").alias("n")).collect()
                }

        finished = dt.datetime.now(dt.timezone.utc)
        wall = round(time.perf_counter() - t0, 3)
        payloads = []
        for pid in pids:
            n_rows, n_failed = stats.get(pid, (0, 0))
            n_viol = int(vcounts.get(pid, 0))
            n_conv = int(ccounts.get(pid, 0))
            payloads.append({
                "run_id": self.run_id, "partition_id": pid,
                "n_rows": int(n_rows), "n_failed_rows": int(n_failed or 0),
                "n_violations": n_viol,
                "passed": n_viol == 0 and n_conv == 0,
                "ruleset": self.engine.ruleset.name,
                "started_at": started.isoformat(),
                "finished_at": finished.isoformat(),
                # wall time of the commit batch containing this group
                "wall_sec": wall,
                "n_conv_violations": n_conv,
            })
        # audit rows first, markers last: a crash between the two re-runs
        # the batch (idempotent overwrite), never skips it
        # an Arrow table becomes a LocalRelation; a list of tuples would
        # go through a Python RDD and a Spark job of its own
        import pyarrow as pa
        from .sources import write_table
        adf = spark.createDataFrame(pa.Table.from_pylist(payloads),
                                    AUDIT_SCHEMA)
        write_table(adf, self.audit_table or self.audit_path,
                    mode="append")
        for p in payloads:
            _atomic_write_json(
                f"{self._marker_dir}/{p['partition_id']}.json", p)
        return payloads

    def violations(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.violations_dir)


def read_audit_log(spark: SparkSession, out_dir: str,
                   run_id: str = "run1") -> DataFrame:
    return spark.read.parquet(f"{out_dir.rstrip('/')}/audit/{run_id}")
