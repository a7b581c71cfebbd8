"""Workloads: inputs, one timed iteration, and output checks.

Each workload generates its inputs from the seed in ``setup`` (timed as
set-up), runs one closed-loop ``iteration`` at a time (timed), and
``check``s every iteration's output against the DuckDB oracle (untimed).
An iteration takes an optional Tracer; with one, every call into a
library layer opens that layer's span.

Two workloads are timed end to end. The streaming twins and the dedup
corpus run only in the traced run, as ``traced_extras`` of the workload
whose input or machinery they share, so every layer is still measured
while a full set of runs fits the benchmark's time budget.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import shutil

from pyspark.sql import functions as F

import gen
import oracle


def _switch(tracer, layer):
    if tracer is not None:
        tracer.switch(layer)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


def _code_counts(con, files: str) -> dict:
    """Violations per ``location|code`` in the parquet files the program
    wrote, read with DuckDB so checks add no Spark jobs."""
    return {f"{loc}|{code}": n for loc, code, n in con.execute(
        f"SELECT location, code, count(*) FROM read_parquet('{files}') "
        f"GROUP BY location, code").fetchall()}


def _diff(what: str, got, want) -> list:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


def _close(what: str, got: tuple, want: tuple) -> list:
    ok = len(got) == len(want) and all(
        math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-4)
        for g, w in zip(got, want))
    return [] if ok else [f"{what}: got {got!r}, want {want!r}"]


class Workload:
    name = ""

    def __init__(self, spark, con, work: str, seed: int, cpus: int):
        self.spark = spark
        self.con = con           # DuckDB: the oracle and output checks
        self.work = work
        self.seed = seed
        self.cpus = cpus
        self.rows = 0
        self.expected = None

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def out_dir(self, i) -> str:
        d = self.path("out", str(i))
        shutil.rmtree(d, ignore_errors=True)
        return d

    def setup(self) -> None:
        raise NotImplementedError

    def reference(self) -> None:
        """Compute ``self.expected`` from the generated inputs."""
        raise NotImplementedError

    def iteration(self, i, tracer=None):
        raise NotImplementedError

    def check(self, result) -> list:
        raise NotImplementedError

    def traced_extras(self, tracer) -> dict:
        """Layer calls made only in the traced run, after the traced
        iteration: ``{"failures": [...], ...}``."""
        return {"failures": []}

    def layer_extras(self, layers: dict) -> dict:
        """Per-layer extras derived from the traced iteration."""
        return {}


# -- audited_job ---------------------------------------------------------


class AuditedJob(Workload):
    """The shipped job: ``validify_spark.job.main`` over turns + conv_meta
    with the whole-conversation rules and every distributed check."""
    name = "audited_job"
    ROWS = 25_000
    BUCKETS = 8
    CHECKS = (("uniqueness_violations", "checks.uniqueness"),
              ("ordering_violations", "checks.ordering"),
              ("stats_profile", "checks.stats_profile"),
              ("categorical_histogram", "checks.drift"),
              ("drift_report", "checks.drift"),
              ("referential_orphans", "checks.referential"))

    def setup(self):
        gen.write_turns(self.spark, self.path("turns"), self.ROWS,
                        self.seed, files=2 * self.cpus)
        gen.write_conv_meta(self.spark, self.path("conv_meta"), self.ROWS,
                            self.seed)

    def reference(self):
        self.expected = oracle.turns(self.con, self.path("turns", "*.parquet"),
                                     self.path("conv_meta", "*.parquet"))
        self.rows = self.expected["rows"]

    def iteration(self, i, tracer=None):
        from validify_spark import job
        out = self.out_dir(i)
        argv = ["--input", self.path("turns"),
                "--conv-meta", self.path("conv_meta"), "--conv-checks",
                "--run-ts", gen.RUN_TS.isoformat(), "--out", out,
                "--buckets", str(self.BUCKETS)]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf), self._patched(tracer):
            _switch(tracer, "job.setup")
            rc = job.main(argv)
        _switch(tracer, None)
        return {"rc": rc, "out": out,
                "summary": json.loads(buf.getvalue().strip()
                                      .splitlines()[-1])}

    @contextlib.contextmanager
    def _patched(self, tracer):
        """Route job.main's calls into the layers through the tracer.
        job.main imports these names at call time, so replacing the
        package attributes reaches it without touching the program."""
        if tracer is None:
            yield
            return
        import validify_spark.checks as checks
        from validify_spark.io import AuditedValidationRun
        saved = [(checks, n, getattr(checks, n)) for n, _ in self.CHECKS]
        saved.append((AuditedValidationRun, "run",
                      AuditedValidationRun.run))
        try:
            for name, layer in self.CHECKS:
                setattr(checks, name, tracer.wrap(getattr(checks, name),
                                                  layer))
            AuditedValidationRun.run = tracer.wrap(
                AuditedValidationRun.run, "io.audit.run")
            yield
        finally:
            for owner, name, fn in saved:
                setattr(owner, name, fn)

    def check(self, result):
        exp, s = self.expected, result["summary"]
        bad = _diff("exit code", result["rc"], 0)
        bad += _diff("partitions validated this run",
                     s["partitions_validated_this_run"], self.BUCKETS)
        bad += _diff("groups", s["groups"], self.BUCKETS)
        bad += _diff("rows", s["rows"], exp["rows"])
        bad += _diff("violations", s["violations"],
                     sum(exp["violations"].values()))
        bad += _diff("dup_keys", s["dup_keys"], exp["dup_keys"])
        bad += _diff("ordering_violations", s["ordering_violations"],
                     sum(exp["ordering"].values()))
        bad += _diff("conv_violations", s["conv_violations"],
                     exp["conv_violations"])
        bad += _diff("orphan_conv_ids", s["orphan_conv_ids"],
                     exp["orphans"])
        bad += _diff("role_self_psi", s["role_self_psi"], 0.0)
        bad += _diff("violations by code", _code_counts(
            self.con, os.path.join(result["out"], "violations", "run1",
                                   "*", "*.parquet")),
            exp["violations"])
        shutil.rmtree(result["out"], ignore_errors=True)
        return bad

    def traced_extras(self, tracer):
        """The engine phases of the job's ruleset, one span each, so
        normalize, the exact pass scan, planning and the violation build
        can be told apart; then the streaming twins over the same
        table."""
        from validify_spark.data import standard_turns_ruleset
        from validify_spark.engine import ValidationEngine
        eng = ValidationEngine(standard_turns_ruleset(gen.RUN_TS),
                               key_cols=["conv_id", "turn_idx"],
                               run_ts=gen.RUN_TS)
        turns = self.spark.read.parquet(self.path("turns"))
        with tracer.span("engine.normalize"):
            eng.normalize(turns).write.format("noop").mode("overwrite") \
                .save()
        with tracer.span("engine.pass_scan"):
            eng.with_valid_flag(turns) \
                .agg(F.sum(F.col("is_valid").cast("long"))).collect()
        with tracer.span("engine.plan"):
            viols = eng.violations(turns)
        with tracer.span("engine.violations"):
            viols.write.format("noop").mode("overwrite").save()
        twins = StreamTwins(self)
        result = twins.run(tracer)
        return {"failures": twins.check(result),
                "batch_s": result["batch_s"],
                "state_rows": result["state_rows"]}

    def layer_extras(self, layers):
        audit = layers.get("io.audit.run", {})
        phase2 = layers.get("engine.violations", {})
        return {
            "io.audit.scan_ratio": (audit.get("files_read_bytes", 0)
                                    / _dir_bytes(self.path("turns"))),
            # rows through the phase-1/phase-2 barrier exchange
            "engine.failing_ratio": (phase2.get("shuffle_records", 0)
                                     / self.rows),
        }


# -- payload_udf ---------------------------------------------------------


class PayloadUdf(Workload):
    """A wide event table through ``ValidationEngine.violations`` with
    the Arrow-UDF validator kinds, written with ``io.write_table``."""
    name = "payload_udf"
    ROWS = 10_000

    def setup(self):
        gen.events_frame(self.spark, self.ROWS, self.seed,
                         2 * self.cpus).write.parquet(self.path("events"))
        self.rows = self.ROWS

    def reference(self):
        self.expected = oracle.events(self.con,
                                      self.path("events", "*.parquet"))

    def iteration(self, i, tracer=None):
        from validify_spark.engine import ValidationEngine
        from validify_spark.io import write_table
        out = self.out_dir(i)
        eng = ValidationEngine(gen.payload_ruleset(), key_cols=["event_id"],
                               run_ts=gen.RUN_TS)
        events = self.spark.read.parquet(self.path("events"))
        _switch(tracer, "engine.plan")
        viols = eng.violations(events)
        _switch(tracer, "io.write_table")
        write_table(viols, out, mode="overwrite")
        eng.release_caches()
        _switch(tracer, None)
        return {"out": out}

    def check(self, result):
        bad = _diff("violations by code", _code_counts(
            self.con, os.path.join(result["out"], "*.parquet")),
            self.expected["violations"])
        shutil.rmtree(result["out"], ignore_errors=True)
        return bad

    def traced_extras(self, tracer):
        corpus = DedupCorpus(self.spark, self.con, self.path("corpus"),
                             self.seed, self.cpus)
        corpus.setup()
        corpus.reference()
        return {"failures": corpus.check(corpus.iteration("traced",
                                                          tracer))}

    def layer_extras(self, layers):
        sink = layers.get("io.write_table", {})
        return {"engine.failing_ratio": (sink.get("shuffle_records", 0)
                                         / self.rows)}


# -- dedup corpus (traced with payload_udf) ------------------------------


class DedupCorpus(Workload):
    """Dedup and text operators over a seeded corpus with exact, case
    and one-word-edit near duplicates; traced with payload_udf. The
    query shapes (the duplicated ``docs2`` view, the jaccard cap) are the
    repo's bench leaves, so the shipped DuckDB oracles apply unchanged."""
    DOCS = 2_000

    def setup(self):
        gen.corpus_frame(self.spark, self.DOCS, self.seed, 2 * self.cpus) \
            .write.parquet(self.path("documents"))

    def reference(self):
        self.expected = oracle.corpus(self.con,
                                      self.path("documents", "*.parquet"))

    def iteration(self, i, tracer=None):
        import __spark_entry__ as E
        from validify_spark.pipeline import (
            decontaminate, duplicate_clusters, exact_duplicates,
            jaccard_pairs, minhash_lsh_pairs, quality_score, redact_pii,
            simhash_pairs, token_stats)
        spark = self.spark
        spark.read.parquet(self.path("documents")) \
            .createOrReplaceTempView("documents")
        docs = spark.table("documents")
        docs2 = spark.sql(E._DOCS2_SQL)
        res = {}

        def agg(df, select):
            df.createOrReplaceTempView("perfbench_result")
            row = spark.sql(f"SELECT {select} FROM perfbench_result") \
                .collect()[0]
            return tuple(float(x or 0) for x in row)

        _switch(tracer, "dedup.exact")
        res["exact"] = agg(exact_duplicates(docs2), oracle.EXACT_AGG)
        _switch(tracer, "dedup.jaccard")
        # materialized once: the pairs feed both their check and the
        # clustering, which would otherwise recompute them
        pairs = jaccard_pairs(docs2, n=3, threshold=0.8, max_df=1000) \
            .localCheckpoint(eager=True)
        res["jaccard"] = agg(pairs, oracle.PAIRS_AGG)
        _switch(tracer, "dedup.minhash_lsh")
        res["lsh_pairs"] = {(r[0], r[1]) for r in minhash_lsh_pairs(
            docs2, n=3, num_perm=16, bands=4, threshold=0.8)
            .select("id_a", "id_b").collect()}
        _switch(tracer, "dedup.simhash")
        res["simhash"] = agg(simhash_pairs(docs2, max_hamming=3),
                             oracle.PAIRS_AGG)
        _switch(tracer, "dedup.clusters")
        res["clusters"] = agg(duplicate_clusters(pairs),
                              oracle.CLUSTERS_AGG)
        _switch(tracer, "text.token_stats")
        stats = token_stats(docs).select(
            F.lit("tokens").alias("family"), "doc_id",
            F.col("n_chars").cast("long").alias("m1"),
            F.col("n_tokens").cast("long").alias("m2"),
            F.col("n_distinct_tokens").cast("long").alias("m3"))
        dec = decontaminate(docs, docs.filter(F.col("doc_id") % 17 == 3),
                            n=5).select(
            F.lit("decontam").alias("family"), "doc_id",
            F.col("n_matched").cast("long").alias("m1"),
            F.col("n_shingles").cast("long").alias("m2"),
            F.col("contamination_ppm").alias("m3"))
        res["token_stats"] = agg(stats.unionByName(dec), oracle.TOKENS_AGG)
        _switch(tracer, "text.quality")
        res["quality"] = agg(quality_score(docs), oracle.QUALITY_AGG)
        _switch(tracer, "text.redact_pii")
        res["redact_pii"] = agg(redact_pii(spark.sql(E._PII_DOCS_SQL)),
                                oracle.REDACT_AGG)
        _switch(tracer, None)
        pairs.unpersist()
        return res

    def check(self, res):
        exp = self.expected
        bad = []
        for key in ("exact", "jaccard", "simhash", "clusters",
                    "token_stats", "quality", "redact_pii"):
            bad += _close(key, res[key], exp[key])
        # LSH verifies candidates with the exact Jaccard, so it may miss
        # pairs but never invent one
        extra = res["lsh_pairs"] - exp["jaccard_pairs"]
        bad += _diff("minhash pairs outside the exact set", len(extra), 0)
        recall = (len(res["lsh_pairs"] & exp["jaccard_pairs"])
                  / max(len(exp["jaccard_pairs"]), 1))
        if recall < 0.9:
            bad.append(f"minhash recall {recall:.3f} < 0.9")
        return bad


# -- streaming twins (traced with audited_job) ---------------------------


class StreamTwins:
    """The streaming twins over the audited job's turns, read with
    ``readStream`` a few files per trigger until ``availableNow``
    drains. Each file holds whole conversations, so the stateful
    results equal the batch checks and the same oracle applies.

    ``stream_ordering_violations`` is not run: it raises ArrowInvalid on
    the generator's year-2600 timestamps (outside pandas' nanosecond
    range), which the batch ``ordering_violations`` handles."""
    FILES_PER_TRIGGER = 2

    def __init__(self, job: AuditedJob):
        self.job = job
        self.spark = job.spark

    def run(self, tracer=None):
        from validify_spark.data import standard_turns_ruleset
        from validify_spark.engine import ValidationEngine
        from validify_spark.streaming import (stream_uniqueness_violations,
                                              stream_violations)
        eng = ValidationEngine(standard_turns_ruleset(gen.RUN_TS),
                               key_cols=["conv_id", "turn_idx"],
                               run_ts=gen.RUN_TS)
        ops = (("stream.violations", "violations",
                lambda s: stream_violations(eng, s)),
               ("stream.uniqueness", "uniqueness",
                lambda s: stream_uniqueness_violations(
                    s, ["conv_id", "turn_idx"])))
        turns = self.job.path("turns")
        schema = self.spark.read.parquet(turns).schema
        out = self.job.out_dir("stream")
        res = {"out": out, "batch_s": [], "state_rows": 0}
        for layer, name, op in ops:
            _switch(tracer, layer)
            src = (self.spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", self.FILES_PER_TRIGGER)
                   .parquet(turns))
            q = (op(src).writeStream.format("parquet")
                 .option("path", os.path.join(out, name))
                 .option("checkpointLocation",
                         os.path.join(out, "_ckpt", name))
                 .outputMode("append").trigger(availableNow=True).start())
            if tracer is not None:
                tracer.note_stream(q, layer)
            q.awaitTermination()
            for p in q.recentProgress:
                if p["numInputRows"]:
                    res["batch_s"].append(
                        p["durationMs"]["triggerExecution"] / 1000)
            for op_state in q.lastProgress["stateOperators"]:
                res["state_rows"] += op_state["numRowsTotal"]
        _switch(tracer, None)
        return res

    def check(self, res):
        exp, out, con = self.job.expected, res["out"], self.job.con
        bad = _diff("stream violations by code", _code_counts(
            con, os.path.join(out, "violations", "*.parquet")),
            exp["violations"])
        got = con.execute(f"""
          SELECT count(*), coalesce(sum(c), 0) FROM (
            SELECT max(dup_count) AS c
            FROM read_parquet('{os.path.join(out, "uniqueness", "*.parquet")}')
            GROUP BY conv_id, turn_idx)""").fetchone()
        bad += _diff("stream duplicate keys", tuple(got),
                     (exp["dup_keys"], exp["dup_rows"]))
        shutil.rmtree(out, ignore_errors=True)
        return bad


WORKLOADS = {w.name: w for w in (AuditedJob, PayloadUdf)}
