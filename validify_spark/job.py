"""spark-submit entrypoint (north_rule: "driven by spark-submit
--py-files on multi-executor clusters").

Usage (cluster):
    zip -r validify_spark.zip validify_spark
    spark-submit --py-files validify_spark.zip \
        --master yarn --num-executors 1000 \
        validify_spark/job.py \
        --input catalog.db.turns --out s3://bucket/validify_out \
        --run-id nightly-2026-08-16 --buckets 4096 --checks all

Local sandbox:
    spark-submit validify_spark/job.py \
        --input /tmp/turns_parquet --out /tmp/validify_out \
        --gen-rows 100000

The job validates the transcript table with the standard ruleset in
resumable partition groups (per-partition lineage + metrics to the
audit table), then runs the distributed-only checks, printing a JSON
summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# self-locate when run as a bare script (spark-submit without
# --py-files from the repo checkout); harmless under --py-files
_repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _repo_root not in sys.path:
    sys.path.insert(0, _repo_root)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="validify_spark batch job")
    p.add_argument("--input", help="turns table: Iceberg id or parquet "
                                   "path (omit with --gen-rows)")
    p.add_argument("--out", required=True, help="output/audit directory")
    p.add_argument("--run-id", default="run1")
    p.add_argument("--buckets", type=int, default=64,
                   help="resumable partition groups")
    p.add_argument("--conv-meta", default=None,
                   help="parent table for referential check")
    p.add_argument("--checks", default="all",
                   choices=["none", "all"],
                   help="run distributed-only checks after validation")
    p.add_argument("--conv-checks", action="store_true",
                   help="also evaluate the standard whole-conversation "
                        "rules per partition group (adds "
                        "n_conv_violations to the audit rows)")
    p.add_argument("--gen-rows", type=int, default=None,
                   help="generate a synthetic turns table instead of "
                        "--input (smoke/bench)")
    p.add_argument("--run-ts", default=None,
                   help="pinned run timestamp (ISO); default: now UTC")
    args = p.parse_args(argv)

    import datetime as dt

    from pyspark.sql import SparkSession

    from validify_spark.checks import (
        categorical_histogram, drift_report, ordering_violations,
        referential_orphans, stats_profile, uniqueness_violations,
    )
    from validify_spark.data import (generate_turns,
                                     standard_conversation_rules,
                                     standard_turns_ruleset)
    from validify_spark.engine import ValidationEngine
    from validify_spark.io import AuditedValidationRun
    from validify_spark.io.sources import read_table

    # spark-submit provides master/executors via CLI/conf — build on
    # whatever session the cluster gives us
    spark = SparkSession.builder.appName("validify-spark-job") \
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    run_ts = (dt.datetime.fromisoformat(args.run_ts) if args.run_ts
              else None)
    if args.gen_rows:
        # materialize first: validating the generator expression tree
        # directly makes filter pushdown substitute it into every rule
        # predicate — the fused method then exceeds Janino's 64 KB limit
        # and whole-stage codegen falls back to interpreted eval
        gen_path = f"{args.out}/input_turns_{args.gen_rows}"
        generate_turns(spark, args.gen_rows, seed=42) \
            .write.mode("overwrite").parquet(gen_path)
        turns = spark.read.parquet(gen_path)
    elif args.input:
        turns = read_table(spark, args.input)
    else:
        p.error("need --input or --gen-rows")

    eng = ValidationEngine(standard_turns_ruleset(run_ts),
                           key_cols=["conv_id", "turn_idx"],
                           run_ts=run_ts)
    conv_rules = (standard_conversation_rules() if args.conv_checks
                  else None)
    run = AuditedValidationRun(eng, args.out, run_id=args.run_id,
                               n_buckets=args.buckets,
                               conv_agg_rules=conv_rules)
    done = run.run(turns)

    # totals from the markers, one per completed group: a batch re-run
    # after a crash between its audit append and its markers leaves two
    # audit rows for a group but still one marker
    markers = run.completed_markers()
    summary = {
        "run_id": args.run_id,
        "partitions_validated_this_run": len(done),
        "partitions_total": len(markers),
        "rows": sum(m["n_rows"] for m in markers),
        "violations": sum(m["n_violations"] for m in markers),
        "groups_passed": sum(bool(m["passed"]) for m in markers),
        "groups": len(markers),
    }
    if args.conv_checks:
        summary["conv_violations"] = sum(
            m.get("n_conv_violations", 0) for m in markers)

    if args.checks == "all":
        summary["dup_keys"] = uniqueness_violations(
            turns, ["conv_id", "turn_idx"]).count()
        summary["ordering_violations"] = ordering_violations(
            turns).count()
        prof = stats_profile(turns, ["role", "tool", "text"])
        summary["stats_profile_rows"] = prof.count()
        h1 = categorical_histogram(turns, "role")
        summary["role_self_psi"] = drift_report(h1, h1) \
            .collect()[0]["psi"]
        if args.conv_meta:
            meta = read_table(spark, args.conv_meta)
            summary["orphan_conv_ids"] = referential_orphans(
                turns, "conv_id", meta).count()

    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
