"""Spark task-level chaos harness for the parquet-state maintainers.

Runs in its own process with ``master=local[4,3]`` (task maxFailures=3 —
the shared test session's local[N] would fail the job on the FIRST task
error) and drives all three maintainers (MinHash signature index,
bucketed IVM, join IVM) with a chaos UDF woven into the micro-batch
lineage: every task fails its attempt 0 and succeeds on retry, so every
stage that evaluates the batch — the isEmpty probe, the touched-bucket
collect, the reconciliation aggregation, the localCheckpoint fill —
executes under partial task re-runs, including recomputation of Python
UDF outputs by a different attempt.  Each maintainer's final state must
be IDENTICAL to a clean (no-chaos) control run.

Prints one JSON verdict line; ``tests/test_fault_injection.py`` asserts
on it.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def chaos_col(colname: str):
    """String-identity UDF that fails every task's first attempt."""
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    def fail_once(s):
        tc = TaskContext.get()
        if tc is not None and tc.attemptNumber() == 0:
            raise RuntimeError("chaos: injected failure on task attempt 0")
        return s

    return F.udf(fail_once, "string")(F.col(colname)).alias(colname)


def main() -> int:
    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from pypgcdc_spark.session import configure

    spark = configure(
        SparkSession.builder.master("local[4,3]")
        .appName("chaos-harness")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.locality.wait", "0s")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from pypgcdc_spark.operators.cdc_dedup import SignatureIndexMaintainer
    from pypgcdc_spark.operators.ivm import KEY_SCHEMA, BucketedViewMaintainer
    from pypgcdc_spark.operators.join_ivm import JoinViewMaintainer

    work = tempfile.mkdtemp(prefix="chaos_")
    verdict = {}

    # ---- 1. MinHash signature index -----------------------------------
    sig_rows = [
        (10 + i, "I", i, f"alpha beta gamma doc{i} delta epsilon") for i in range(12)
    ] + [(40, "U", 3, "three revised text body here"), (50, "D", 7, None)]
    sig_schema = "lsn LONG, op STRING, doc_id LONG, text STRING"

    def run_sig(tag: str, with_chaos: bool):
        m = SignatureIndexMaintainer(spark, f"{work}/sig_{tag}", n_buckets=4)
        batch = spark.createDataFrame(sig_rows, sig_schema)
        if with_chaos:
            batch = batch.select("lsn", chaos_col("op"), "doc_id", "text")
        m.apply_batch(batch, 0)
        return sorted(
            (r.doc_id, r.seed, r.mh) for r in m.signatures().collect()
        )

    clean = run_sig("clean", False)
    chaoss = run_sig("chaos", True)
    verdict["sig_equal"] = clean == chaoss and len(clean) > 0

    # ---- 2. Bucketed IVM ------------------------------------------------
    ivm_schema = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"
    b0 = [(i, i % 10, "purchase", float(i)) for i in range(1, 60)]
    b1 = [(100 + i, i % 7, "refund", 5.0 * i) for i in range(1, 20)]

    def run_ivm(tag: str, with_chaos: bool):
        m = BucketedViewMaintainer(spark, f"{work}/ivm_{tag}", n_buckets=4)
        for i, rows in enumerate((b0, b1)):
            batch = spark.createDataFrame(rows, ivm_schema)
            if with_chaos:
                batch = batch.select("event_id", "user_id", chaos_col("event_type"), "value")
            m.apply_batch(batch, i)
        agg = sorted((r.event_type, r.n_keys, r.total_cents) for r in m.aggregate().collect())
        keys = sorted(
            (
                tuple(r)
                for r in m.state.read("bucket INT, " + KEY_SCHEMA).drop("bucket").collect()
            ),
            key=repr,
        )
        return agg, keys

    clean = run_ivm("clean", False)
    chaoss = run_ivm("chaos", True)
    verdict["ivm_equal"] = clean == chaoss and len(clean[1]) > 0

    # ---- 3. Join IVM ----------------------------------------------------
    from pypgcdc_spark.operators.join_ivm import A_SCHEMA

    ja = [
        (10 + i, "A", i % 8, 0, i % 5, ["HIGH", "LOW", "MED"][i % 3], 0)
        for i in range(20)
    ]
    jb = [(40 + i, "B", i % 8, i, 0, None, 100 * i) for i in range(25)]

    def run_join(tag: str, with_chaos: bool):
        m = JoinViewMaintainer(spark, f"{work}/join_{tag}")
        for i, rows in enumerate((ja, jb)):
            batch = spark.createDataFrame(rows, A_SCHEMA)
            if with_chaos:
                batch = batch.select(
                    "lsn", chaos_col("tbl"), "orderkey", "linenumber",
                    "custkey", "priority", "cents",
                )
            m.apply_batch(batch, i)
        agg = sorted(
            (r.priority, r.n_lines, r.total_cents) for r in m.aggregate().collect()
        )
        state = sorted(
            (tuple(r) for r in m.state.read(m.STATE_SCHEMA).drop("bucket").collect()),
            key=repr,
        )
        return agg, state

    clean = run_join("clean", False)
    chaoss = run_join("chaos", True)
    verdict["join_equal"] = clean == chaoss and len(clean[0]) > 0

    verdict["ok"] = all(verdict.values())
    print("CHAOS_VERDICT " + json.dumps(verdict))
    spark.stop()
    return 0 if verdict["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
