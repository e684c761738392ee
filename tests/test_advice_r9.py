"""Regression tests for the round-8 ADVICE findings.

1. (high) Bucketed ``DeleteAwareMerger``: a batch that deletes EVERY
   remaining key of a touched bucket leaves zero rows for that
   ``_bucket``, and dynamic partition overwrite only replaces partitions
   present in the written data — the old partition files survived, so
   the deleted keys resurrected on the next read (cdc/apply.py).
2. (medium) Bucketed TRUNCATE: a 'T' envelope row has no key, hashing
   into ONE arbitrary bucket — every other bucket silently kept its
   pre-truncate rows, diverging from the unbucketed path's working
   truncate.
3. (low) The foreachBatch replay guard was keyed only by a monotone
   batch id: a fresh-checkpoint restart (ids reset to 0) against an
   existing state dir silently skipped every batch until the new ids
   passed the old high-water (now ``ManifestState.already_applied``).
4. (low) ``_log_identity`` cached ``_log_id`` across a log-recreation
   rewind, stamping new-generation acks with the previous generation's
   identity (sources/pgcdc.py).

Plus the round-9 verdict task 4 pin: auto-sized buckets rebucket on
threshold crossing with bit-identical state.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from pypgcdc_spark.cdc import pgoutput as pg
from pypgcdc_spark.cdc.apply import DeleteAwareMerger
from pypgcdc_spark.cdc.registry import SchemaRegistry
from pypgcdc_spark.sources.pgcdc import PgCdcStreamReader
from pypgcdc_spark.sources.replay import ReplayLogWriter, scan_frames
from pypgcdc_spark.testing import (
    INTEGRATION_COLS,
    INTEGRATION_RELID,
    WorkloadWriter,
)


@pytest.fixture()
def engine(spark):
    from pypgcdc_spark.api import PgCdcEngine

    return PgCdcEngine(spark)


def _full_row(k, v):
    return [str(k), f'{{"data": {v}}}', f"{v}.50", "2024-01-01 00:00:00+00", f"txt_{v}"]


def _schema_of(log):
    reg = SchemaRegistry()
    for fr in scan_frames(log):
        if fr.payload[:1] == b"R":
            reg.register_relation(pg.decode_relation(fr.payload), lsn=fr.lsn)
    return reg.get(INTEGRATION_RELID)


def _state_ids(spark, target):
    try:
        return sorted(int(r.id) for r in spark.read.parquet(target).collect())
    except Exception:
        return []  # all partitions deleted -> empty state


# -- 1. deleting a bucket's every key must not resurrect ------------------


def test_bucketed_merger_deletes_empty_bucket(engine, spark, tmp_path):
    n_buckets = 4
    log = str(tmp_path / "del.log")
    w = WorkloadWriter(log)
    w.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
    w.tx([pg.encode_insert(INTEGRATION_RELID, _full_row(k, k)) for k in range(16)])
    w.close()
    schema = _schema_of(log)
    target = str(tmp_path / "state")
    merger = DeleteAwareMerger(spark, schema, target, n_buckets=n_buckets)
    merger(engine.snapshot(log), 0)
    assert _state_ids(spark, target) == list(range(16))

    # Keys sharing one bucket — the same hash the merger stores.
    by_bucket = {}
    for r in (
        spark.range(16)
        .select(
            F.col("id"),
            F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(n_buckets))
            .cast("int")
            .alias("b"),
        )
        .collect()
    ):
        by_bucket.setdefault(r.b, []).append(r.id)
    victim_bucket, victims = max(by_bucket.items(), key=lambda kv: len(kv[1]))
    assert len(victims) >= 2

    log2 = str(tmp_path / "del2.log")
    w2 = WorkloadWriter(log2, start_lsn=10_000)
    w2.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
    w2.tx(
        [
            pg.encode_delete(INTEGRATION_RELID, [str(k), None, None, None, None])
            for k in victims
        ]
    )
    w2.close()
    merger(engine.snapshot(log2), 1)

    survivors = sorted(set(range(16)) - set(victims))
    assert _state_ids(spark, target) == survivors, (
        "deleted keys resurrected from the stale bucket partition"
    )
    # The emptied bucket's partition directory is gone from disk.
    assert not os.path.isdir(os.path.join(target, f"_bucket={victim_bucket}"))


# -- 2. truncate must clear EVERY bucket -----------------------------------


def test_bucketed_merger_truncate_clears_all_buckets(engine, spark, tmp_path):
    log = str(tmp_path / "tr.log")
    w = WorkloadWriter(log)
    w.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
    w.tx([pg.encode_insert(INTEGRATION_RELID, _full_row(k, k)) for k in range(20)])
    w.close()
    schema = _schema_of(log)
    target = str(tmp_path / "state")
    merger = DeleteAwareMerger(spark, schema, target, n_buckets=4)
    merger(engine.snapshot(log), 0)
    assert len(_state_ids(spark, target)) == 20

    # Batch 2: TRUNCATE, then two fresh inserts in a later tx.
    log2 = str(tmp_path / "tr2.log")
    w2 = WorkloadWriter(log2, start_lsn=10_000)
    w2.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
    w2.tx([pg.encode_truncate([INTEGRATION_RELID])])
    w2.tx(
        [
            pg.encode_insert(INTEGRATION_RELID, _full_row(100, 100)),
            pg.encode_insert(INTEGRATION_RELID, _full_row(101, 101)),
        ]
    )
    w2.close()
    merger(engine.snapshot(log2), 1)

    assert _state_ids(spark, target) == [100, 101], (
        "buckets the 'T' row did not hash into kept pre-truncate rows"
    )


# -- 3. replay guard must be lineage-scoped ---------------------------------


def test_batch_guard_fresh_checkpoint_not_suppressed(spark, tmp_path):
    """The replay guard every maintainer uses is the manifest's batch id:
    marker-only commits (``finalize`` with nothing staged) exercise it."""
    from pypgcdc_spark.operators.atomic_state import ManifestState

    st = ManifestState(spark, str(tmp_path), ["bucket"])
    mark_applied = lambda bid, run_id=None: st.finalize(None, [], bid, run_id)  # noqa: E731
    mark_applied(7, run_id="ckpt-A")
    # Same lineage: replay of batch 7 (and anything below) is suppressed.
    assert st.already_applied(7, run_id="ckpt-A")
    assert st.already_applied(0, run_id="ckpt-A")
    assert not st.already_applied(8, run_id="ckpt-A")
    # FRESH checkpoint lineage: batch ids restart at 0 and must apply.
    assert not st.already_applied(0, run_id="ckpt-B")
    mark_applied(0, run_id="ckpt-B")
    assert st.already_applied(0, run_id="ckpt-B")
    # Callers without a run_id keep the plain high-water contract.
    mark_applied(5)
    assert st.already_applied(5)
    assert not st.already_applied(6)


def test_maintainer_fresh_checkpoint_applies(spark, tmp_path):
    """End-to-end on a maintainer: after a run under guard A committed
    batches 0..2, a fresh-lineage run (guard B) delivering batch 0 must
    be APPLIED, not skipped (the r8 bug dropped it silently) — on top of
    the aggregate the restarted maintainer restored from disk."""
    from pypgcdc_spark.operators.ivm import BucketedViewMaintainer

    work = str(tmp_path / "ivm")
    ev = lambda eid, uid, typ, val: (eid, uid, typ, val)  # noqa: E731
    schema = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"
    m1 = BucketedViewMaintainer(spark, work, n_buckets=2, guard_id="ckpt-A")
    for bid in range(3):
        df = spark.createDataFrame([ev(bid + 1, bid, "click", 1.0)], schema)
        m1.apply_batch(df, bid)
    assert m1.aggregate().agg(F.sum("n_keys")).collect()[0][0] == 3

    m2 = BucketedViewMaintainer(spark, work, n_buckets=2, guard_id="ckpt-B")
    df = spark.createDataFrame([ev(100, 50, "click", 2.0)], schema)
    m2.apply_batch(df, 0)  # batch id RESET — must not be treated as replay
    assert m2.aggregate().agg(F.sum("n_keys")).collect()[0][0] == 4


# -- 4. log-recreation rewind must refresh the ack generation stamp --------


def test_ack_stamp_refreshes_after_log_recreation(tmp_path):
    from datetime import datetime, timezone

    log = str(tmp_path / "gen.log")
    ts1 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    ts2 = datetime(2024, 6, 1, tzinfo=timezone.utc)

    def write_gen(ts, lsn0):
        w = ReplayLogWriter(log)
        w.append(
            lsn0,
            pg.encode_relation(
                INTEGRATION_RELID, "public", "integration", INTEGRATION_COLS
            ),
            send_time=ts,
        )
        w.append(lsn0 + 10, pg.encode_begin(lsn0 + 20, ts, 101), send_time=ts)
        w.append(
            lsn0 + 15,
            pg.encode_insert(INTEGRATION_RELID, _full_row(1, 1)),
            send_time=ts,
        )
        w.append(lsn0 + 20, pg.encode_commit(lsn0 + 20, lsn0 + 20, ts), send_time=ts)
        w.close()

    write_gen(ts1, 100)
    r = PgCdcStreamReader({"path": log})
    o1 = r.latestOffset()
    r.commit(o1)
    gen1 = json.load(open(log + ".ack"))["log_id"]

    # Recreate the log: same path, NEW generation (different send_time →
    # different first-frame identity), shorter than the old one is fine.
    os.remove(log)
    write_gen(ts2, 100)
    o2 = r.latestOffset()  # triggers the rewind branch (size/fp mismatch)
    r._acked_pos = 0  # a real new generation starts with a fresh reader ack state
    r.commit(o2)
    gen2 = json.load(open(log + ".ack"))["log_id"]
    with open(log, "rb") as f:
        first_hdr = f.read(20).hex()
    assert gen2 == first_hdr, "ack stamped with a stale generation id"
    assert gen1 != gen2


# -- verdict task 4: auto-sized buckets + rebucket equivalence --------------


def test_bucketed_merger_auto_rebucket_equivalence(engine, spark, tmp_path):
    log = str(tmp_path / "auto.log")
    w = WorkloadWriter(log)
    w.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
    w.tx([pg.encode_insert(INTEGRATION_RELID, _full_row(k, k)) for k in range(300)])
    w.close()
    schema = _schema_of(log)
    target = str(tmp_path / "state")
    # Tiny per-bucket target (1 KiB) forces a growth crossing on batch 0.
    merger = DeleteAwareMerger(
        spark, schema, target, n_buckets="auto", target_bucket_bytes=1024
    )
    assert merger.n_buckets == DeleteAwareMerger.MIN_BUCKETS
    merger(engine.snapshot(log), 0)
    n_after = merger.n_buckets
    assert n_after > DeleteAwareMerger.MIN_BUCKETS
    assert n_after & (n_after - 1) == 0  # power of two
    # Meta sidecar persists the layout for a restarted stream.
    meta = json.load(open(os.path.join(target, "_nbuckets.json")))
    assert meta["n_buckets"] == n_after

    state = spark.read.parquet(target)
    assert sorted(int(r.id) for r in state.collect()) == list(range(300))
    # Every row's stored bucket matches the NEW layout's hash of the
    # stored wire-key bytes (the rebucket recomputed from _kraw).
    mismatched = state.filter(
        F.col("_bucket")
        != F.pmod(F.xxhash64(F.col("_kraw")), F.lit(n_after)).cast("int")
    ).count()
    assert mismatched == 0

    # A restarted merger adopts the persisted layout and keeps merging.
    m2 = DeleteAwareMerger(
        spark, schema, target, n_buckets="auto", target_bucket_bytes=1024
    )
    assert m2.n_buckets == n_after
    log2 = str(tmp_path / "auto2.log")
    w2 = WorkloadWriter(log2, start_lsn=100_000)
    w2.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
    w2.tx(
        [
            pg.encode_delete(INTEGRATION_RELID, ["5", None, None, None, None]),
            pg.encode_insert(INTEGRATION_RELID, _full_row(1000, 1000)),
        ]
    )
    w2.close()
    m2(engine.snapshot(log2), 1)
    expect = sorted(set(range(300)) - {5} | {1000})
    assert _state_ids(spark, target) == expect
