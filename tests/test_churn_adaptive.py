"""Churn-adaptive bucket growth in the IVM maintainers (r11 verdict #1).

The merger's byte-rule auto mode is pinned by test_rebucket_chaos; these
tests pin the NEW churn rule end-to-end in the three maintainer shapes:

* ``BucketedViewMaintainer(n_buckets="auto")`` and
  ``JoinViewMaintainer(n_buckets="auto")`` — manifest state, relayout
  via ``ManifestState.replace_all`` (one os.replace);
* ``DeleteAwareMerger`` churn trigger (bytes under target, churn above).

Each pins: growth fires from key churn alone, the relaid state is
row-identical, the layout + keys-EWMA survive a restart, and every
relayout crash window converges.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from pypgcdc_spark.operators.ivm import KEY_SCHEMA, BucketedViewMaintainer


def _event_batch(spark, batch_no: int, n_keys: int = 100):
    """events-shaped batch: n_keys distinct scattered user_ids."""
    return spark.range(n_keys).select(
        (F.lit(batch_no) * 1000 + F.col("id")).alias("event_id"),
        ((F.col("id") * 7919 + batch_no * 13) % 100000).alias("user_id"),
        F.when(F.col("id") % 3 == 0, "purchase")
        .when(F.col("id") % 3 == 1, "view")
        .otherwise("click")
        .alias("event_type"),
        (F.col("id") % 50 + batch_no).cast("double").alias("value"),
    )


def _state_rows(m):
    return sorted(
        (r.user_id, r.lsn, r.event_type, r.cents, bool(r.is_deleted))
        for r in m.state.read("bucket INT, " + KEY_SCHEMA).collect()
    )


def test_ivm_auto_grows_on_churn_and_stays_equivalent(spark, tmp_path):
    """Churn alone (bytes way under target) must grow the bucket count,
    and the relaid state + maintained aggregate must match a fixed-bucket
    run batch-for-batch."""
    auto = BucketedViewMaintainer(spark, str(tmp_path / "a"), n_buckets="auto")
    auto.min_churn_bucket_bytes = 64  # let a tiny test state exercise growth
    fixed = BucketedViewMaintainer(spark, str(tmp_path / "f"), n_buckets=16)
    for i in range(3):
        b = _event_batch(spark, i)
        auto.apply_batch(b, i)
        fixed.apply_batch(b, i)
    assert auto.rebucket_events, "churn never triggered a relayout"
    old_n, new_n = auto.rebucket_events[0]
    assert new_n > old_n == 16
    # 100 keys/batch EWMA -> demand next_pow2(800) = 1024, byte-capped.
    assert new_n >= 256
    assert _state_rows(auto) == _state_rows(fixed)
    assert sorted(map(tuple, auto._agg_rows)) == sorted(map(tuple, fixed._agg_rows))
    # Layout + EWMA persisted: a restarted maintainer resumes both.
    re = BucketedViewMaintainer(spark, str(tmp_path / "a"), n_buckets="auto")
    assert re.n_buckets == auto.n_buckets
    assert re._churn.value == pytest.approx(auto._churn.value)
    # And it keeps maintaining correctly at the new layout.
    b3 = _event_batch(spark, 3)
    re.apply_batch(b3, 3)
    fixed.apply_batch(b3, 3)
    assert _state_rows(re) == _state_rows(fixed)



def _crash_next_relayout(m, point):
    """Make ``m``'s next relayout (``ManifestState.replace_all``) die at
    ``point``:

    * ``pre_stage`` — before any relaid row is written;
    * ``pre_marker`` — relaid rows staged, manifest untouched;
    * ``pre_swap`` — new manifest written to its temp file, the
      ``os.replace`` onto the live manifest fails;
    * ``mid_swap`` — manifest swapped, the maintainer dies before it
      records the new layout in memory;
    * ``pre_gc`` — manifest swapped, the sweep of the old generation dies.
    """
    st = m.state
    real_replace_all = st.replace_all

    def boom(*_a, **_k):
        raise RuntimeError("injected relayout crash")

    def crashing_replace_all(*a, **k):
        if point == "pre_stage":
            st.stage = boom
        elif point == "pre_marker":
            st.finalize = boom
        elif point == "pre_gc":
            st._sweep = boom
        real_os_replace = os.replace

        def os_replace(src, dst, *ra, **rk):
            if point == "pre_swap" and dst == st.manifest_path:
                boom()
            return real_os_replace(src, dst, *ra, **rk)

        os.replace = os_replace
        try:
            real_replace_all(*a, **k)
        finally:
            os.replace = real_os_replace
        if point == "mid_swap":
            boom()

    st.replace_all = crashing_replace_all


@pytest.mark.parametrize(
    "point", ["pre_stage", "pre_marker", "pre_swap", "mid_swap", "pre_gc"]
)
def test_ivm_relayout_crash_converges(spark, tmp_path, point):
    """A kill at ANY relayout point converges on restart to exactly one
    committed generation holding the full state: the old layout if the
    manifest swap had not happened, the new one if it had.  The batch
    that triggered the relayout stays committed either way, and the
    restarted maintainer keeps matching a no-crash run."""
    ctl = BucketedViewMaintainer(spark, str(tmp_path / "ctl"), n_buckets="auto")
    ctl.min_churn_bucket_bytes = 64  # let a tiny state grow from churn
    want = []
    for i in range(3):
        ctl.apply_batch(_event_batch(spark, i), i)
        want.append((_state_rows(ctl), sorted(map(tuple, ctl._agg_rows))))
    assert ctl.rebucket_events, "churn never triggered a relayout"
    old_n, new_n = ctl.rebucket_events[0]

    work = str(tmp_path / f"c_{point}")
    m = BucketedViewMaintainer(spark, work, n_buckets="auto")
    m.min_churn_bucket_bytes = 64
    assert m.n_buckets == old_n
    _crash_next_relayout(m, point)
    with pytest.raises(RuntimeError, match="injected relayout crash"):
        m.apply_batch(_event_batch(spark, 0), 0)

    m2 = BucketedViewMaintainer(spark, work, n_buckets="auto")
    m2.min_churn_bucket_bytes = 64
    swapped = point in ("mid_swap", "pre_gc")
    assert m2.n_buckets == (new_n if swapped else old_n)
    assert all(int(k) < m2.n_buckets for k in m2.state.load()["partitions"])
    # The batch's state write committed before the relayout; the crash
    # must never lose it, whichever generation is live.
    assert m2.state.already_applied(0)
    assert (_state_rows(m2), sorted(map(tuple, m2._agg_rows))) == want[0]
    # Replay of batch 0 is a no-op per the LSN guard; later batches land
    # normally (relaying first if the crash kept the old layout).
    m2.apply_batch(_event_batch(spark, 0), 0)
    assert (_state_rows(m2), sorted(map(tuple, m2._agg_rows))) == want[0]
    for i in (1, 2):
        m2.apply_batch(_event_batch(spark, i), i)
        assert (_state_rows(m2), sorted(map(tuple, m2._agg_rows))) == want[i]
    assert m2.n_buckets > old_n

def test_manifest_replace_all(spark, tmp_path):
    """replace_all: one atomic manifest swap moves every row to a new
    partition assignment; dropped partitions vanish, rows are identical,
    live_bytes tracks only the live generation."""
    from pypgcdc_spark.operators.atomic_state import ManifestState

    st = ManifestState(spark, str(tmp_path / "ms"), ["bucket"])
    df = spark.range(100).select(
        (F.col("id") % 4).cast("int").alias("bucket"), F.col("id").alias("k")
    )
    st.commit(df, [(b,) for b in range(4)], batch_id=0, run_id="r")
    before = sorted(r.k for r in st.read("bucket INT, k LONG").collect())
    assert st.live_bytes() > 0
    relaid = st.read("bucket INT, k LONG").withColumn(
        "bucket", (F.col("k") % 16).cast("int")
    )
    st.replace_all(relaid, batch_id=1, run_id="r", extra={"layout": {"n_buckets": 16}})
    m = st.load()
    assert set(m["partitions"]) == {str(b) for b in range(16)}
    assert m["extra"]["layout"]["n_buckets"] == 16
    after = sorted(r.k for r in st.read("bucket INT, k LONG").collect())
    assert after == before
    # Emptied-partition path: replace_all into FEWER partitions drops the
    # stale manifest entries (no resurrection).
    st.replace_all(
        st.read("bucket INT, k LONG").withColumn("bucket", F.lit(0)),
        batch_id=2,
        run_id="r",
    )
    assert set(st.load()["partitions"]) == {"0"}
    assert sorted(r.k for r in st.read("bucket INT, k LONG").collect()) == before


def test_join_ivm_auto_equivalent(spark, tmp_path):
    """JoinViewMaintainer auto mode: same chunked change log, same final
    aggregate as the fixed-bucket run, with at least one manifest-committed
    relayout and a restart that resumes the layout."""
    from pypgcdc_spark.operators.join_ivm import (
        A_SCHEMA,
        JoinViewMaintainer,
        chunked_join_log,
    )

    log_dir = chunked_join_log(spark, "/root/testdata/sf0.001")
    chunks = sorted(
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if f.endswith(".parquet")
    )
    auto = JoinViewMaintainer(spark, str(tmp_path / "a"), n_buckets="auto")
    auto.min_churn_bucket_bytes = 64
    fixed = JoinViewMaintainer(spark, str(tmp_path / "f"))
    for i, c in enumerate(chunks):
        df = spark.read.schema(A_SCHEMA).parquet(c)
        auto.apply_batch(df, i)
        fixed.apply_batch(df, i)
    assert auto.rebucket_events, "churn never triggered a manifest relayout"
    a = sorted(map(tuple, (tuple(r) for r in auto.aggregate().collect())))
    f = sorted(map(tuple, (tuple(r) for r in fixed.aggregate().collect())))
    assert a == f
    re = JoinViewMaintainer(spark, str(tmp_path / "a"), n_buckets="auto")
    assert re.n_buckets == auto.n_buckets
    assert re._churn.value == pytest.approx(auto._churn.value)


def test_merger_rebuckets_on_churn_alone(spark, tmp_path):
    """DeleteAwareMerger auto mode: state bytes far below the byte target,
    but high per-batch key churn — the merger must rebucket anyway and the
    layout sidecar must carry the keys EWMA across restarts."""
    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.cdc.apply import DeleteAwareMerger
    from pypgcdc_spark.cdc.registry import SchemaRegistry
    from pypgcdc_spark.sources.replay import scan_frames
    from pypgcdc_spark.testing import write_upsert_workload

    log = str(tmp_path / "m.log")
    write_upsert_workload(log, n_keys=400, n_updates=0)
    reg = SchemaRegistry()
    for fr in scan_frames(log):
        if fr.payload[:1] == b"R":
            reg.register_relation(pg.decode_relation(fr.payload), lsn=fr.lsn)
    schema = reg.get(16385)

    from pypgcdc_spark.api import PgCdcEngine

    engine = PgCdcEngine(spark)
    env = engine.snapshot(log)

    target = str(tmp_path / "state")
    m = DeleteAwareMerger(spark, schema, target, n_buckets="auto")
    m.min_churn_bucket_bytes = 16
    m(env, 0)
    # 400 distinct keys -> churn demand next_pow2(3200) = 4096, capped by
    # tiny state bytes, but well past MIN_BUCKETS=8.
    assert m.rebucket_events and m.n_buckets > 8
    with open(os.path.join(target, "_nbuckets.json")) as f:
        meta = json.load(f)
    assert meta["n_buckets"] == m.n_buckets
    assert meta["keys_ewma"] == pytest.approx(400, rel=0.05)
    got = sorted(str(r.id) for r in spark.read.parquet(target).collect())
    assert len(got) == 400
