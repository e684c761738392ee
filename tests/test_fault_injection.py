"""Spark-side fault injection for the manifest-state maintainers.

Round-7 soak killed sockets and the consumer process; these tests kill
*tasks*: partial task re-runs inside a micro-batch (failing-once UDF
under ``local[4,3]`` retries, via ``chaos_harness.py`` in a subprocess —
the shared test session's default maxFailures would abort the job), plus
the at-least-once hazards Structured Streaming itself creates —
foreachBatch replaying a whole batch after a failure, a crash at the
commit point, a restart over an existing state dir, and out-of-order /
duplicate deliveries.  The manifest commit + tombstone + LSN-guard
discipline must make all of it idempotent, on all four maintainers
(bucketed IVM, join IVM, MinHash signature index, postings index).

The negative control (``test_out_of_order_guard_has_teeth``) blinds the
out-of-order guard and shows the same assertion then FAILS — i.e. these
tests detect a maintainer that lost its guard.
"""

import json
import subprocess
import sys

import pytest

from pypgcdc_spark.operators.cdc_dedup import (
    PostingsIndexMaintainer,
    SignatureIndexMaintainer,
)
from pypgcdc_spark.operators.ivm import KEY_SCHEMA, BucketedViewMaintainer
from pypgcdc_spark.operators.join_ivm import A_SCHEMA, JoinViewMaintainer

IVM_SCHEMA = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"


def _sig_batch(spark, rows):
    return spark.createDataFrame(rows, "lsn LONG, op STRING, doc_id LONG, text STRING")


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _sig_state(maint):
    return _rows(maint.state.read(maint._SCHEMA))


def _ivm_keys(iv):
    return _rows(iv.state.read("bucket INT, " + KEY_SCHEMA))


@pytest.mark.slow
def test_maintainers_converge_under_task_retries():
    """All three maintainers produce bit-identical state when every task
    fails its first attempt and re-runs (speculative-duplicate /
    task-retry chaos).  Runs chaos_harness.py in a subprocess so task
    retries can be enabled without touching the shared session."""
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.run(
        [sys.executable, os.path.join(here, "chaos_harness.py")],
        capture_output=True,
        text=True,
        timeout=600,
    )
    verdict_lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("CHAOS_VERDICT ")
    ]
    assert verdict_lines, f"no verdict; stderr tail: {proc.stderr[-2000:]}"
    verdict = json.loads(verdict_lines[-1].split(" ", 1)[1])
    assert verdict["ok"], verdict
    # The chaos actually fired: injected failures appear in the log.
    assert proc.stderr.count("chaos: injected failure") >= 3


def test_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: after a sink-side failure Spark
    re-runs the SAME batch.  Re-applying a batch must leave every
    maintainer's state and aggregate unchanged."""
    # Signature index.
    m = SignatureIndexMaintainer(spark, str(tmp_path / "sig"), n_buckets=2)
    b0 = _sig_batch(spark, [(10, "I", 1, "alpha beta gamma delta"), (20, "D", 2, None)])
    b1 = _sig_batch(spark, [(30, "U", 1, "epsilon zeta eta theta")])
    m.apply_batch(b0, 0)
    m.apply_batch(b1, 1)
    snap = _sig_state(m)
    m.apply_batch(b1, 1)  # replay
    assert _sig_state(m) == snap

    # Bucketed IVM.
    ivm_schema = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"
    iv = BucketedViewMaintainer(spark, str(tmp_path / "ivm"), n_buckets=2)
    ib0 = spark.createDataFrame([(1, 1, "purchase", 2.0), (2, 2, "view", 1.0)], ivm_schema)
    ib1 = spark.createDataFrame([(3, 1, "refund", 4.0)], ivm_schema)
    iv.apply_batch(ib0, 0)
    iv.apply_batch(ib1, 1)
    agg = sorted((r.event_type, r.n_keys, r.total_cents) for r in iv.aggregate().collect())
    keys = _ivm_keys(iv)
    iv.apply_batch(ib1, 1)  # replay
    assert sorted(
        (r.event_type, r.n_keys, r.total_cents) for r in iv.aggregate().collect()
    ) == agg
    assert _ivm_keys(iv) == keys

    # Join IVM.
    jm = JoinViewMaintainer(spark, str(tmp_path / "join"))
    jb0 = spark.createDataFrame(
        [(10, "A", 1, 0, 7, "HIGH", 0), (11, "B", 1, 1, 0, None, 500)], A_SCHEMA
    )
    jb1 = spark.createDataFrame([(20, "B", 1, 2, 0, None, 700)], A_SCHEMA)
    jm.apply_batch(jb0, 0)
    jm.apply_batch(jb1, 1)
    jagg = sorted((r.priority, r.n_lines, r.total_cents) for r in jm.aggregate().collect())
    jstate = sorted(
        (tuple(r) for r in jm.state.read(jm.STATE_SCHEMA).collect()), key=repr
    )
    jm.apply_batch(jb1, 1)  # replay
    assert sorted(
        (r.priority, r.n_lines, r.total_cents) for r in jm.aggregate().collect()
    ) == jagg
    assert sorted(
        (tuple(r) for r in jm.state.read(jm.STATE_SCHEMA).collect()), key=repr
    ) == jstate
    assert jagg == [("HIGH", 2, 1200)]  # both B lines joined, counted once each


# -- one crash matrix for the manifest maintainers -------------------------
#
# kind -> (make(spark, dir), batches(spark) -> [b0, b1], view(m) -> rows).
# The view is the maintained output plus the committed state rows (bucket
# dropped: a relayout moves rows between buckets, never changes them).

_MATRIX = {
    "ivm": (
        lambda spark, d: BucketedViewMaintainer(spark, d, n_buckets=2),
        lambda spark: [
            spark.createDataFrame(rows, IVM_SCHEMA)
            for rows in (
                [(1, 1, "purchase", 2.0), (2, 2, "view", 1.0)],
                [(3, 1, "refund", 4.0), (4, 3, "view", 2.0)],
            )
        ],
        lambda m: (
            _rows(m.aggregate()),
            _rows(m.state.read("bucket INT, " + KEY_SCHEMA).drop("bucket")),
        ),
    ),
    "join_ivm": (
        lambda spark, d: JoinViewMaintainer(spark, d),
        lambda spark: [
            spark.createDataFrame(
                [(10, "A", 1, 0, 7, "HIGH", 0), (11, "B", 1, 1, 0, None, 500)], A_SCHEMA
            ),
            spark.createDataFrame([(20, "B", 1, 2, 0, None, 700)], A_SCHEMA),
        ],
        lambda m: (
            _rows(m.aggregate()),
            _rows(m.state.read(m.STATE_SCHEMA).drop("bucket")),
        ),
    ),
    "signatures": (
        lambda spark, d: SignatureIndexMaintainer(spark, d, n_buckets=2),
        lambda spark: [
            _sig_batch(spark, [(10, "I", 1, "alpha beta gamma delta"), (20, "D", 2, None)]),
            _sig_batch(spark, [(30, "U", 1, "epsilon zeta eta theta"), (31, "I", 3, "a b c")]),
        ],
        lambda m: (
            _rows(m.signatures()),
            _rows(m.state.read(m._SCHEMA).drop("bucket")),
        ),
    ),
    "postings": (
        lambda spark, d: PostingsIndexMaintainer(spark, d, n_buckets=2),
        lambda spark: [
            _sig_batch(spark, [(10, "I", 1, "spark join fast"), (11, "I", 2, "slow scan")]),
            _sig_batch(spark, [(20, "U", 1, "fast fast"), (21, "D", 2, None)]),
        ],
        lambda m: (
            _rows(m.live_postings()),
            _rows(m.state.read(m._SCHEMA).drop("bucket")),
        ),
    ),
}


def _boom(*_a, **_k):
    raise RuntimeError("injected crash before manifest swap")


@pytest.mark.parametrize("kind", sorted(_MATRIX))
def test_manifest_crash_between_state_and_marker(spark, tmp_path, kind):
    """The r8 residual window, on every manifest maintainer: a crash
    AFTER the state is written but BEFORE the batch marker would re-apply
    one batch on restart and double-count an accumulating fold.  Data
    staging and marker are ONE atomic rename, so a crash anywhere inside
    apply_batch leaves the committed state untouched.

    The crash is injected at the worst spot — after the staged data files
    are fully on disk, a millisecond before the manifest swap.  A FRESH
    maintainer then starts over the same dir (driver state gone — the
    aggregate must restore from the manifest, not memory), the
    redelivered batch lands exactly once, and a replay of it is a no-op."""
    make, batches, view = _MATRIX[kind]
    b0, b1 = batches(spark)

    # Control: the no-crash run.
    ctl = make(spark, str(tmp_path / "ctl"))
    ctl.apply_batch(b0, 0)
    ctl.apply_batch(b1, 1)
    want = view(ctl)

    # Crash run: batch 1 dies between staging and the manifest swap.
    m = make(spark, str(tmp_path / "crash"))
    m.apply_batch(b0, 0)
    committed = view(m)
    m.state.finalize = _boom
    with pytest.raises(RuntimeError, match="injected crash"):
        m.apply_batch(b1, 1)

    m2 = make(spark, str(tmp_path / "crash"))
    assert not m2.state.already_applied(1)
    assert view(m2) == committed  # the staged attempt stayed invisible
    m2.apply_batch(b1, 1)  # redelivery
    assert view(m2) == want
    m2.apply_batch(b1, 1)  # replay of the now-committed batch
    assert view(m2) == want


# -- restart over an existing state dir --------------------------------------


def test_restarted_ivm_keeps_aggregate(spark, tmp_path):
    """A maintainer restarted over an existing work dir resumes the
    aggregate it committed (the old driver-memory aggregate came back
    empty, and the next batch's retract then drove it negative)."""
    work = str(tmp_path / "ivm")
    m1 = BucketedViewMaintainer(spark, work, n_buckets=2)
    m1.apply_batch(
        spark.createDataFrame(
            [(1, 1, "purchase", 1.0), (2, 4, "purchase", 2.0),
             (3, 2, "view", 4.0), (4, 3, "view", 4.0)],
            IVM_SCHEMA,
        ),
        0,
    )
    before = _rows(m1.aggregate())
    assert before == [("purchase", 2, 300), ("view", 2, 800)]

    m2 = BucketedViewMaintainer(spark, work, n_buckets=2)
    assert _rows(m2.aggregate()) == before
    m2.apply_batch(spark.createDataFrame([(5, 1, "error", 0.0)], IVM_SCHEMA), 1)
    assert _rows(m2.aggregate()) == [("purchase", 1, 200), ("view", 2, 800)]


@pytest.mark.parametrize(
    "cls, live",
    [
        (SignatureIndexMaintainer, lambda m: m.signatures()),
        (PostingsIndexMaintainer, lambda m: m.live_postings()),
    ],
    ids=["signatures", "postings"],
)
def test_restarted_index_keeps_untouched_docs(spark, tmp_path, cls, live):
    """A restarted index maintainer must merge a batch INTO the bucket's
    existing rows: with two buckets, docs 1, 3, 5 share bucket 1, and
    re-indexing doc 5 after a restart must keep docs 1 and 3 (the old
    in-memory "no state yet" flag overwrote the bucket with doc 5 alone)."""
    work = str(tmp_path / "idx")
    m1 = cls(spark, work, n_buckets=2)
    m1.apply_batch(
        _sig_batch(spark, [(10 + d, "I", d, f"w{d} x{d} y{d} z{d}") for d in (1, 3, 5)]), 0
    )
    m2 = cls(spark, work, n_buckets=2)
    m2.apply_batch(_sig_batch(spark, [(50, "U", 5, "a new text here")]), 1)
    assert sorted({r.doc_id for r in live(m2).collect()}) == [1, 3, 5]


def test_join_ivm_null_priority_then_steady_batch(spark, tmp_path):
    """ADVICE r13: an A row with a NULL priority, then a new priority,
    then a clean B-only batch.  The observe-fold fast path sorted the
    aggregate's (None, ...) row against str keys and raised TypeError on
    the third batch; the exact fold applies it.  NULL-priority orders are
    not stored as A rows, so they join nothing — the recompute over the
    A rows that carry a priority is HIGH: one 700-cent line."""
    jm = JoinViewMaintainer(spark, str(tmp_path / "join"))
    jm.apply_batch(
        spark.createDataFrame(
            [(10, "A", 1, None, 7, None, None), (11, "B", 1, 1, None, None, 500)],
            A_SCHEMA,
        ),
        0,
    )
    jm.apply_batch(
        spark.createDataFrame([(20, "A", 2, None, 8, "HIGH", None)], A_SCHEMA), 1
    )
    jm.apply_batch(
        spark.createDataFrame([(21, "B", 2, 1, None, None, 700)], A_SCHEMA), 2
    )
    assert _rows(jm.aggregate()) == [("HIGH", 1, 700)]


def test_out_of_order_batches_converge(spark, tmp_path):
    """Duplicate/reordered delivery: applying an OLDER batch after a
    newer one must not move state backwards — including across a
    tombstone (the resurrect hazard)."""
    m = SignatureIndexMaintainer(spark, str(tmp_path / "sig"), n_buckets=2)
    newer = _sig_batch(spark, [(50, "D", 1, None)])  # delete at lsn 50
    older = _sig_batch(spark, [(40, "U", 1, "stale resurrection text here")])
    m.apply_batch(_sig_batch(spark, [(10, "I", 1, "alpha beta gamma delta")]), 0)
    m.apply_batch(newer, 1)
    snap = _sig_state(m)
    m.apply_batch(older, 2)  # late, stale
    assert _sig_state(m) == snap
    assert m.signatures().count() == 0  # doc stays deleted

    iv = BucketedViewMaintainer(spark, str(tmp_path / "ivm"), n_buckets=2)
    schema = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"
    iv.apply_batch(spark.createDataFrame([(5, 1, "purchase", 9.0)], schema), 0)
    snap = sorted((r.event_type, r.n_keys, r.total_cents) for r in iv.aggregate().collect())
    iv.apply_batch(spark.createDataFrame([(3, 1, "view", 1.0)], schema), 1)  # stale
    assert sorted(
        (r.event_type, r.n_keys, r.total_cents) for r in iv.aggregate().collect()
    ) == snap


def test_out_of_order_guard_has_teeth(spark, tmp_path, monkeypatch):
    """Blind the signature maintainer's out-of-order guard (state-blind
    _read_state) and the stale-delete scenario CORRUPTS state — proving
    the assertions above fail on a maintainer without the guard."""
    m = SignatureIndexMaintainer(spark, str(tmp_path / "sig"), n_buckets=2)
    m.apply_batch(_sig_batch(spark, [(10, "I", 1, "alpha beta gamma delta")]), 0)
    m.apply_batch(_sig_batch(spark, [(50, "D", 1, None)]), 1)
    assert m.signatures().count() == 0

    from pypgcdc_spark.operators.dedup import N_MINHASH

    mh_cols = ", ".join(f"mh{s} LONG" for s in range(N_MINHASH))
    schema = f"doc_id LONG, lsn LONG, deleted BOOLEAN, {mh_cols}"
    monkeypatch.setattr(
        SignatureIndexMaintainer,
        "_read_state",
        lambda self, bucket_ids: self.spark.createDataFrame([], schema),
    )
    m.apply_batch(
        _sig_batch(spark, [(40, "U", 1, "stale resurrection text here")]), 2
    )
    assert m.signatures().count() > 0, (
        "guard-less maintainer must resurrect the deleted doc — if this "
        "count is 0 the test lost its teeth"
    )
