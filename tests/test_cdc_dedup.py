"""CDC-maintained MinHash index: incremental ≡ recompute plus the
stale-version and tombstone guards a real index needs."""

from pyspark.sql import functions as F

from pypgcdc_spark.operators.cdc_dedup import (
    SignatureIndexMaintainer,
    cdc_minhash_maintenance,
)
from pypgcdc_spark.operators.dedup import minhash_signatures_wide


def _batch(spark, rows):
    return spark.createDataFrame(rows, "lsn LONG, op STRING, doc_id LONG, text STRING")


def _live_sigs(maint):
    return {
        (r.doc_id, r.seed): r.mh for r in maint.signatures().collect()
    }


def test_incremental_index_equals_batch_recompute(spark, sf_dir):
    out = cdc_minhash_maintenance(spark, sf_dir)
    got = {(r.doc_id, r.seed): r.mh for r in out.collect()}

    from pypgcdc_spark.operators.cdc_dedup import synth_change_log
    from pypgcdc_spark.operators.cdc_dedup import _shingles_of
    from pypgcdc_spark.queries import load

    (docs,) = load(spark, sf_dir, "documents")
    log = synth_change_log(docs.select("doc_id", "text"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("lsn").desc())
    final = (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("doc_id", "text")
    )
    expect = {
        (r.doc_id, int(c[2:]), getattr(r, c))
        for r in minhash_signatures_wide(_shingles_of(final)).collect()
        for c in r.asDict()
        if c.startswith("mh")
    }
    assert got == {(d, s): m for d, s, m in expect}


def test_stale_update_is_ignored(spark, tmp_path):
    maint = SignatureIndexMaintainer(spark, str(tmp_path), n_buckets=2)
    maint.apply_batch(
        _batch(spark, [(10, "I", 1, "alpha beta gamma delta")]), 0
    )
    v1 = _live_sigs(maint)
    # A LATE, STALE update (lsn 5 < stored 10) must not change the index.
    maint.apply_batch(
        _batch(spark, [(5, "U", 1, "totally different text here now")]), 1
    )
    assert _live_sigs(maint) == v1
    # A genuinely newer update must.
    maint.apply_batch(
        _batch(spark, [(20, "U", 1, "totally different text here now")]), 2
    )
    assert _live_sigs(maint) != v1


def test_tombstone_blocks_resurrection(spark, tmp_path):
    maint = SignatureIndexMaintainer(spark, str(tmp_path), n_buckets=2)
    maint.apply_batch(_batch(spark, [(10, "I", 7, "one two three four")]), 0)
    maint.apply_batch(_batch(spark, [(30, "D", 7, None)]), 1)
    assert _live_sigs(maint) == {}
    # A late update OLDER than the delete must not resurrect the doc.
    maint.apply_batch(_batch(spark, [(20, "U", 7, "five six seven eight")]), 2)
    assert _live_sigs(maint) == {}


def test_batch_rewrites_only_touched_buckets(spark, tmp_path):
    maint = SignatureIndexMaintainer(spark, str(tmp_path), n_buckets=4)
    # Seed all four buckets.
    maint.apply_batch(
        _batch(
            spark,
            [(i, "I", i, f"w{i} x{i} y{i} z{i}") for i in range(4)],
        ),
        0,
    )
    # The manifest maps each live bucket to the attempt that wrote it.
    before = maint.state.load()["partitions"]
    assert len(before) == 4
    # Touch ONLY doc 5 → bucket=1; other buckets must keep their attempt.
    maint.apply_batch(_batch(spark, [(100, "I", 5, "a b c d")]), 1)
    after = maint.state.load()["partitions"]
    changed = {b for b in after if after[b] != before.get(b)}
    assert changed == {"1"}


def test_postings_index_update_and_delete(spark, tmp_path):
    from pypgcdc_spark.operators.cdc_dedup import PostingsIndexMaintainer

    maint = PostingsIndexMaintainer(spark, str(tmp_path), n_buckets=2)
    maint.apply_batch(
        _batch(spark, [(10, "I", 1, "spark join fast spark"), (11, "I", 2, "slow scan")]), 0
    )
    idx = {
        (r.doc_id, r.t): (r.f, r.dl) for r in maint.live_postings().collect()
    }
    assert idx[(1, "spark")] == (2, 4) and idx[(2, "scan")] == (1, 2)
    # Update doc 1: old postings must be fully replaced, not merged.
    maint.apply_batch(_batch(spark, [(20, "U", 1, "fast fast")]), 1)
    idx = {(r.doc_id, r.t): (r.f, r.dl) for r in maint.live_postings().collect()}
    assert (1, "spark") not in idx and idx[(1, "fast")] == (2, 2)
    # Delete doc 2; a stale late update must not resurrect it.
    maint.apply_batch(_batch(spark, [(30, "D", 2, None)]), 2)
    maint.apply_batch(_batch(spark, [(25, "U", 2, "zombie text")]), 3)
    docs_alive = {r.doc_id for r in maint.live_postings().collect()}
    assert docs_alive == {1}


def test_postings_null_text_lsn_tracked(spark, tmp_path):
    """A live doc whose tokenization yields zero rows (null text) must
    still leave an LSN-carrying marker row, so a later STALE update
    cannot sneak past the out-of-order guard (round-3 advice: the
    signature index had this via no_sig; the postings path did not)."""
    from pypgcdc_spark.operators.cdc_dedup import PostingsIndexMaintainer

    maint = PostingsIndexMaintainer(spark, str(tmp_path), n_buckets=2)
    maint.apply_batch(_batch(spark, [(10, "I", 1, "alpha beta")]), 0)
    # Newer update nulls the text → no postings, but lsn 30 is tracked.
    maint.apply_batch(_batch(spark, [(30, "U", 1, None)]), 1)
    assert maint.live_postings().count() == 0  # marker rows excluded
    # A LATE, STALE update (lsn 20 < tracked 30) must not apply.
    maint.apply_batch(_batch(spark, [(20, "U", 1, "zombie text")]), 2)
    assert maint.live_postings().count() == 0
    # A genuinely newer update must.
    maint.apply_batch(_batch(spark, [(40, "U", 1, "fresh text")]), 3)
    assert {r.t for r in maint.live_postings().collect()} == {"fresh", "text"}
