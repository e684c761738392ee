"""End-to-end: replay log -> pgcdc source -> envelope -> apply -> SQL.

This is the pipeline the reference's live-Postgres integration suite
exercises (SURVEY §5), run against synthesized protocol-true streams."""

import pytest

from pypgcdc_spark.api import PgCdcEngine
from pypgcdc_spark.cdc.apply import current_state, typed_state
from pypgcdc_spark.testing import (
    write_reference_workload,
    write_upsert_workload,
)


@pytest.fixture(scope="module")
def engine(spark):
    return PgCdcEngine(spark)


def test_batch_snapshot_read(engine, tmp_path):
    log = tmp_path / "ref.log"
    write_reference_workload(str(log))
    df = engine.snapshot(str(log))
    rows = df.orderBy("lsn").collect()
    assert [r.op for r in rows] == ["I", "U", "D", "I"]
    assert rows[0].after["json_data"] == '{"data": 10}'
    assert rows[0].key == {"id": "10"}
    assert rows[2].after is None
    assert all(r.tx_id is not None for r in rows)
    # Envelope regroups into the documented nested shape (FIXTURES §7).
    nested = PgCdcEngine.with_envelope_structs(df)
    assert [f.name for f in nested.schema.fields] == [
        "op", "lsn", "tx", "source", "key", "before", "after",
    ]


def test_streaming_availablenow_to_current_state(engine, spark, tmp_path):
    log = tmp_path / "up.log"
    expected = write_upsert_workload(str(log), n_keys=40, n_updates=150)
    stream = engine.stream(str(log), num_partitions=3)
    assert stream.isStreaming

    q = (
        stream.writeStream.format("memory")
        .queryName("env_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    env = spark.sql("select * from env_sink")

    from pypgcdc_spark.cdc.registry import SchemaRegistry
    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.sources.replay import scan_frames

    reg = SchemaRegistry()
    for fr in scan_frames(str(log)):
        if fr.payload[:1] == b"R":
            reg.register_relation(pg.decode_relation(fr.payload), lsn=fr.lsn)
    schema = reg.get(16385)

    state = typed_state(env, schema)
    got = sorted((str(r.id), r.text_data) for r in state.collect())
    assert got == expected  # includes TOAST carry-forward survivors

    # Typed view applies real Spark types incl. Decimal (Q5 fix).
    dt = dict((f.name, f.dataType.simpleString()) for f in state.schema.fields)
    assert dt["id"] == "int" and dt["amount"] == "decimal(10,2)"
    # Offset ack (K2 analog): Spark calls commit(end) once the batch is
    # durable; single-batch fallback may stop first, so exercise directly.
    from pypgcdc_spark.sources.pgcdc import PgCdcStreamReader

    reader = PgCdcStreamReader({"path": str(log)})
    end = reader.latestOffset()
    reader.commit(end)
    import json as _json

    ack = _json.load(open(str(log) + ".ack"))
    assert ack["pos"] == end["pos"] and ack["lsn"] == end["lsn"] > 0


def test_streaming_incremental_batches_and_resume(engine, spark, tmp_path):
    """Two appends + restart from checkpoint: no loss, no duplication."""
    log = tmp_path / "inc.log"
    from pypgcdc_spark.testing import WorkloadWriter, INTEGRATION_RELID, INTEGRATION_COLS
    from pypgcdc_spark.cdc import pgoutput as pg

    w = WorkloadWriter(str(log))
    w.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
    for i in range(10):
        w.tx([pg.encode_insert(INTEGRATION_RELID, [str(i), None, "1.00", None, f"a{i}"])])
    w.close()

    ckpt = str(tmp_path / "ckpt2")
    out = str(tmp_path / "env_out")

    def drain():
        q = (
            engine.stream(str(log))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(out).count() == 10

    # Append more transactions, restart the query from its checkpoint.
    w2 = WorkloadWriter(str(log), start_lsn=100_000)
    for i in range(10, 15):
        w2.tx([pg.encode_insert(INTEGRATION_RELID, [str(i), None, "1.00", None, f"a{i}"])])
    w2.close()

    drain()
    # Exactly-once into the sink: 15 distinct ids, no replays of batch 1.
    rows = spark.read.parquet(out).select("after").collect()
    ids = sorted(int(r.after["id"]) for r in rows)
    assert ids == list(range(15))


def test_truncate_drops_prior_rows(engine, spark, tmp_path):
    log = tmp_path / "tr.log"
    expected = write_upsert_workload(
        str(log), n_keys=10, n_updates=20, with_truncate=True
    )
    env = engine.snapshot(str(log))
    state = current_state(env)
    rows = state.select("key", "after").collect()
    got = sorted((r.key["id"], r.after["text_data"]) for r in rows)
    assert got == expected == [("999", "txt_999")]


def test_materialize_foreachbatch_merge(engine, spark, tmp_path):
    """DeleteAwareMerger keeps a parquet current-state table across batches."""
    log = tmp_path / "m.log"
    expected = write_upsert_workload(str(log), n_keys=25, n_updates=80)

    from pypgcdc_spark.cdc.registry import SchemaRegistry
    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.sources.replay import scan_frames

    reg = SchemaRegistry()
    for fr in scan_frames(str(log)):
        if fr.payload[:1] == b"R":
            reg.register_relation(pg.decode_relation(fr.payload), lsn=fr.lsn)
    schema = reg.get(16385)

    target = str(tmp_path / "integration_current")
    engine.materialize(
        engine.stream(str(log), max_tx_per_batch=20),
        schema,
        target,
        checkpoint=str(tmp_path / "ckpt3"),
    )

    got = sorted(
        (str(r.id), r.text_data) for r in spark.read.parquet(target).collect()
    )
    assert got == expected


def test_typed_state_json_as_variant(engine, spark, tmp_path):
    """json/jsonb columns materialize as Spark VariantType when requested,
    queryable with variant_get without per-query reparsing."""
    from pyspark.sql import functions as F

    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.cdc.registry import SchemaRegistry
    from pypgcdc_spark.sources.replay import scan_frames
    from pypgcdc_spark.testing import (
        INTEGRATION_COLS,
        INTEGRATION_RELID,
        WorkloadWriter,
    )

    log = str(tmp_path / "var.log")
    w = WorkloadWriter(log)
    w.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
    w.tx([pg.encode_insert(INTEGRATION_RELID, ["1", '{"data": {"x": 7}}', "1.00", None, "a"])])
    w.tx([pg.encode_insert(INTEGRATION_RELID, ["2", '{"data": {"x": 9}}', "2.00", None, "b"])])
    w.close()

    env = engine.snapshot(log)
    reg = SchemaRegistry()
    for fr in scan_frames(log):
        if fr.payload[:1] == b"R":
            reg.register_relation(pg.decode_relation(fr.payload), lsn=fr.lsn)
    state = typed_state(env, reg.get(INTEGRATION_RELID), json_as_variant=True)
    assert dict((f.name, f.dataType.simpleString()) for f in state.schema.fields)[
        "json_data"
    ] == "variant"
    got = {
        (r.id, r.x)
        for r in state.select(
            "id",
            F.try_variant_get("json_data", "$.data.x", "int").alias("x"),
        ).collect()
    }
    assert got == {(1, 7), (2, 9)}


def test_bootstrap_seed_plus_materialize(engine, spark, tmp_path):
    """Reference S2/S3 end-to-end in the engine API: a consistent
    snapshot (the text-tuple shape initial_sync returns) seeds the typed
    current-state table; the change stream then merges exactly on top —
    untouched seed rows survive, streamed upserts/deletes win by LSN."""
    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.cdc.registry import SchemaRegistry
    from pypgcdc_spark.sources.replay import scan_frames

    log = tmp_path / "b.log"
    expected = write_upsert_workload(str(log), n_keys=20, n_updates=60)

    reg = SchemaRegistry()
    for fr in scan_frames(str(log)):
        if fr.payload[:1] == b"R":
            reg.register_relation(pg.decode_relation(fr.payload), lsn=fr.lsn)
    schema = reg.get(16385)

    # Snapshot rows: two keys the stream never touches (9xx range) plus
    # one key (0) the stream definitely overwrites.
    seed = [
        ("900", '{"seed": 1}', "1.00", "2023-12-31 00:00:00+00", "seed_900"),
        ("901", None, "2.50", None, "seed_901"),
        ("0", None, "0.00", None, "seed_stale_overwritten"),
    ]
    target = str(tmp_path / "bootstrapped")
    engine.bootstrap(seed, schema, target)
    before = spark.read.parquet(target)
    assert before.count() == 3
    # typed: amount is Decimal(10,2), id is int
    assert dict(before.dtypes)["amount"] == "decimal(10,2)"

    engine.materialize(
        engine.stream(str(log), max_tx_per_batch=20),
        schema,
        target,
        checkpoint=str(tmp_path / "ckpt_b"),
    )
    got = sorted(
        (str(r.id), r.text_data) for r in spark.read.parquet(target).collect()
    )
    want = sorted(expected + [("900", "seed_900"), ("901", "seed_901")])
    # key 0 must hold the STREAM's final value (lsn beats the lsn=-1 seed),
    # unless the stream deleted it.
    assert got == want


def test_register_cdc_views_history_versions(engine, spark, tmp_path):
    """A log whose relation changes type + drops a column mid-stream gets
    per-version typed history views (rows typed by the version in force
    at their LSN) alongside the current-state view."""
    from datetime import datetime, timezone

    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.sources.replay import ReplayLogWriter

    relid, ts = 21001, datetime(2024, 1, 1, tzinfo=timezone.utc)
    v1 = [(True, "id", 20, -1), (False, "score", 1700, ((10 << 16) | 2) + 4), (False, "note", 25, -1)]
    v2 = [(True, "id", 20, -1), (False, "score", 701, -1)]
    log = str(tmp_path / "evo.log")
    w = ReplayLogWriter(log)
    w.append(100, pg.encode_relation(relid, "public", "scores", v1))
    w.append(995, pg.encode_begin(1025, ts, 41))
    w.append(1000, pg.encode_insert(relid, ["1", "12.34", "alpha"]))
    w.append(1010, pg.encode_insert(relid, ["2", "56.78", "beta"]))
    w.append(1025, pg.encode_commit(1025, 1025, ts))
    w.append(2000, pg.encode_relation(relid, "public", "scores", v2))  # ALTER
    w.append(2995, pg.encode_begin(3015, ts, 42))
    w.append(3000, pg.encode_insert(relid, ["3", "90.5"]))
    w.append(3015, pg.encode_commit(3015, 3015, ts))
    w.close()

    names = engine.register_cdc_views(log, prefix="evo_")
    assert "evo_scores_current" in names
    assert "evo_scores_history_v1" in names and "evo_scores_history_v2" in names
    h1 = spark.table("evo_scores_history_v1")
    h2 = spark.table("evo_scores_history_v2")
    assert dict(h1.dtypes)["score"] == "decimal(10,2)" and "note" in h1.columns
    assert dict(h2.dtypes)["score"] == "double" and "note" not in h2.columns
    assert {r.id for r in h1.collect()} == {1, 2}
    assert [(r.id, r.score) for r in h2.collect()] == [(3, 90.5)]
    # current state types through the LATEST version
    cur = spark.table("evo_scores_current")
    assert dict(cur.dtypes)["score"] == "double"


def test_bucketed_merger_equals_full_overwrite(engine, spark, tmp_path):
    """n_buckets mode (touched-bucket dynamic overwrite, the 100 TB apply
    path) must produce the same current state as the whole-table
    overwrite, rewrite ONLY touched buckets, and stay idempotent under
    foreachBatch batch replay."""
    import os

    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.cdc.apply import DeleteAwareMerger
    from pypgcdc_spark.cdc.registry import SchemaRegistry
    from pypgcdc_spark.sources.replay import scan_frames

    log = tmp_path / "bm.log"
    expected = write_upsert_workload(str(log), n_keys=60, n_updates=200)
    reg = SchemaRegistry()
    for fr in scan_frames(str(log)):
        if fr.payload[:1] == b"R":
            reg.register_relation(pg.decode_relation(fr.payload), lsn=fr.lsn)
    schema = reg.get(16385)

    target = str(tmp_path / "bucketed_state")
    engine.materialize(
        engine.stream(str(log), max_tx_per_batch=25),
        schema,
        target,
        checkpoint=str(tmp_path / "ckpt_b"),
        n_buckets=8,
    )
    got = sorted(
        (str(r.id), r.text_data) for r in spark.read.parquet(target).collect()
    )
    assert got == expected
    # State is hash-bucket partitioned on disk.
    buckets = sorted(
        d for d in os.listdir(target) if d.startswith("_bucket=")
    )
    assert len(buckets) > 1

    def listing():
        out = {}
        for b in buckets:
            d = os.path.join(target, b)
            out[b] = sorted(
                (f, os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
        return out

    # A single-key batch rewrites exactly one bucket.  Redeliver the
    # key's LATEST change (replay semantics: the merger is LWW over
    # baseline ∪ batch; ordered delivery is the source's contract, so a
    # replayed batch is always the tail, never an older row).
    from pyspark.sql import functions as F

    merger = DeleteAwareMerger(spark, schema, target, n_buckets=8)
    before = listing()
    one = (
        engine.snapshot(str(log))
        .filter("key['id'] = '3'")
        .orderBy(F.desc("lsn"))
        .limit(1)
    )
    merger(one, 999)
    after = listing()
    changed = [b for b in buckets if before[b] != after[b]]
    assert len(changed) == 1, f"rewrote {changed}"
    # Replay of the same rows converges (merge is LWW-deterministic).
    snap = sorted(
        (str(r.id), r.text_data) for r in spark.read.parquet(target).collect()
    )
    merger(one, 1000)
    assert sorted(
        (str(r.id), r.text_data) for r in spark.read.parquet(target).collect()
    ) == snap
    assert snap == expected  # stale single-row replay didn't corrupt state


def test_sinks_leave_partition_overwrite_conf_alone(engine, spark, tmp_path):
    """No sink may change the session's partitionOverwriteMode: the
    maintainers commit through their manifest, and the merger asks for
    dynamic overwrite per write.  A leaked session value silently turns
    every later static overwrite in the session into a dynamic one."""
    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.cdc.apply import DeleteAwareMerger
    from pypgcdc_spark.cdc.registry import SchemaRegistry
    from pypgcdc_spark.operators.cdc_dedup import (
        PostingsIndexMaintainer,
        SignatureIndexMaintainer,
    )
    from pypgcdc_spark.operators.ivm import BucketedViewMaintainer
    from pypgcdc_spark.operators.join_ivm import A_SCHEMA, JoinViewMaintainer
    from pypgcdc_spark.sources.replay import scan_frames

    log = str(tmp_path / "m.log")
    write_upsert_workload(log, n_keys=20, n_updates=10)
    reg = SchemaRegistry()
    for fr in scan_frames(log):
        if fr.payload[:1] == b"R":
            reg.register_relation(pg.decode_relation(fr.payload), lsn=fr.lsn)
    docs = spark.createDataFrame(
        [(10, "I", 1, "alpha beta gamma")], "lsn LONG, op STRING, doc_id LONG, text STRING"
    )
    sinks = [
        (
            BucketedViewMaintainer(spark, str(tmp_path / "ivm"), n_buckets=2).apply_batch,
            spark.createDataFrame(
                [(1, 1, "view", 1.0)],
                "event_id LONG, user_id LONG, event_type STRING, value DOUBLE",
            ),
        ),
        (
            JoinViewMaintainer(spark, str(tmp_path / "join")).apply_batch,
            spark.createDataFrame([(10, "A", 1, None, 7, "HIGH", None)], A_SCHEMA),
        ),
        (SignatureIndexMaintainer(spark, str(tmp_path / "sig")).apply_batch, docs),
        (PostingsIndexMaintainer(spark, str(tmp_path / "post")).apply_batch, docs),
        (
            DeleteAwareMerger(spark, reg.get(16385), str(tmp_path / "m"), n_buckets=4),
            engine.snapshot(log),
        ),
    ]
    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        for sink, batch in sinks:
            sink(batch, 0)
            assert spark.conf.get(key) == "STATIC", sink
    finally:
        spark.conf.set(key, saved)
