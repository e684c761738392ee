"""Solo drives of single layers on a workload's own replay log.

Each function calls one public entry point of one layer, alone, on the
same log the workload ran, and returns per-layer metrics.  They run only
in the traced run, after the end-to-end measurement.
"""

from __future__ import annotations

import time
from collections import Counter

from common import log


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def replay_layers(path: str) -> dict:
    """``sources.replay`` scan and boundary pass, ``sources.pgcdc``
    planning, ``cdc.pgoutput`` decode and ``cdc.transform`` feed."""
    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.cdc.registry import SchemaRegistry
    from pypgcdc_spark.cdc.transform import MessageTransformer
    from pypgcdc_spark.sources import replay
    from pypgcdc_spark.sources.pgcdc import PgCdcBatchReader

    m = {}
    frames, scan_s = _timed(lambda: [(f.lsn, f.payload) for f in replay.scan_frames(path)])
    m["replay.frames"] = (len(frames), "count")
    m["replay.log_bytes"] = (replay.log_size(path), "bytes")
    m["replay.scan_fps"] = (len(frames) / scan_s, "frames/s")
    _, txb_s = _timed(lambda: replay.tx_boundaries(path, 0))
    m["replay.tx_boundaries_s"] = (txb_s, "s")
    _, plan_s = _timed(lambda: PgCdcBatchReader({"path": path}).partitions())
    m["pgcdc.plan_s"] = (plan_s, "s")

    kinds = Counter()

    def decode_all():
        for _lsn, payload in frames:
            kinds[payload[:1]] += 1
            pg.decode_message(payload)

    _, dec_s = _timed(decode_all)
    m["pgoutput.decode_fps"] = (len(frames) / dec_s, "frames/s")
    m["pgoutput.txn_frame_share"] = (
        (kinds[b"B"] + kinds[b"C"]) / max(1, len(frames)),
        "ratio",
    )

    ops = Counter()

    def transform_all():
        x = MessageTransformer(registry=SchemaRegistry())
        for lsn, payload in frames:
            for ev in x.feed(lsn, payload):
                ops[ev.op] += 1

    _, xf_s = _timed(transform_all)
    n_events = sum(ops.values())
    m["transform.eps"] = (n_events / xf_s, "events/s")
    for op in "IUDT":
        m[f"transform.events_by_op.{op}"] = (ops.get(op, 0), "count")
    log(
        f"solo: scan {scan_s:.2f}s, tx_boundaries {txb_s:.2f}s, plan {plan_s:.2f}s, "
        f"decode {dec_s:.2f}s, transform {xf_s:.2f}s over {len(frames)} frames"
    )
    return m


def spark_read_layers(spark, path: str) -> dict:
    """Batch read of the whole log through the ``pgcdc`` source into a
    no-op sink, at the source's default partitioning and with one
    partition (the serial baseline of the parallel read)."""

    def read(n_parts):
        r = spark.read.format("pgcdc").option("path", path)
        if n_parts:
            r = r.option("numPartitions", str(n_parts))
        r.load().write.format("noop").mode("overwrite").save()

    _, par_s = _timed(lambda: read(None))
    _, one_s = _timed(lambda: read(1))
    log(f"solo: spark read {par_s:.2f}s default partitions, {one_s:.2f}s one partition")
    return {"spark_read.s": (par_s, "s"), "spark_read.single_thread_s": (one_s, "s")}
