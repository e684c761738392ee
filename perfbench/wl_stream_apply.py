"""stream_apply — catch-up drain of a backlog into bucketed current state.

A seeded upsert log (a large initial key set, then single-row
transactions) drains through ``PgCdcEngine.stream(max_tx_per_batch=…)``
→ ``materialize(n_buckets=16)``.  Key state is much larger than each
batch, so the per-micro-batch fixed cost, the bucketed merge write and the
source's per-batch planning dominate.

The backlog outlasts the run: a gate on the sink admits the warm-up
batches, then the batches of each measurement window, and finally lets
the stream stop on a batch boundary.  The applied prefix is checked
against the generator's own simulation of that prefix.
"""

from __future__ import annotations

import bisect
import os
import time

from common import (
    Sampler,
    crc_digest,
    first_time_at_least,
    log,
    log_shape,
    median,
    percentile,
    progress_rows,
    read_ack,
    spark_digest,
    upsert_schema,
    wait_progress,
)
from spans import Gate, patch_merger

SIZES = {
    # n_keys, backlog transactions after the initial load, maxTxPerBatch
    "full": (10_000, 12_000, 400),
    "tiny": (200, 600, 40),
}
N_BUCKETS = 16
WARM_BATCHES = 1  # batch 0 carries the initial key load
MIN_WINDOW_BATCHES = 3


class Workload:
    name = "stream_apply"

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_keys, self.n_backlog, self.max_tx = SIZES[ctx.size]
        self.windows: list = []

    def attach(self) -> None:
        """Called once the Spark session is up."""
        patch_merger(self.ctx.sinks)

    def make_inputs(self, rep_dir: str) -> None:
        from pypgcdc_spark.testing import write_upsert_workload

        self.dir = rep_dir
        self.path = os.path.join(rep_dir, "backlog.log")
        write_upsert_workload(
            self.path, n_keys=self.n_keys, n_updates=self.n_backlog, seed=self.ctx.seed
        )

    def prepare(self) -> None:
        from pypgcdc_spark.sources.replay import tx_boundaries

        self.schema = upsert_schema(self.path)
        self.ends = [e for _s, e in tx_boundaries(self.path, 0)]
        shape = log_shape(self.path)
        shape.update(keys=self.n_keys, max_tx_per_batch=self.max_tx)
        self.ctx.result.shape.update(shape)

    def warm_up(self) -> None:
        ctx = self.ctx
        self.gate = ctx.sinks.merge_gate = Gate(warm=WARM_BATCHES)
        self.target = os.path.join(self.dir, "state")
        self.acks = Sampler(lambda: read_ack(self.path), 0.005).start()
        self.query = ctx.engine.materialize(
            ctx.engine.stream(self.path, max_tx_per_batch=self.max_tx),
            self.schema,
            self.target,
            checkpoint=os.path.join(self.dir, "ckpt"),
            drain=False,
            n_buckets=N_BUCKETS,
        )
        self.gate.wait_calls(WARM_BATCHES, timeout=150, alive=lambda: self.query.isActive)

    def _txs_before(self, pos: int) -> int:
        return bisect.bisect_right(self.ends, pos)

    def measure(self, seconds: float) -> dict:
        t_open, t_close, calls = self.gate.window(
            seconds, MIN_WINDOW_BATCHES, timeout=120, alive=lambda: self.query.isActive
        )
        rows = {r["batch"]: r for r in wait_progress(self.query, calls[-1].batch)}
        batches = [rows[c.batch] for c in calls]
        self.windows.append(batches)
        # The source acks a batch once the next one starts.
        self._wait_ack(batches[-1]["end_offset"]["pos"])
        samples = list(self.acks.samples)
        walls, fresh, acked, events = [], [], [], 0
        for c, b in zip(calls, batches):
            # A batch's trigger time less its wait at the gate.  A backlog
            # transaction is available from the (adjusted) start of the
            # batch that admits it: visible at that batch's end,
            # acknowledged when the source's ack sidecar passes its Commit.
            start = b["start"] + c.waited
            walls.append(b["durations"]["triggerExecution"] / 1000 - c.waited)
            lo = self._txs_before(b["start_offset"]["pos"])
            hi = self._txs_before(b["end_offset"]["pos"])
            events += hi - lo
            for end in self.ends[lo:hi]:
                fresh.append(b["end"] - start)
                ta = first_time_at_least(samples, end, key=lambda v: v[0])
                if ta is not None:
                    acked.append(ta - start)
        log(
            f"window {t_close - t_open:.2f}s: batches {[c.batch for c in calls]}, walls "
            f"{[round(w, 2) for w in walls]}, {events} events, {len(acked)}/{len(fresh)} acked"
        )
        return {
            "headline": median(walls),
            "throughput_eps": events / (t_close - t_open),
            "batch_p50_s": median(walls),
            "freshness_p50_s": median(fresh),
            "freshness_p99_s": percentile(fresh, 99),
            "ack_p50_s": median(acked),
        }

    def _wait_ack(self, pos: int, timeout: float = 30.0) -> None:
        end = time.time() + timeout
        while time.time() < end:
            a = read_ack(self.path)
            if a is not None and a[0] >= pos:
                return
            time.sleep(0.02)

    def stop(self) -> None:
        """Stop on a batch boundary and check the applied prefix."""
        from pypgcdc_spark.testing import write_upsert_workload

        self.gate.drain()
        self.query.stop_and_cancel()
        self.acks.stop()
        applied = sorted(c.batch for c in self.gate.done)
        rows = {r["batch"]: r for r in progress_rows(self.query)}
        if applied != list(range(len(applied))) or applied[-1] not in rows:
            self.ctx.result.fail(f"applied batches {applied} are not a complete prefix")
            return
        n_txs = self._txs_before(rows[applied[-1]]["end_offset"]["pos"])
        # The generator's log for fewer updates is a byte prefix of this
        # one, so its simulated state is the expected state of the prefix.
        expected = write_upsert_workload(
            os.path.join(self.dir, "prefix.log"),
            n_keys=self.n_keys,
            n_updates=n_txs - 1,
            seed=self.ctx.seed,
        )
        got = spark_digest(self.ctx.spark.read.parquet(self.target), "id", "text_data")
        want = crc_digest(expected)
        self.ctx.result.check(got == want, f"state after {n_txs} txs: digest {got} != {want}")
        self.ctx.result.shape["batches_applied"] = len(applied)

    def layer_metrics(self, traced: dict) -> dict:
        return stream_layer_metrics(
            self.ctx, self.windows[-1], self.path, self.target, self._txs_before
        )

    def layer_logs(self) -> list:
        return [self.path]

    def discard_inputs(self) -> None:
        pass

    def close(self) -> None:
        q = getattr(self, "query", None)
        if q is not None and q.isActive:
            self.gate.drain()
            q.stop_and_cancel()
        if getattr(self, "acks", None) is not None:
            self.acks.stop()


def stream_layer_metrics(ctx, batches, path, target, txs_before) -> dict:
    """Per-layer metrics of a ``materialize`` stream over ``batches``: the
    engine's progress breakdown, the source's rows read per event, the
    planner's scanned bytes per batch, and the traced merge calls."""
    from pypgcdc_spark.sources.replay import log_size

    dur = lambda k: [b["durations"].get(k, 0) for b in batches]  # noqa: E731
    size = log_size(path)
    events = sum(
        txs_before(b["end_offset"]["pos"]) - txs_before(b["start_offset"]["pos"])
        for b in batches
    )
    # Planning scans from the batch's start offset to the end of the log.
    scan = [size - int(b["start_offset"]["pos"]) for b in batches]
    state_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(target)
        for f in fs
        if f.endswith(".parquet")
    )
    return {
        "stream.batches": (len(batches), "count"),
        "stream.latest_offset_ms_p50": (median(dur("latestOffset")), "ms"),
        "stream.add_batch_ms_p50": (median(dur("addBatch")), "ms"),
        "stream.wal_commit_ms_p50": (median(dur("walCommit")), "ms"),
        "stream.commit_offsets_ms_p50": (median(dur("commitOffsets")), "ms"),
        "pgcdc.rows_read_per_event": (sum(b["rows"] for b in batches) / max(1, events), "ratio"),
        "pgcdc.plan_scan_bytes": (sum(scan) / max(1, len(scan)), "bytes"),
        "apply.merge_s_p50": (median(ctx.tracer.durations("apply.merge")), "s"),
        "apply.jobs_per_batch": (median(ctx.tracer.attr("apply.merge", "jobs")), "count"),
        "apply.state_bytes": (state_bytes, "bytes"),
    }
