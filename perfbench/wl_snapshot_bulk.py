"""snapshot_bulk — one seeded single-table upsert log read whole.

``PgCdcEngine.snapshot`` → ``typed_view`` (the typed current state, with
TOAST carry-forward) → a small aggregate, repeated until the measurement
window closes.  Replay scan, source planning, codec, transform and the
Python→JVM hand-off do nearly all the work; nothing is committed.
"""

from __future__ import annotations

import os
import time

from common import crc_digest, log, log_shape, median, spark_digest, upsert_schema

SIZES = {
    # n_keys, n_updates: the item-A log shape (20k keys, 200k updates)
    # scaled down by 10 so a run holds several reads.
    "full": (2_000, 20_000),
    "tiny": (200, 1_000),
}


class Workload:
    name = "snapshot_bulk"

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_keys, self.n_updates = SIZES[ctx.size]

    def attach(self) -> None:
        """Called once the Spark session is up."""

    def make_inputs(self, rep_dir: str) -> None:
        from pypgcdc_spark.testing import write_upsert_workload

        self.path = os.path.join(rep_dir, "upsert.log")
        self.expected = write_upsert_workload(
            self.path, n_keys=self.n_keys, n_updates=self.n_updates, seed=self.ctx.seed
        )

    def prepare(self) -> None:
        self.schema = upsert_schema(self.path)
        self.digest = crc_digest(self.expected)
        self.n_events = self.n_keys + self.n_updates
        self.ctx.result.shape.update(log_shape(self.path))
        self.ctx.result.shape.update(keys=self.n_keys, events=self.n_events)

    def _read_once(self) -> float:
        engine = self.ctx.engine
        t0 = time.perf_counter()
        state = engine.typed_view(engine.snapshot(self.path), self.schema)
        got = spark_digest(state, "id", "text_data")
        wall = time.perf_counter() - t0
        self.ctx.result.check(got == self.digest, f"snapshot state digest {got} != {self.digest}")
        return wall

    def warm_up(self) -> None:
        self._read_once()

    def measure(self, seconds: float) -> dict:
        walls = []
        deadline = time.perf_counter() + seconds
        while not walls or time.perf_counter() < deadline:
            walls.append(self.ctx.guard("snapshot read", self._read_once))
        walls = [w for w in walls if w is not None]
        log(f"snapshot reads: {[round(w, 3) for w in walls]}")
        wall = median(walls)
        # Every event of a read becomes visible when the read ends, and a
        # batch read acknowledges nothing: freshness and ack are the read
        # wall, and the read is the unit of work ("batch").
        return {
            "headline": wall,
            "throughput_eps": self.n_events / wall,
            "batch_p50_s": wall,
            "freshness_p50_s": wall,
            "freshness_p99_s": max(walls),
            "ack_p50_s": wall,
            "reads": len(walls),
        }

    def layer_metrics(self, traced: dict) -> dict:
        return {}

    def layer_logs(self) -> list:
        return [self.path]

    def stop(self) -> None:
        pass

    def discard_inputs(self) -> None:
        pass

    def close(self) -> None:
        pass
