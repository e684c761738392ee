"""live_freshness — open-loop commits against a real PostgreSQL server.

A generator process of its own, with one connection, commits single-row
upserts and deletes at a fixed rate (open loop: each transaction has a
scheduled send time and is sent then, however far the engine has fallen
behind).
``WireReplicationTailer`` runs in one thread, appending to the replay log
that ``PgCdcEngine.stream`` → ``materialize`` consumes, and forwards the
stream's acks back to the server.  Latency, not throughput, is the
metric: freshness and ack lag are computed after each window from the
replay log (transaction → commit position and LSN), the stream's
progress (end offsets and times), sampled ``tailer.stats()`` and the
generator's schedule — nothing extra runs during the window.
"""

from __future__ import annotations

import bisect
import json
import os
import random
import subprocess
import sys
import threading
import time

from common import (
    Sampler,
    crc_digest,
    first_time_at_least,
    log,
    median,
    percentile,
    progress_rows,
    read_ack,
    spark_digest,
)
from spans import patch_merger

SIZES = {
    # offered transactions/s, key space, seconds of steady warm-up traffic
    "full": (65, 2_000, 16.0),
    "tiny": (20, 50, 2.0),
}
# A batch carries a few hundred transactions over a 2k-key state: one
# source partition and 4 state buckets fit it.  More of either adds tasks
# and Python workers per batch but no speed on a quiet host, and makes the
# batch wall follow the host's load (2.4x with two of the four cores busy,
# against 1.5x with these settings).
N_BUCKETS = 4
NUM_PARTITIONS = 1
DELETE_SHARE = 0.15
TAILER_TICK_S = 0.2
DRAIN_TIMEOUT_S = 60
FIRST_S = 0.5  # the first burst, before the stream starts
LEAD_S = 2.0  # unreported traffic at the start of each window


class Generator:
    """Open-loop single-connection load: transaction ``i`` of a window is
    due at ``t0 + i / rate``.  Deletes only hit live keys, so every
    transaction changes a row and reaches the replication stream."""

    def __init__(self, conn, seed: int, rate: float, n_keys: int):
        self.conn = conn
        self.rng = random.Random(seed)
        self.rate, self.n_keys = rate, n_keys
        self.state: dict = {}
        self.seq = 0

    def run(self, seconds: float) -> list:
        """Send ``seconds`` worth of scheduled transactions; return them."""
        t0 = time.time() + 0.05
        out = []
        for i in range(max(1, int(round(seconds * self.rate)))):
            due = t0 + i / self.rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            out.append(self._one(due))
        return out

    def _one(self, due: float) -> tuple:
        k = self.rng.randrange(self.n_keys)
        self.seq += 1
        if k in self.state and self.rng.random() < DELETE_SHARE:
            sql = f"DELETE FROM accounts WHERE id = {k}"
            del self.state[k]
        else:
            name = f"n{self.seq}"
            sql = (
                f"INSERT INTO accounts (id, v, name) VALUES ({k}, {self.seq}, '{name}') "
                "ON CONFLICT (id) DO UPDATE SET v = EXCLUDED.v, name = EXCLUDED.name"
            )
            self.state[k] = name
        sent = time.time()
        self.conn.simple_query(sql)
        return (due, sent, time.time())

    def close(self) -> None:
        self.conn.close()


def _generator_main(port: int, seed: int, rate: float, n_keys: int) -> None:
    """The generator process: one JSON command per stdin line, one JSON
    reply per stdout line; stdin closing ends it."""
    from pglive import connect

    gen = Generator(connect(port), seed, rate, n_keys)
    try:
        for line in sys.stdin:
            cmd, arg = json.loads(line)
            reply = gen.run(arg) if cmd == "run" else sorted(gen.state.items())
            print(json.dumps(reply), flush=True)
    finally:
        gen.close()


class GeneratorProcess:
    """The generator in a process of its own: its sleeps, sends and
    wake-ups do not compete with the engine's driver-side threads (sink
    calls, tailer) for this process's interpreter lock."""

    def __init__(self, port: int, seed: int, rate: float, n_keys: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(port), str(seed), str(rate), str(n_keys)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.txs: list = []  # (due, sent, committed) of every transaction sent

    def _ask(self, cmd: str, arg=None):
        self.proc.stdin.write(json.dumps([cmd, arg]) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"generator process exited ({self.proc.wait()})")
        return json.loads(line)

    def run(self, seconds: float) -> list:
        out = [tuple(r) for r in self._ask("run", seconds)]
        self.txs += out
        return out

    def state(self) -> dict:
        return {int(k): v for k, v in self._ask("state")}

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


class Workload:
    name = "live_freshness"

    def __init__(self, ctx):
        self.ctx = ctx
        self.rate, self.n_keys, self.warm_s = SIZES[ctx.size]
        self.cluster = None
        self.windows: list = []

    # -- set-up -----------------------------------------------------------------

    def attach(self) -> None:
        """Called once the Spark session is up."""
        patch_merger(self.ctx.sinks)

    def make_inputs(self, rep_dir: str) -> None:
        """Boot a fresh cluster with the published table and the slot."""
        from pglive import LiveCluster

        self.dir = rep_dir
        self.cluster = LiveCluster(os.path.join(rep_dir, "pg"))
        self.cluster.sql(
            "CREATE TABLE accounts (id BIGINT PRIMARY KEY, v BIGINT NOT NULL, name TEXT NOT NULL)",
            "CREATE PUBLICATION perfbench_pub FOR TABLE accounts",
        )
        self.log_path = os.path.join(rep_dir, "wal.replay")
        self.tailer = self.cluster.tailer(
            "perfbench_pub", "perfbench_slot", self.log_path, timeout=TAILER_TICK_S
        )
        self.tailer.prepare()  # creates the slot before any change is committed

    def discard_inputs(self) -> None:
        self.tailer.stop()
        self.cluster.stop()
        self.cluster = None

    def prepare(self) -> None:
        self.ctx.result.shape.update(
            offered_tps=self.rate, keys=self.n_keys, delete_share=DELETE_SHARE,
            tailer_tick_s=TAILER_TICK_S,
        )

    def _pump(self) -> None:
        try:
            while not self._stop.is_set():
                self.tailer.run(max_idle=2)
        except Exception as e:  # noqa: BLE001 — surfaced by the main thread
            self._pump_error = e

    def warm_up(self) -> None:
        from pypgcdc_spark.cdc.models import ColumnDefinition, TableSchema

        ctx = self.ctx
        self.gen = GeneratorProcess(self.cluster.port, ctx.seed, self.rate, self.n_keys)
        self.tailer.start()
        self._stop, self._pump_error = threading.Event(), None
        self.pump = threading.Thread(target=self._pump, daemon=True)
        self.pump.start()
        self.samples = Sampler(
            lambda: (self.tailer.stats(), read_ack(self.log_path)), 0.02
        ).start()
        # First traffic before the stream starts: the source needs a log.
        self.gen.run(FIRST_S)
        self._wait_for(lambda: os.path.exists(self.log_path), 30, "the tailer's first frame")
        schema = TableSchema(
            db="replay", namespace="public", table="accounts", relation_id=0,
            column_definitions=[
                ColumnDefinition("id", True, 20, "int8"),
                ColumnDefinition("v", False, 20, "int8"),
                ColumnDefinition("name", False, 25, "text"),
            ],
        )
        self.target = os.path.join(self.dir, "state")
        self.query = ctx.engine.materialize(
            ctx.engine.stream(self.log_path, num_partitions=NUM_PARTITIONS),
            schema,
            self.target,
            checkpoint=os.path.join(self.dir, "ckpt"),
            drain=False,
            n_buckets=N_BUCKETS,
        )
        # Warm-up: steady traffic at the offered rate from the stream's
        # start, through its cold first batch and the backlog batch after
        # it, runs the stream into its batch rhythm while the JIT compiles.
        self.gen.run(self.warm_s)
        log("warm-up batches (rows, trigger ms): " + str(
            [(r["rows"], r["durations"].get("triggerExecution")) for r in progress_rows(self.query)]
        ))

    # -- measurement ------------------------------------------------------------

    def _wait_for(self, cond, timeout: float, what: str) -> None:
        end = time.time() + timeout
        while not cond():
            if self._pump_error is not None:
                raise RuntimeError(f"tailer failed: {self._pump_error}")
            q = getattr(self, "query", None)
            if q is not None and not q.isActive:
                raise RuntimeError(f"stream stopped: {q.exception()}")
            if time.time() > end:
                raise TimeoutError(f"timed out waiting for {what}")
            time.sleep(0.2)

    def _commits(self) -> list:
        """``(end_pos, commit_lsn)`` of every transaction in the replay
        log, in commit order."""
        from pypgcdc_spark.sources.replay import TxBoundaryScanner, scan_frames

        sc, out = TxBoundaryScanner(), []
        for fr in scan_frames(self.log_path, 0, prefix_bytes=64):
            if sc.feed(fr) is not None:
                out.append((fr.end_pos, fr.lsn))
        return out

    def _applied(self, upto: int) -> bool:
        """True once the first ``upto`` transactions sent are in the log
        and applied by the stream."""
        commits = self._commits()
        if len(commits) < upto:
            return False
        end_pos = commits[upto - 1][0]
        rows = progress_rows(self.query)
        return any((r["end_offset"] or {}).get("pos", 0) >= end_pos for r in rows)

    def measure(self, seconds: float) -> dict:
        # Every window starts alike: earlier traffic all applied, then
        # lead-in traffic (unreported) sets the stream's batch rhythm before
        # the window's transactions start.
        sent = len(self.gen.txs)
        self._wait_for(lambda: self._applied(sent), DRAIN_TIMEOUT_S, "earlier traffic")
        s0 = len(self.samples.samples)
        lead = int(LEAD_S * self.rate)
        first = len(self.gen.txs) + lead
        txs = self.gen.run(LEAD_S + seconds)[lead:]
        n = first + len(txs)
        self._wait_for(lambda: self._applied(n), DRAIN_TIMEOUT_S, "the window")
        commits = self._commits()
        rows = [r for r in progress_rows(self.query) if r["end_offset"]]
        # Which batch made each transaction visible.
        bi, batch_of = 0, []
        for end_pos, _lsn in commits[first:n]:
            while rows[bi]["end_offset"]["pos"] < end_pos:
                bi += 1
            batch_of.append(bi)
        # The engine acks a batch when the next batch starts; the window's
        # last batch has none, so its transactions are not in the ack sample.
        last = batch_of[-1]
        acked_upto = [lsn for (_e, lsn), b in zip(commits[first:n], batch_of) if b < last]
        if acked_upto:
            try:
                self._wait_for(
                    lambda: self.tailer.stats()["flushed_lsn"] >= acked_upto[-1], 5, "the acks"
                )
            except TimeoutError:
                pass  # the missing acks are counted as failures below
        samples = list(self.samples.samples)
        fresh, acked, unacked = [], [], 0
        for (due, _sent, _done), (_end, lsn), b in zip(txs, commits[first:n], batch_of):
            fresh.append(rows[b]["end"] - due)
            if b < last:
                ta = first_time_at_least(samples, lsn, key=lambda v: v[0]["flushed_lsn"])
                if ta is None:
                    unacked += 1
                else:
                    acked.append(ta - due)
        res = self.ctx.result
        res.attempted += len(txs)
        if unacked:
            res.fail("applied transactions were never acked", unacked, counted=True)
        # The batches that carried this window's transactions.
        lo = commits[first - 1][0] if first else 0
        hi = commits[n - 1][0]
        in_window = [
            r for r in rows
            if r["rows"] > 0 and r["end_offset"]["pos"] > lo
            and (r["start_offset"] or {}).get("pos", 0) < hi
        ]
        walls = [r["durations"]["triggerExecution"] / 1000 for r in in_window]
        events = len(txs)
        span = max(r["end"] for r in in_window) - txs[0][0] if in_window else seconds
        late = [sent - due for due, sent, _ in txs]
        self.windows.append(
            {"txs": txs, "batches": in_window, "samples": samples[s0:], "late": late,
             "pos": (lo, hi)}
        )
        log(
            f"window: {events} txs, batches (rows, wall) "
            f"{[(r['rows'], round(w, 2)) for r, w in zip(in_window, walls)]}, "
            f"freshness p50 {median(fresh):.2f}s, "
            f"late p99 {percentile(late, 99):.4f}s"
        )
        return {
            "headline": median(fresh),
            "throughput_eps": events / span,
            "batch_p50_s": median(walls),
            "freshness_p50_s": median(fresh),
            "freshness_p99_s": percentile(fresh, 99),
            "ack_p50_s": median(acked),
        }

    def stop(self) -> None:
        """Stop the stream and the tailer; the materialized table must
        equal the server's table."""
        self.query.stop_and_cancel()
        self._stop.set()
        self.pump.join(30)
        self.samples.stop()
        server = self.cluster.sql("SELECT id, name FROM accounts")
        want = crc_digest((int(i), n) for i, n in server)
        got = spark_digest(self.ctx.spark.read.parquet(self.target), "id", "name")
        self.ctx.result.check(got == want, f"materialized digest {got} != server {want}")
        sim = crc_digest(self.gen.state().items())
        self.ctx.result.check(sim == want, f"generator state {sim} != server {want}")
        self.ctx.result.shape["txs"] = len(self.gen.txs)

    # -- per-layer --------------------------------------------------------------

    def layer_metrics(self, traced: dict) -> dict:
        from wl_stream_apply import stream_layer_metrics

        w = self.windows[-1]
        batches = w["batches"]
        ends = [e for e, _lsn in self._commits()]

        def txs_before(pos):
            return bisect.bisect_right(ends, pos)

        m = stream_layer_metrics(self.ctx, batches, self.log_path, self.target, txs_before)
        # A live log grows while each batch is planned: the scan from the
        # batch start reaches at least the batch's end offset.
        scan = [b["end_offset"]["pos"] - b["start_offset"]["pos"] for b in batches]
        m["pgcdc.plan_scan_bytes"] = (sum(scan) / max(1, len(scan)), "bytes")
        samples = w["samples"]
        span = w["txs"][-1][0] - w["txs"][0][0] or 1.0
        from pypgcdc_spark.sources.replay import scan_frames

        frames = sum(1 for _ in scan_frames(self.log_path, *w["pos"], prefix_bytes=1))
        # Ack forwarding: from the source's ack sidecar advancing to the
        # tailer's flushed LSN reaching it.
        fwd, seen = [], set()
        for t, (stats, ack) in samples:
            if ack is None or ack[1] in seen:
                continue
            seen.add(ack[1])
            tf = first_time_at_least(samples, ack[1], key=lambda v: v[0]["flushed_lsn"])
            if tf is not None:
                fwd.append((tf - t) * 1000)
        m.update({
            "pgwire.fps": (frames / span, "frames/s"),
            "pgwire.lag_bytes_max": (max((s["lag_bytes"] for _t, (s, _a) in samples), default=0), "bytes"),
            "pgwire.reconnects": (self.tailer.reconnects, "count"),
            "pgwire.ack_forward_ms_p50": (median(fwd), "ms"),
            "generator.offered_tps": (len(w["txs"]) / (span + 1 / self.rate), "1/s"),
            "generator.late_s_p99": (percentile(w["late"], 99), "s"),
            "generator.txs": (len(w["txs"]), "count"),
        })
        return m

    def layer_logs(self) -> list:
        return [self.log_path]

    def close(self) -> None:
        q = getattr(self, "query", None)
        if q is not None and q.isActive:
            q.stop_and_cancel()
        if getattr(self, "pump", None) is not None:
            self._stop.set()
            self.pump.join(30)
        if getattr(self, "samples", None) is not None:
            self.samples.stop()
        if getattr(self, "gen", None) is not None:
            self.gen.close()
        if self.cluster is not None:
            self.tailer.stop()
            self.cluster.stop()
            self.cluster = None


if __name__ == "__main__":
    _generator_main(int(sys.argv[1]), int(sys.argv[2]), float(sys.argv[3]), int(sys.argv[4]))
