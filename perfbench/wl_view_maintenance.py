"""view_maintenance — incremental view maintenance over chunked change logs.

Two seeded change logs, shaped like the ``cdc_incremental_view`` and
``cdc_join_view_ivm`` fixtures, stream one parquet chunk per micro-batch
through ``BucketedViewMaintainer`` (an ``events``-shaped keyed log) and
``JoinViewMaintainer`` (an orders/lineitem-shaped two-table log).  Only
here do ``operators/ivm.py`` and ``operators/join_ivm.py`` do the work;
the ``pgcdc`` source does none.

Both views are maintained at once, as a deployment serving two views
would.  Each stream waits at a gate between measurement windows; at the
end each maintained aggregate must equal a batch recompute (in plain
Python) over exactly the chunks its stream applied.
"""

from __future__ import annotations

import json
import os
import random
import time
from collections import defaultdict

from common import log, median, percentile, wait_progress
from spans import Gate

SIZES = {
    # chunks per log, events rows per chunk, user keys,
    # orders per chunk (each with ~4 lines)
    "full": (40, 5_000, 20_000, 600),
    "tiny": (16, 200, 300, 40),
}
EVENT_TYPES = ["view", "click", "cart", "purchase", "error"]  # 'error' deletes
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REV_MOD, REV_PRIORITY = 10, "9-REVISED"
WARM_BATCHES = 4  # the first micro-batches run while the JIT is still compiling
MIN_WINDOW_BATCHES = 2


def _write_chunks(d: str, schema, chunks) -> None:
    """One parquet file per chunk, named and stamped in chunk order (the
    file source admits files in modification-time order)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d)
    now = time.time() - len(chunks)
    for i, rows in enumerate(chunks):
        cols = list(zip(*rows)) if rows else [[] for _ in schema]
        table = pa.table({f.name: pa.array(c, f.type) for f, c in zip(schema, cols)})
        p = os.path.join(d, f"chunk-{i:04d}.parquet")
        pq.write_table(table, p)
        os.utime(p, (now + i, now + i))


class _Stream:
    """One maintainer fed by a gated file stream."""

    def __init__(self, ctx, name, maintainer, log_dir, schema_ddl, work):
        self.ctx, self.name, self.m = ctx, name, maintainer
        self.gate = Gate(warm=WARM_BATCHES)
        self.ckpt = os.path.join(work, f"{name}-ckpt")
        self.query = (
            ctx.spark.readStream.schema(schema_ddl)
            .option("maxFilesPerTrigger", 1)
            .parquet(log_dir)
            .writeStream.foreachBatch(ctx.sinks.wrap(name, maintainer.apply_batch, self.gate))
            .option("checkpointLocation", self.ckpt)
            .start()
        )

    def alive(self) -> bool:
        return self.query.isActive

    def applied_files(self) -> set:
        """Files of every batch the maintainer applied, from the file
        source's own metadata log (every tenth entry is a compaction)."""
        applied = {c.batch for c in self.gate.done}
        d = os.path.join(self.ckpt, "sources", "0")
        files = set()
        for fn in os.listdir(d):
            if not fn.split(".")[0].isdigit():
                continue  # checksum sidecars
            with open(os.path.join(d, fn)) as f:
                for line in f.read().splitlines()[1:]:  # first line: version
                    e = json.loads(line)
                    if e.get("batchId") in applied:
                        files.add(os.path.basename(e["path"]))
        return files

    def stop(self) -> None:
        self.gate.drain()
        self.query.stop()
        self.query.awaitTermination(60)


class Workload:
    name = "view_maintenance"

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_chunks, self.ev_rows, self.n_users, self.orders_per_chunk = SIZES[ctx.size]
        self.streams = []
        self.windows: list = []

    # -- inputs --------------------------------------------------------------

    def attach(self) -> None:
        """Called once the Spark session is up."""

    def make_inputs(self, rep_dir: str) -> None:
        import pyarrow as pa

        rng = random.Random(self.ctx.seed)
        self.dir = rep_dir
        # events: dense event ids (the LSN), LSN-ordered chunks.
        ev_chunks, eid = [], 0
        for _ in range(self.n_chunks):
            rows = []
            for _ in range(self.ev_rows):
                eid += 1
                rows.append(
                    (eid, rng.randrange(self.n_users), rng.choice(EVENT_TYPES),
                     rng.randrange(1, 100_000) / 100)
                )
            ev_chunks.append(rows)
        self.ev_schema = pa.schema(
            [("event_id", pa.int64()), ("user_id", pa.int64()),
             ("event_type", pa.string()), ("value", pa.float64())]
        )
        self.ev_chunks = ev_chunks
        _write_chunks(os.path.join(rep_dir, "events"), self.ev_schema, ev_chunks)

        # orders (table A upserts, lsn 4k; every REV_MOD-th key revised at
        # 4k+2) and lineitem (table B, lsn 4k+1), hash-chunked so related
        # rows split across batches, revisions in later chunks.
        j_chunks = [[] for _ in range(self.n_chunks)]
        n_orders = self.orders_per_chunk * self.n_chunks
        for k in range(1, n_orders + 1):
            c = rng.randrange(self.n_chunks)
            j_chunks[c].append((4 * k, "A", k, None, rng.randrange(1, 5000),
                                rng.choice(PRIORITIES), None))
            if k % REV_MOD == 0:
                j_chunks[rng.randrange(c, self.n_chunks)].append(
                    (4 * k + 2, "A", k, None, rng.randrange(1, 5000), REV_PRIORITY, None)
                )
            for ln in range(1, rng.randrange(1, 8) + 1):
                j_chunks[rng.randrange(self.n_chunks)].append(
                    (4 * k + 1, "B", k, ln, None, None, rng.randrange(100, 10_000_000))
                )
        self.j_schema = pa.schema(
            [("lsn", pa.int64()), ("tbl", pa.string()), ("orderkey", pa.int64()),
             ("linenumber", pa.int64()), ("custkey", pa.int64()),
             ("priority", pa.string()), ("cents", pa.int64())]
        )
        self.j_chunks = j_chunks
        _write_chunks(os.path.join(rep_dir, "join"), self.j_schema, j_chunks)

    def prepare(self) -> None:
        ev = sum(len(c) for c in self.ev_chunks)
        jn = sum(len(c) for c in self.j_chunks)
        ops = defaultdict(int)
        for c in self.ev_chunks:
            for r in c:
                ops["D" if r[2] == "error" else "U"] += 1
        self.ctx.result.shape.update(
            events_rows=ev, join_rows=jn, chunks_per_log=self.n_chunks,
            keys=self.n_users, orders=self.orders_per_chunk * self.n_chunks,
            events_by_op=dict(ops),
        )

    def warm_up(self) -> None:
        from pypgcdc_spark.operators.ivm import BucketedViewMaintainer
        from pypgcdc_spark.operators.join_ivm import A_SCHEMA, JoinViewMaintainer

        ctx, d = self.ctx, self.dir
        ev_ddl = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"
        ivm = BucketedViewMaintainer(
            ctx.spark, os.path.join(d, "ivm"), n_buckets=16,
            guard_id=os.path.join(d, "ivm-ckpt"),
        )
        jivm = JoinViewMaintainer(
            ctx.spark, os.path.join(d, "jivm"), guard_id=os.path.join(d, "join_ivm-ckpt")
        )
        for name, m, src, ddl in (
            ("ivm", ivm, "events", ev_ddl),
            ("join_ivm", jivm, "join", A_SCHEMA),
        ):
            self.streams.append(_Stream(ctx, name, m, os.path.join(d, src), ddl, d))
        for s in self.streams:
            s.gate.wait_calls(WARM_BATCHES, timeout=150, alive=s.alive)

    # -- measurement -----------------------------------------------------------

    def measure(self, seconds: float) -> dict:
        """Each figure is taken per view, then averaged over the two views
        (throughput: summed).  The two maintainers' batches differ in cost;
        one median over both would fall between the two groups and jump
        with the count of each in the window."""
        per_view, window = [], []
        for s in self.streams:
            s.gate.open(seconds, MIN_WINDOW_BATCHES)
        for s in self.streams:
            t0, t1, calls = s.gate.close(timeout=120, alive=s.alive)
            rows = {r["batch"]: r for r in wait_progress(s.query, calls[-1].batch)}
            window.append((s.name, [rows[c.batch] for c in calls]))
            walls, fresh, acked, events = [], [], [], 0
            for c in calls:
                b = rows[c.batch]
                events += b["rows"]
                # A batch's trigger time less its wait at the gate.  A change
                # row is available from the (adjusted) start of the batch
                # that admits it and acknowledged when the batch's entry in
                # the checkpoint's commit log is written.
                start = b["start"] + c.waited
                walls.append(b["durations"]["triggerExecution"] / 1000 - c.waited)
                fresh += [b["end"] - start] * b["rows"]
                commit = os.path.join(s.ckpt, "commits", str(c.batch))
                if os.path.exists(commit):
                    acked += [os.stat(commit).st_mtime - start] * b["rows"]
            per_view.append({
                "throughput_eps": events / (t1 - t0),
                "batch_p50_s": median(walls),
                "freshness_p50_s": median(fresh),
                "freshness_p99_s": percentile(fresh, 99),
                "ack_p50_s": median(acked),
            })
            log(f"{s.name} window {t1 - t0:.2f}s: batches {[c.batch for c in calls]}, "
                f"walls {[round(w, 2) for w in walls]}")
        self.windows.append(window)
        out = {k: sum(v[k] for v in per_view) / len(per_view) for k in per_view[0]}
        out["throughput_eps"] = sum(v["throughput_eps"] for v in per_view)
        out["headline"] = out["batch_p50_s"]
        return out

    def stop(self) -> None:
        """Stop both streams on a batch boundary; check each maintained
        aggregate against a recompute over the chunks it applied."""
        for s in self.streams:
            s.stop()
        ev_files = self.streams[0].applied_files()
        j_files = self.streams[1].applied_files()
        want_ev = events_view([r for i, c in enumerate(self.ev_chunks)
                               if f"chunk-{i:04d}.parquet" in ev_files for r in c])
        want_j = join_view([r for i, c in enumerate(self.j_chunks)
                            if f"chunk-{i:04d}.parquet" in j_files for r in c])
        got_ev = sorted(tuple(r) for r in self.streams[0].m.aggregate().collect())
        got_j = sorted(tuple(r) for r in self.streams[1].m.aggregate().collect())
        res = self.ctx.result
        res.check(got_ev == want_ev, f"ivm aggregate {got_ev} != recompute {want_ev}")
        res.check(got_j == want_j, f"join_ivm aggregate {got_j} != recompute {want_j}")
        res.shape["chunks_applied"] = {"ivm": len(ev_files), "join_ivm": len(j_files)}

    def layer_metrics(self, traced: dict) -> dict:
        tr = self.ctx.tracer
        m = {}
        for name, batches in self.windows[-1]:
            m[f"{name}.apply_s_p50"] = (median(tr.durations(name)), "s")
            m[f"{name}.jobs_per_batch"] = (median(tr.attr(name, "jobs")), "count")
        every = [b for _n, bs in self.windows[-1] for b in bs]
        dur = lambda k: [b["durations"].get(k, 0) for b in every]  # noqa: E731
        m.update({
            "stream.batches": (len(every), "count"),
            "stream.latest_offset_ms_p50": (median(dur("latestOffset")), "ms"),
            "stream.add_batch_ms_p50": (median(dur("addBatch")), "ms"),
            "stream.wal_commit_ms_p50": (median(dur("walCommit")), "ms"),
            "stream.commit_offsets_ms_p50": (median(dur("commitOffsets")), "ms"),
        })
        return m

    def layer_logs(self) -> list:
        return []  # no replay log: the pgcdc source is bypassed

    def discard_inputs(self) -> None:
        pass

    def close(self) -> None:
        for s in self.streams:
            if s.alive():
                s.stop()


# -- batch recomputes ------------------------------------------------------------


def events_view(rows) -> list:
    """Live keys and cent sums per last event type ('error' deletes)."""
    last = {}
    for eid, uid, etype, value in rows:
        if uid not in last or eid > last[uid][0]:
            last[uid] = (eid, etype, value)
    agg = defaultdict(lambda: [0, 0])
    for _eid, etype, value in last.values():
        if etype != "error":
            agg[etype][0] += 1
            agg[etype][1] += int(round(value * 100))
    return sorted((t, n, c) for t, (n, c) in agg.items())


def join_view(rows) -> list:
    """Lines and cent sums per current order priority (newest A row by
    LSN per order, inner-joined to the B lines seen so far)."""
    prio = {}
    for lsn, tbl, ok, _ln, _ck, p, _c in rows:
        if tbl == "A" and (ok not in prio or lsn > prio[ok][0]):
            prio[ok] = (lsn, p)
    agg = defaultdict(lambda: [0, 0])
    for _lsn, tbl, ok, _ln, _ck, _p, cents in rows:
        if tbl == "B" and ok in prio:
            a = agg[prio[ok][1]]
            a[0] += 1
            a[1] += cents
    return sorted((p, n, c) for p, (n, c) in agg.items())
