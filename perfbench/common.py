"""Shared plumbing for the CDC-path benchmark: statistics, the Spark
session, memory probes, progress parsing and the result record.

Everything here runs in the benchmark process; the engine under test is
imported from the checkout root (``pypgcdc_spark``) and driven only
through its public API.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import threading
import time
import zlib
from datetime import datetime, timezone

CPUS = 4  # Spark local[4]: one core per task slot on the 4-core host


def log(msg: str) -> None:
    """Human-readable progress goes to stderr; stdout carries the result."""
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


# -- statistics -----------------------------------------------------------


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q: float):
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(x for x in xs if x is not None)
    if not xs:
        return float("nan")
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def crc_digest(pairs) -> tuple:
    """Order-independent digest of ``(key, value)`` string pairs: the row
    count and the sum of CRC-32s of ``key|value``.  Spark's ``crc32`` over
    the same UTF-8 bytes yields the same sum, so a state table can be
    checked with one tiny aggregate instead of a collect."""
    n, s = 0, 0
    for k, v in pairs:
        n += 1
        s += zlib.crc32(f"{k}|{'' if v is None else v}".encode())
    return n, s


def spark_digest(df, key_col: str, val_col: str) -> tuple:
    """``crc_digest`` computed by Spark over two columns of ``df``."""
    from pyspark.sql import functions as F

    line = F.concat_ws(
        "|", F.col(key_col).cast("string"), F.coalesce(F.col(val_col).cast("string"), F.lit(""))
    )
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.crc32(line)).alias("s")).first()
    return int(r.n), int(r.s or 0)


# -- environment ------------------------------------------------------------


def prepare_env(root: str, work: str) -> None:
    """Point every writer (JVM, Python workers, tempfile) inside ``work``
    and make the checkout importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH", "")) if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # A fixed 1 GB heap: with a heap allowed to grow, the JVM's RSS follows
    # the collector's sizing heuristics (±30% run to run) instead of the
    # engine's footprint.
    env["SPARK_DRIVER_MEMORY"] = "1g"
    env["SPARK_DRIVER_JAVA_OPTIONS"] = f"-Xms1g -Djava.io.tmpdir={tmp}"
    env["TMPDIR"] = tmp
    env["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp
    if root not in sys.path:
        sys.path.insert(0, root)


def start_spark():
    """Cold-start the engine's Spark session (``session.get_spark``) and
    run one trivial job so JVM class loading is part of set-up."""
    from pypgcdc_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


# -- memory ------------------------------------------------------------------


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of this process plus the Spark JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def host_cpu() -> list:
    """The host's cumulative CPU time by state (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def log_host_cpu(before: list, what: str) -> None:
    """Log the host's busy and steal shares since ``before``: a slow
    window on a busy or stolen host is the host's, not the engine's."""
    d = [b - a for a, b in zip(before, host_cpu())]
    total = sum(d) or 1
    idle = d[3] + d[4]
    log(f"{what}: host busy {100 * (total - idle - d[7]) / total:.0f}%, "
        f"steal {100 * d[7] / total:.1f}%")


# -- streaming progress ---------------------------------------------------------


def _iso_to_epoch(ts: str) -> float:
    return (
        datetime.strptime(ts.rstrip("Z")[:26], "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def progress_rows(query) -> list:
    """One dict per micro-batch of ``query``: batch id, start/end epoch
    seconds, input rows, the engine's duration breakdown (ms) and the
    source's end offset (parsed JSON, or None)."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") and isinstance(p.json, str) else p
        durs = d.get("durationMs") or {}
        start = _iso_to_epoch(d["timestamp"])
        src = (d.get("sources") or [{}])[0]
        end_off = src.get("endOffset")
        if isinstance(end_off, str):
            try:
                end_off = json.loads(end_off)
            except ValueError:
                end_off = None
        start_off = src.get("startOffset")
        if isinstance(start_off, str):
            try:
                start_off = json.loads(start_off)
            except ValueError:
                start_off = None
        out.append(
            {
                "batch": int(d["batchId"]),
                "start": start,
                "end": start + durs.get("triggerExecution", 0) / 1000.0,
                "rows": int(d.get("numInputRows") or 0),
                "durations": {k: float(v) for k, v in durs.items()},
                "start_offset": start_off,
                "end_offset": end_off,
            }
        )
    # recentProgress also reports no-data triggers under the last batch id;
    # keep one record per batch (the one that carried the data).
    by_batch = {}
    for r in out:
        prev = by_batch.get(r["batch"])
        if prev is None or r["rows"] > prev["rows"]:
            by_batch[r["batch"]] = r
    return [by_batch[b] for b in sorted(by_batch)]


# -- sampling -----------------------------------------------------------------


class Sampler:
    """Background thread calling ``fn()`` every ``period`` seconds and
    keeping ``(time, value)`` pairs in memory."""

    def __init__(self, fn, period: float):
        self.fn, self.period = fn, period
        self.samples: list = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            v = self.fn()
            if v is not None:
                self.samples.append((time.time(), v))
            self._stop.wait(self.period)

    def start(self):
        self._t.start()
        return self

    def stop(self):
        self._stop.set()
        self._t.join()


def read_ack(path: str):
    """The source's durable ack sidecar (``<log>.ack``): ``(pos, lsn)``."""
    try:
        with open(path + ".ack") as f:
            a = json.load(f)
        return int(a.get("pos", 0)), int(a.get("lsn", 0))
    except (OSError, ValueError):
        return None


def first_time_at_least(samples, threshold, key=lambda v: v):
    """Earliest sample time whose value reaches ``threshold`` (samples are
    time-ordered and the sampled value is monotone)."""
    lo, hi = 0, len(samples)
    while lo < hi:
        mid = (lo + hi) // 2
        if key(samples[mid][1]) >= threshold:
            hi = mid
        else:
            lo = mid + 1
    return samples[lo][0] if lo < len(samples) else None


# -- result -----------------------------------------------------------------


class Result:
    """Collects metrics, failures and the input shape of one run."""

    def __init__(self, workload: str, seed: int):
        self.workload, self.seed = workload, seed
        self.metrics: dict = {}
        self.shape: dict = {}
        self.attempted = 0
        self.failed = 0

    def metric(self, name: str, value, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; print and count it if it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what}")
        return ok

    def fail(self, what: str, n: int = 1, counted: bool = False) -> None:
        """Count ``n`` failed operations (``counted``: already attempted)."""
        if not counted:
            self.attempted += n
        self.failed += n
        log(f"FAILED ({n}): {what}")

    def emit(self, names) -> None:
        """Print the shape to stderr and the result line to stdout."""
        log("input shape: " + json.dumps(self.shape, sort_keys=True))
        # A metric without samples (NaN) counts as not measured.
        missing = [
            n for n in names
            if n not in self.metrics or math.isnan(self.metrics[n]["value"])
        ]
        for n in missing:
            log(f"FAILED: metric {n} was not measured")
        out = {
            "correct": self.failed == 0 and not missing and self.attempted > 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed + (1 if missing else 0),
            "metrics": {n: self.metrics[n] for n in names if n not in missing},
        }
        print(json.dumps(out), flush=True)


# -- inputs --------------------------------------------------------------------


def upsert_schema(path: str):
    """Table schema of the upsert log's one relation, from its Relation
    frame (what the engine's registry learns on the wire)."""
    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.cdc.registry import SchemaRegistry
    from pypgcdc_spark.sources.replay import scan_frames

    reg = SchemaRegistry()
    for fr in scan_frames(path):
        if fr.payload[:1] == b"R":
            rel = pg.decode_relation(fr.payload)
            reg.register_relation(rel, lsn=fr.lsn)
            return reg.get(rel.relation_id)
    raise ValueError(f"no Relation frame in {path}")


def log_shape(path: str) -> dict:
    """Input shape of a replay log: frames, bytes, transactions, and
    change frames by pgoutput message type."""
    from collections import Counter

    from pypgcdc_spark.sources import replay

    kinds = Counter()
    for fr in replay.scan_frames(path, prefix_bytes=1):
        kinds[fr.payload[:1].decode()] += 1
    return {
        "frames": sum(kinds.values()),
        "log_bytes": replay.log_size(path),
        "txs": kinds["C"],
        "frames_by_type": dict(sorted(kinds.items())),
    }


def wait_progress(query, batch_id: int, timeout: float = 30.0) -> list:
    """``progress_rows(query)`` once batch ``batch_id`` has reported (its
    progress event lands just after its sink call returns)."""
    end = time.time() + timeout
    while True:
        rows = progress_rows(query)
        if any(r["batch"] >= batch_id for r in rows) or time.time() > end:
            return rows
        time.sleep(0.05)

