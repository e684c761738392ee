"""CDC-path benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository.  The last line of
stdout is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Progress, the input shape and failures go to stderr.
See ``perfbench/README.md`` for the workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import importlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
from common import log, median  # noqa: E402

WORKLOADS = ("snapshot_bulk", "stream_apply", "view_maintenance", "live_freshness")

END_TO_END = [
    ("setup_s", "s"),
    ("throughput_eps", "events/s"),
    ("batch_p50_s", "s"),
    ("freshness_p50_s", "s"),
    ("freshness_p99_s", "s"),
    ("ack_p50_s", "s"),
    ("peak_rss_mb", "MB"),
]

PER_LAYER = [
    ("replay.scan_fps", "frames/s"),
    ("replay.frames", "count"),
    ("replay.log_bytes", "bytes"),
    ("replay.tx_boundaries_s", "s"),
    ("pgcdc.plan_s", "s"),
    ("pgcdc.plan_scan_bytes", "bytes"),
    ("pgcdc.rows_read_per_event", "ratio"),
    ("spark_read.s", "s"),
    ("spark_read.single_thread_s", "s"),
    ("pgoutput.decode_fps", "frames/s"),
    ("pgoutput.txn_frame_share", "ratio"),
    ("transform.eps", "events/s"),
    ("transform.events_by_op.I", "count"),
    ("transform.events_by_op.U", "count"),
    ("transform.events_by_op.D", "count"),
    ("transform.events_by_op.T", "count"),
    ("apply.merge_s_p50", "s"),
    ("apply.jobs_per_batch", "count"),
    ("apply.state_bytes", "bytes"),
    ("ivm.apply_s_p50", "s"),
    ("ivm.jobs_per_batch", "count"),
    ("join_ivm.apply_s_p50", "s"),
    ("join_ivm.jobs_per_batch", "count"),
    ("stream.batches", "count"),
    ("stream.latest_offset_ms_p50", "ms"),
    ("stream.add_batch_ms_p50", "ms"),
    ("stream.wal_commit_ms_p50", "ms"),
    ("stream.commit_offsets_ms_p50", "ms"),
    ("pgwire.fps", "frames/s"),
    ("pgwire.lag_bytes_max", "bytes"),
    ("pgwire.reconnects", "count"),
    ("pgwire.ack_forward_ms_p50", "ms"),
    ("generator.offered_tps", "1/s"),
    ("generator.late_s_p99", "s"),
    ("generator.txs", "count"),
    ("trace.overhead_s", "s"),
    ("trace.overhead_frac", "ratio"),
    ("failed_frac", "ratio"),
]

#: input generation (and Postgres boot) repeats this often per run; the
#: median enters ``setup_s``.
SETUP_REPS = 3


class Ctx:
    """What a workload sees: its seed, size, session and result record."""

    def __init__(self, args, work):
        from spans import Tracer

        self.seed = args.seed
        self.size = args.size
        self.work = work
        self.result = common.Result(args.workload, args.seed)
        self.tracer = Tracer()
        self.spark = None
        self.engine = None
        self.sinks = None

    def guard(self, what: str, fn, *a, **kw):
        """Run ``fn``; an exception counts as one failed operation."""
        try:
            return fn(*a, **kw)
        except Exception as e:  # noqa: BLE001 — every raise is a counted failure
            traceback.print_exc(file=sys.stderr)
            self.result.fail(f"{what} raised {type(e).__name__}: {e}")
            return None


def stop_jvm() -> None:
    """Stop the Spark context and wait for its JVM to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — already gone
            pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pypgcdc_spark", "__init__.py")):
        print(
            "perfbench: run from the root of a checkout (pypgcdc_spark/ not found)",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    common.prepare_env(root, work)
    mod = importlib.import_module(f"wl_{args.workload}")
    ctx = Ctx(args, work)
    res = ctx.result
    wl = booting = None
    try:
        from spans import SinkTimer

        from pypgcdc_spark.api import PgCdcEngine

        # The JVM boots while the inputs are generated: input generation
        # repeats SETUP_REPS times and its median enters setup_s.
        session = {}

        def boot():
            t0 = time.perf_counter()
            try:
                session["spark"] = common.start_spark()
            except Exception as e:  # noqa: BLE001 — re-raised below
                session["error"] = e
            session["s"] = time.perf_counter() - t0

        booting = threading.Thread(target=boot)
        booting.start()
        wl = mod.Workload(ctx)
        gen_s = []
        for rep in range(SETUP_REPS):
            if rep:
                wl.discard_inputs()
            d = os.path.join(work, f"inputs{rep}")
            os.makedirs(d)
            t = time.perf_counter()
            wl.make_inputs(d)
            gen_s.append(time.perf_counter() - t)
        booting.join()
        if "error" in session:
            raise session["error"]
        ctx.spark, session_s = session["spark"], session["s"]
        ctx.engine = PgCdcEngine(ctx.spark)
        ctx.sinks = SinkTimer(ctx.tracer, ctx.spark)
        wl.attach()
        wl.prepare()
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + median(gen_s) + warm_s
        log(
            f"setup {setup_s:.2f}s = session {session_s:.2f}s + inputs "
            f"{[round(g, 2) for g in gen_s]} (median) + warm-up {warm_s:.2f}s"
        )

        if not args.trace:
            cpu0 = common.host_cpu()
            e2e = wl.measure(args.seconds)
            common.log_host_cpu(cpu0, "measurement window")
            ctx.guard("stop", wl.stop)
            for name, unit in END_TO_END[1:-1]:
                res.metric(name, e2e[name], unit)
            res.metric("setup_s", setup_s, "s")
            res.metric("peak_rss_mb", common.peak_rss_mb(ctx.spark), "MB")
            names = [n for n, _ in END_TO_END]
        else:
            # Same workload, measurement window split into an untraced
            # quarter, the traced half whose spans give the per-layer table,
            # and another untraced quarter: a drift over the run (the JIT
            # still compiling) weighs on both sides of the overhead alike.
            plain = [wl.measure(args.seconds / 4)]
            ctx.sinks.active = True
            traced = wl.measure(args.seconds / 2)
            ctx.sinks.active = False
            layer = dict(wl.layer_metrics(traced))
            plain.append(wl.measure(args.seconds / 4))
            ctx.guard("stop", wl.stop)
            base = median([p["headline"] for p in plain])
            over = traced["headline"] - base
            res.metric("trace.overhead_s", over, "s")
            res.metric("trace.overhead_frac", over / base, "ratio")
            from layers import replay_layers, spark_read_layers

            for path in wl.layer_logs():
                layer.update(replay_layers(path))
                layer.update(spark_read_layers(ctx.spark, path))
            units = dict(PER_LAYER)
            for name, (value, _unit) in layer.items():
                res.metric(name, value, units[name])
            # A layer the workload never calls did no work on it: zero.
            for name, unit in PER_LAYER:
                if name not in res.metrics and name != "failed_frac":
                    res.metric(name, 0, unit)
            ctx.tracer.dump(os.path.join(root, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json"))
            names = [n for n, _ in PER_LAYER]
    except Exception as e:  # noqa: BLE001
        traceback.print_exc(file=sys.stderr)
        res.fail(f"{args.workload} raised {type(e).__name__}: {e}")
        names = []
    finally:
        if wl is not None:
            ctx.guard("teardown", wl.close)
        if booting is not None:
            booting.join()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if not names:
        return 1
    if args.trace:
        res.metric("failed_frac", res.failed / max(1, res.attempted), "ratio")
    res.emit(names)
    return 0


def _terminate(signum, _frame):
    """SIGTERM/SIGINT unwind through ``run``'s cleanup (Postgres, JVM)."""
    raise KeyboardInterrupt(f"signal {signum}")


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="input size preset; 'tiny' is the smoke-test size",
    )
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
