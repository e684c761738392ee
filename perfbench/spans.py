"""In-memory spans recorded around calls into the engine's layers.

The traced run wraps public entry points (sink calls, solo drives of the
codec, transform, replay scan and planner) from the benchmark's own
files; nothing inside the engine is instrumented.  Spans stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import namedtuple
from contextlib import contextmanager


class Tracer:
    """Spans with ids and parents; each thread nests its own spans (two
    streams' sinks can run at once)."""

    def __init__(self):
        self.spans: list = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {"id": sid, "parent": stack[-1] if stack else None, "name": name,
               "start": time.time(), **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.spans.append(rec)

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def attr(self, name: str, key: str) -> list:
        return [s[key] for s in self.spans if s["name"] == name and key in s]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class SinkTimer:
    """Wraps foreachBatch sink calls: while ``active``, each call is
    recorded as a span carrying the number of Spark jobs it started
    (``StatusTracker`` jobs of the sink's job group, plus ungrouped jobs:
    helper threads a sink spawns carry no group, so with two sinks in
    flight an ungrouped job counts for both)."""

    def __init__(self, tracer: Tracer, spark):
        self.tracer = tracer
        self.sc = spark.sparkContext
        self.active = False
        #: gate for the sink ``materialize`` builds internally (see patch_merger)
        self.merge_gate = None

    def _jobs(self, group) -> int:
        t = self.sc.statusTracker()
        n = len(t.getJobIdsForGroup(None))
        return n + (len(t.getJobIdsForGroup(group)) if group else 0)

    def call(self, name: str, fn, batch_df, batch_id, job_group=None, gate=None):
        """Run ``fn(batch_df, batch_id)`` once ``gate`` admits it (a gate
        that drains skips it).  ``job_group`` names a group the sink sets
        itself, otherwise a traced call runs under a fresh one."""
        if gate is not None and not gate.admit():
            return
        t0 = time.time()
        try:
            if self.active:
                self._traced(name, fn, batch_df, batch_id, job_group)
            else:
                fn(batch_df, batch_id)
        finally:
            if gate is not None:
                gate.release(int(batch_id), t0, time.time())

    def _traced(self, name, fn, batch_df, batch_id, job_group):
        own = job_group is None
        if own:
            # The sink runs on the stream's thread: restore its job-group
            # properties afterwards so stop() still cancels the stream.
            saved = {k: self.sc.getLocalProperty(k) for k in _GROUP_PROPS}
            job_group = f"perfbench-{name}-{batch_id}-{time.time_ns()}"
            self.sc.setJobGroup(job_group, f"perfbench {name} batch {batch_id}")
        before = self._jobs(job_group)
        try:
            with self.tracer.span(name, batch=int(batch_id)) as rec:
                fn(batch_df, batch_id)
            rec["jobs"] = self._jobs(job_group) - before
        finally:
            if own:
                for k, v in saved.items():
                    self.sc.setLocalProperty(k, v)

    def wrap(self, name: str, fn, gate=None):
        return lambda batch_df, batch_id: self.call(
            name, fn, batch_df, batch_id, gate=gate
        )


#: An admitted sink call: batch id, start/end (epoch s), and how long it
#: waited at the gate — time inside its batch's trigger that is the
#: benchmark's, not the engine's.
Call = namedtuple("Call", "batch start end waited")


class Gate:
    """Admits a stream's sink calls into measurement windows.

    A call arriving while the gate is shut waits (the stream pauses on a
    batch boundary); ``drain()`` releases waiting calls without running
    them, so the stream can be stopped with no half-applied batch.  The
    first ``warm`` calls are admitted unconditionally.
    """

    def __init__(self, warm: int):
        self.cv = threading.Condition()
        self.warm = warm
        self.deadline = None
        self.min_calls = 0
        self.skip = False
        self.inflight = 0
        self._waited: dict = {}  # thread -> seconds its current call waited
        self.done: list = []  # Call per admitted sink call

    def admit(self) -> bool:
        arrived = time.time()
        with self.cv:
            while True:
                if self.skip:
                    return False
                if self.warm > 0:
                    self.warm -= 1
                    break
                if self.deadline is not None and (
                    time.time() < self.deadline or self.min_calls > 0
                ):
                    self.min_calls -= 1
                    break
                self.cv.wait(0.1)
            self.inflight += 1
            self._waited[threading.get_ident()] = time.time() - arrived
            return True

    def release(self, batch_id: int, t0: float, t1: float) -> None:
        with self.cv:
            self.inflight -= 1
            waited = self._waited.pop(threading.get_ident(), 0.0)
            self.done.append(Call(batch_id, t0, t1, waited))
            self.cv.notify_all()

    def wait_calls(self, n: int, timeout: float, alive=None) -> None:
        """Block until ``n`` calls have completed."""
        end = time.time() + timeout
        with self.cv:
            while len(self.done) < n:
                if time.time() > end:
                    raise TimeoutError(f"only {len(self.done)}/{n} sink calls completed")
                if alive is not None and not alive():
                    raise RuntimeError("stream stopped during warm-up")
                self.cv.wait(0.1)

    def open(self, seconds: float, min_calls: int) -> None:
        """Admit calls for ``seconds``, and at least ``min_calls`` of them."""
        with self.cv:
            self._first = len(self.done)
            self.t_open = time.time()
            self.deadline = self.t_open + seconds
            self.min_calls = min_calls
            self.cv.notify_all()

    def close(self, timeout: float, alive=None) -> tuple:
        """Wait until the window's last admitted call has returned; shut
        the gate.  Returns ``(t_open, t_close, calls)``.  ``alive()``
        returning False (the stream died) aborts the wait."""
        end = self.deadline + timeout
        with self.cv:
            while time.time() < self.deadline or self.min_calls > 0 or self.inflight:
                if time.time() > end:
                    raise TimeoutError("measurement window did not close")
                if alive is not None and not alive():
                    raise RuntimeError("stream stopped inside the measurement window")
                self.cv.wait(0.1)
            self.deadline = None
            calls = self.done[self._first:]
        t_close = calls[-1].end if calls else time.time()
        return self.t_open, t_close, calls

    def window(self, seconds: float, min_calls: int, timeout: float, alive=None) -> tuple:
        self.open(seconds, min_calls)
        return self.close(timeout, alive)

    def drain(self) -> None:
        with self.cv:
            self.skip = True
            self.cv.notify_all()


def patch_merger(sinks: SinkTimer) -> None:
    """Route ``DeleteAwareMerger`` sink calls (the sink ``materialize``
    builds internally) through ``sinks`` as ``apply.merge`` spans."""
    from pypgcdc_spark.cdc.apply import DeleteAwareMerger

    orig = DeleteAwareMerger.__call__
    if getattr(orig, "_perfbench", False):
        return

    def call(self, batch_df, epoch_id):
        return sinks.call(
            "apply.merge", lambda b, e: orig(self, b, e), batch_df, epoch_id,
            job_group=self.job_group, gate=sinks.merge_gate,
        )

    call._perfbench = True
    DeleteAwareMerger.__call__ = call
