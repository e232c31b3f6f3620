"""Spans and counters recorded from outside the engine.

The traced run wraps public functions of each layer (event-log source,
envelope parse, LakeTable data and metadata calls, the replay runner) in
spans kept in memory and written out when the run ends. Each span that
can launch Spark jobs also sets a Spark job group, so the stages of its
jobs can be summed afterwards. Storage calls are counted by a
``PosixStorage`` subclass passed through ``PipelineConfig.storage``.
Nothing in the engine is changed; ``uninstrument`` restores every patch.
"""

from __future__ import annotations

import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from debezium_server_batch_spark.plans.storage import PosixStorage

# StageData getters summed per span; (metric suffix, getter, scale)
STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("input_bytes", "inputBytes", 1),
    ("output_bytes", "outputBytes", 1),
    ("output_rows", "outputRecords", 1),
)

# metadata-only LakeTable calls (no Spark jobs; time is storage + JSON)
METADATA_CALLS = (
    "snapshot", "load", "exists", "checkpoint", "commit_checkpoint", "outstanding_delta_stats",
)


class Tracer:
    """In-memory span recorder. A span is {id, name, parent, run, start,
    end, group}; spans opened on a thread with no open span of its own
    (the runner's per-root merge workers) adopt the innermost span open
    on the thread that created the tracer, unless that thread was marked
    as a root (the benchmark's own lookup workers)."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self.stage_api_ok = True

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def mark_root_thread(self) -> None:
        self._local.root = True

    @contextmanager
    def span(self, name: str, spark_group: bool = True):
        stack = self._stack()
        sid = next(self._ids)
        if stack:
            parent = stack[-1]
        elif getattr(self._local, "root", False):
            parent = None
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id, "group": None}
        prev_group = None
        if spark_group:
            rec["group"] = f"bench-span-{self.run_id}-{sid}"
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(rec["group"], name)
        stack.append(sid)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            stack.pop()
            if spark_group:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def collect_spark_counters(self) -> None:
        """Attach summed stage counters to every span that set a job
        group. Uses the status store's stage data, a private API: if it
        raises, spans keep wall time only and ``stage_api_ok`` is False."""
        tracker = self.sc.statusTracker()
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            store = self.sc._jsc.sc().statusStore()
        except Exception:  # private API missing: wall time only
            self.stage_api_ok = False
            return
        for rec in self.spans:
            if rec["group"] is None:
                continue
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            counters = {"jobs": len(jobs), "stages": 0}
            counters.update({k: 0 for k, _, _ in STAGE_FIELDS})
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                        vals = [(k, getattr(st, g)() * scale) for k, g, scale in STAGE_FIELDS]
                    except Exception:  # skipped stage or private API change
                        continue
                    counters["stages"] += 1
                    for k, v in vals:
                        counters[k] += v
            rec["spark"] = counters


class NoTracer:
    """Stands in for a Tracer when tracing is off: spans cost nothing."""

    @contextmanager
    def span(self, name: str, spark_group: bool = True):
        yield None

    def mark_root_thread(self) -> None:
        pass


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover
    (children on parallel threads may overlap; their union counts once)."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"])) for c in children[s["id"]]
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class CountingStorage(PosixStorage):
    """PosixStorage that counts calls, seconds and payload bytes per op."""

    def __init__(self):
        self.stats: dict[str, list] = defaultdict(lambda: [0, 0.0, 0])
        self._lock = threading.Lock()

    def _timed(self, op: str, fn, *args, nbytes: int = 0):
        t0 = time.monotonic()
        try:
            return fn(*args)
        finally:
            dt = time.monotonic() - t0
            with self._lock:
                st = self.stats[op]
                st[0] += 1
                st[1] += dt
                st[2] += nbytes

    def makedirs(self, path):
        return self._timed("makedirs", super().makedirs, path)

    def isdir(self, path):
        return self._timed("isdir", super().isdir, path)

    def exists(self, path):
        return self._timed("exists", super().exists, path)

    def listdir(self, path):
        return self._timed("listdir", super().listdir, path)

    def read_text(self, path):
        t0 = time.monotonic()
        data = super().read_text(path)
        with self._lock:
            st = self.stats["read_text"]
            st[0] += 1
            st[1] += time.monotonic() - t0
            st[2] += len(data)
        return data

    def write_text(self, path, data):
        return self._timed("write_text", super().write_text, path, data, nbytes=len(data))

    def claim(self, path, data):
        return self._timed("claim", super().claim, path, data, nbytes=len(data))

    def delete(self, path):
        return self._timed("delete", super().delete, path)

    def mtime(self, path):
        return self._timed("mtime", super().mtime, path)

    def walk_files(self, root):
        return iter(self._timed("walk_files", lambda r: list(super(CountingStorage, self).walk_files(r)), root))

    def cleanup_empty_dirs(self, root, min_age_s=0.0):
        return self._timed("cleanup_empty_dirs", super().cleanup_empty_dirs, root, min_age_s)


def instrument(tracer: Tracer):
    """Wrap the layers' public entry points in spans. Returns an undo
    function that restores the original attributes."""
    from debezium_server_batch_spark.plans.laketable import LakeTable
    from debezium_server_batch_spark.sources.event_log import EventLogSource
    from debezium_server_batch_spark.streaming import runner

    undo = []

    def patch(owner, attr, span_name, spark_group, kind="method"):
        raw = owner.__dict__[attr]
        fn = raw.__func__ if kind == "classmethod" else raw

        def wrapped(*args, **kwargs):
            with tracer.span(span_name, spark_group=spark_group):
                return fn(*args, **kwargs)

        wrapped.__name__ = getattr(fn, "__name__", attr)
        setattr(owner, attr, classmethod(wrapped) if kind == "classmethod" else wrapped)
        undo.append((owner, attr, raw))

    patch(EventLogSource, "window_bounds", "event_log.window_bounds", True)
    patch(EventLogSource, "max_offset", "event_log.max_offset", True)
    # the runner binds parse_envelope_batch at import: patch its reference
    patch(runner, "parse_envelope_batch", "envelope.parse_envelope_batch", True, kind="function")
    for name in ("merge", "compact", "compact_deltas"):
        patch(LakeTable, name, f"laketable.{name}", True)
    for name in METADATA_CALLS:
        kind = "classmethod" if name in ("load", "exists") else "method"
        patch(LakeTable, name, f"laketable.{name}", False, kind=kind)
    patch(runner.CdcPipeline, "process_batch", "runner.process_batch", True)
    patch(runner.CdcPipeline, "run", "runner.run", False)

    def restore():
        for owner, attr, raw in reversed(undo):
            setattr(owner, attr, raw)

    return restore
