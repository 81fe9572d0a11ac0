"""Traced runs: in-memory spans around the engine's public entry points,
a reducer for Spark's (uncompressed) event log, and a streaming
progress listener.

Spans are installed by rebinding each traced function wherever a
``pypiper_spark`` module holds it, and removed again by restoring the
originals, so untraced passes (and untraced runs, which never install
them) run the unmodified code.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, attribute, span name); methods are given as "Class.method".
TRACED = (
    ("pypiper_spark.session", "release_query_caches", "session.release_query_caches"),
    ("pypiper_spark.catalog", "load_table", "catalog.load_table"),
    ("pypiper_spark.pipeline", "Pipeline.run", "pipeline.run"),
    ("pypiper_spark.pipeline", "MapBatches.run", "pipeline.mapbatches"),
    ("pypiper_spark.tableformat", "create", "tableformat.create"),
    ("pypiper_spark.tableformat", "append", "tableformat.append"),
    ("pypiper_spark.tableformat", "read", "tableformat.read"),
    ("pypiper_spark.tableformat", "files_for", "tableformat.files_for"),
    ("pypiper_spark.tableformat", "merge_partial", "tableformat.merge_partial"),
    ("pypiper_spark.tableformat", "delete_where", "tableformat.delete_where"),
    ("pypiper_spark.tableformat", "compact", "tableformat.compact"),
    ("pypiper_spark.streaming.twins", "run_table_ingest_stream", "streaming.run_table_ingest_stream"),
    ("pypiper_spark.queries.vectors", "_index_dir", "artifacts.index_dir"),
    ("pypiper_spark.queries.vectors", "_atomic_write_table", "artifacts.publish_table"),
    ("pypiper_spark.queries.vectors", "_atomic_write_df", "artifacts.publish_df"),
)


class Tracer:
    """Spans as (name, start, end, parent index, op) tuples, kept in memory."""

    def __init__(self):
        for modname, _, _ in TRACED:  # import now, not inside a traced pass
            importlib.import_module(modname)
        self.spans: list[tuple] = []
        self.op = ""
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else -1
        with self._lock:  # streaming batches call in from another thread
            idx = len(self.spans)
            self.spans.append(None)
        stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx] = (name, t0, time.perf_counter(), parent, self.op)

    def _wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # -- install / remove -----------------------------------------------------
    def install(self) -> None:
        for modname, attr, name in TRACED:
            mod = sys.modules[modname]
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                setattr(cls, meth, self._wrap(orig, name))
                self._patched.append((cls, meth, orig))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name)
            # also every `from module import fn` alias in the package
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith("pypiper_spark"):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)
                        self._patched.append((m, k, orig))

    def remove(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- reports --------------------------------------------------------------
    def done(self) -> list[tuple]:
        return [s for s in self.spans if s is not None]

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds (total minus children)."""
        child = defaultdict(float)
        for s in self.spans:
            if s is not None and s[3] >= 0:
                child[s[3]] += s[2] - s[1]
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            if s is None:
                continue
            d = out.setdefault(s[0], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["total_s"] += s[2] - s[1]
            d["self_s"] += s[2] - s[1] - child.get(i, 0.0)
        return out

    def totals(self, name: str, ops: set[str] | None = None) -> list[float]:
        """Durations of the outermost ``name`` spans (a nested call to the
        same entry point, like a fan-out branch's ``Pipeline.run``, is
        already inside its parent's time)."""
        spans = self.spans
        return [
            s[2] - s[1]
            for s in self.done()
            if s[0] == name
            and (ops is None or s[4] in ops)
            and (s[3] < 0 or spans[s[3]] is None or spans[s[3]][0] != name)
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [
                        {"name": n, "start": a, "end": b, "parent": p, "op": o}
                        for n, a, b, p, o in self.done()
                    ],
                    "self_times": self.self_times(),
                },
                fh,
            )


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


def add_progress_listener(spark, sink: list):
    """Record (trigger start epoch s, durationMs) of every streaming micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append((_epoch(p.timestamp), dict(p.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener


def _epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs (submit ms, stage ids), completed stage ids and task metrics."""
    jobs, stages, tasks = [], [], []
    paths = sorted(os.path.join(dp, f) for dp, _, fs in os.walk(log_dir) for f in fs)
    for path in paths:
        if os.path.basename(path).startswith((".", "appstatus")):  # checksums, status marker
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append((ev["Submission Time"], ev.get("Stage IDs", [])))
                elif kind == "SparkListenerStageCompleted":
                    stages.append(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "run_ms": m.get("Executor Run Time", 0),
                            "cpu_ns": m.get("Executor CPU Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            "sw": sw.get("Shuffle Bytes Written", 0),
                            "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        }
                    )
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def attribute(log: dict, windows: list[tuple[float, float, str]]) -> dict[str, dict]:
    """Sum event-log figures per op window (wall-clock seconds, start/end/key):
    a job belongs to the window its submission falls in; stages and tasks
    follow their job. Returns key -> figures."""
    wins = sorted(windows)
    stage_key: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "spill_b": 0, "sw_b": 0, "sr_b": 0,
        }
    )
    for submit_ms, stage_ids in log["jobs"]:
        t = submit_ms / 1000.0
        key = next((k for a, b, k in wins if a <= t <= b), None)
        if key is None:
            continue
        d = out[key]
        d["jobs"] += 1
        for s in stage_ids:
            stage_key.setdefault(s, key)
    for sid in log["stages"]:
        if sid in stage_key:
            out[stage_key[sid]]["stages"] += 1
    for tk in log["tasks"]:
        key = stage_key.get(tk["stage"])
        if key is None:
            continue
        d = out[key]
        d["tasks"] += 1
        d["run_s"] += tk["run_ms"] / 1000.0
        d["cpu_s"] += tk["cpu_ns"] / 1e9
        d["gc_s"] += tk["gc_ms"] / 1000.0
        d["spill_b"] += tk["spill"]
        d["sw_b"] += tk["sw"]
        d["sr_b"] += tk["sr"]
    return dict(out)
