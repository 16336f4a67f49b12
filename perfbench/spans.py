"""Op recorder and the traced run's span harness.

Every workload op runs inside ``Recorder.op(kind)``, which times it. With
tracing on, the recorder also

* wraps the public functions of each layer (``install``) so that every call
  becomes a span ``{name, start, end, parent, op}`` kept in memory;
* tags the op's Spark jobs with ``setJobGroup(op_id)`` and, after the op
  (outside its timing), reads every job the op started from Spark's status
  store: stages, tasks, input records, shuffle bytes, executor run time.

Spans and op records are written out once, when the run ends (``dump``).
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Op:
    op_id: int
    kind: str
    timed: bool
    ms: float = 0.0
    ok: bool = False
    elements: int = 0  # input changelog elements the op fed in
    rows: int | None = None  # rows a read returned
    rejects: int = 0  # 4xx statuses and REJECTED commits in the answer
    jobs: list = field(default_factory=list)  # (start_ms, end_ms)
    stages: int = 0
    tasks: int = 0
    input_records: int = 0
    shuffle_bytes: int = 0
    task_busy_ms: int = 0


class Recorder:
    def __init__(self, spark=None, traced: bool = False) -> None:
        self.spark = spark
        self.traced = traced
        self.ops: list[Op] = []
        self.spans: list[dict] = []
        self.current: Op | None = None
        self._local = threading.local()
        self._last_job = -1

    # -- ops ---------------------------------------------------------------

    @contextmanager
    def op(self, kind: str, *, timed: bool = True, elements: int = 0):
        o = Op(op_id=len(self.ops), kind=kind, timed=timed, elements=elements)
        self.ops.append(o)
        sc = self.spark.sparkContext if self.traced else None
        if sc is not None:
            sc.setJobGroup(f"op-{o.op_id}", kind)
        self.current = o
        t0 = time.perf_counter()
        try:
            yield o
        finally:
            o.ms = (time.perf_counter() - t0) * 1000.0
            self.current = None
            if sc is not None:
                self._read_jobs(o)

    def timed(self) -> list[Op]:
        return [o for o in self.ops if o.timed]

    def _read_jobs(self, o: Op) -> None:
        """Attribute every job started since the previous op to ``o``."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)  # newest first
        newest = self._last_job
        for i in range(jobs.length()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                o.jobs.append((sub.get().getTime(), done.get().getTime()))
            stage_ids = j.stageIds()
            for k in range(stage_ids.length()):
                try:
                    sd = store.lastStageAttempt(stage_ids.apply(k))
                except Exception:
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                o.stages += 1
                o.tasks += sd.numTasks()
                o.input_records += sd.inputRecords()
                o.shuffle_bytes += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                o.task_busy_ms += sd.executorRunTime()
        self._last_job = newest

    def sync_jobs(self) -> None:
        """Skip past jobs started outside any op (set-up, checks)."""
        if self.traced:
            o = Op(op_id=-1, kind="", timed=False)
            self._read_jobs(o)

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, owner, attr: str, name: str, *, pre=None, post=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        fn = getattr(owner, attr)
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            st = rec._stack()
            span = {
                "name": name,
                "parent": st[-1] if st else None,
                "op": rec.current.op_id if rec.current is not None else None,
            }
            ctx = pre(args) if pre is not None else None
            rec.spans.append(span)
            st.append(len(rec.spans) - 1)
            span["start"] = time.perf_counter()
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                span["end"] = time.perf_counter()
                st.pop()
                if post is not None:
                    post(span, ctx, args, result)

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the public functions of every measured layer."""
        import proxima_platform_spark.changelog as changelog
        import proxima_platform_spark.sources.batch as src_batch
        import proxima_platform_spark.sources.registry as registry
        import proxima_platform_spark.streaming.cached_view as cached_view
        from proxima_platform_spark.catalog import proto
        from proxima_platform_spark.env import AttributeEnv
        from proxima_platform_spark.operators.stream import Stream
        from proxima_platform_spark.operators.windowed import WindowedStream
        from proxima_platform_spark.server.rpc import RpcServer
        from proxima_platform_spark.streaming.replication import ReplicationController
        from proxima_platform_spark.transactions import TransactionManager

        def out_bytes(span, ctx, args, result):
            span["bytes"] = len(result or b"")

        def in_bytes(span, ctx, args, result):
            span["bytes"] = len(args[1])

        self.wrap(proto, "encode", "catalog.codec", post=out_bytes)
        self.wrap(proto, "decode", "catalog.codec", post=in_bytes)
        for m in ("get", "ingest", "list_attributes", "begin", "commit"):
            self.wrap(RpcServer, m, f"server.{m}")
        for m in ("get", "list", "put", "delete", "delete_all"):
            self.wrap(AttributeEnv, m, f"env.{m}")
        self.wrap(registry.DataOperator, "batch_snapshot", "sources.batch_snapshot")
        self.wrap(registry.DataOperator, "batch_updates", "sources.batch_updates")
        self.wrap(changelog, "compact", "changelog.compact")
        self.wrap(changelog, "snapshot", "changelog.snapshot")
        for mod, alias in ((src_batch, "_snapshot"), (registry, "_snapshot"),
                           (cached_view, "snapshot_read")):
            setattr(mod, alias, changelog.snapshot)
        self.wrap(TransactionManager, "commit", "txn.commit",
                  post=lambda span, ctx, args, result: span.update(state=result.name))
        for m in ("time_window", "session_window", "integrate_per_key"):
            self.wrap(Stream, m, "operators.plan")
        for m in ("sum_by_key", "count"):
            self.wrap(WindowedStream, m, "operators.plan")
        for m in ("replicate", "replicate_with", "await_all"):
            self.wrap(ReplicationController, m, f"streaming.{m}")

        def base_of(args):
            return args[0]._manifest()["base"]

        def compacted(span, before, args, result):
            span["compacted"] = args[0]._manifest()["base"] != before

        self.wrap(cached_view.CachedView, "update", "streaming.view_update",
                  pre=base_of, post=compacted)
        self.wrap(cached_view.CachedView, "get", "streaming.view_get")

    def dump(self, directory: str) -> None:
        """Write spans and op records out as JSON lines."""
        from dataclasses import asdict

        with open(f"{directory}/spans.jsonl", "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
        with open(f"{directory}/ops.jsonl", "w") as f:
            for o in self.ops:
                f.write(json.dumps(asdict(o)) + "\n")


def wrapper_cost_ms(calls: int = 20_000) -> float:
    """Added cost of one span wrapper around an empty call, in ms."""

    class Box:
        def f(self):
            return None

    rec = Recorder()
    box = Box()
    t0 = time.perf_counter()
    for _ in range(calls):
        box.f()
    bare = time.perf_counter() - t0
    rec.wrap(Box, "f", "calibrate")
    t0 = time.perf_counter()
    for _ in range(calls):
        box.f()
    wrapped = time.perf_counter() - t0
    return max(wrapped - bare, 0.0) * 1000.0 / calls
