"""Spans around the benchmark's calls into the program, with Spark stage
and job metrics attributed to each span.

A span records name, start, end, parent span and run id.  When a span
ends, the tracer drains Spark's listener bus and reads every stage and job
the application status store holds with an id above the last one already
attributed; those belong to the span that just ended (its *self* stages:
a child span that ended earlier has already taken its own).  Stage ids are
allocated sequentially, so a missing id means the store evicted it
(``spark.ui.retainedStages``) before it was read, and the tracer raises
instead of under-counting.

With tracing off every call is a no-op context manager, so the untraced
run pays nothing.
"""

from __future__ import annotations

import contextlib
import time

# Stage fields summed per span (status-store StageData accessors).
STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class StageGapError(RuntimeError):
    """A stage id was never seen: the status store dropped it."""


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._last_stage = -1
        self._last_job = -1
        self.read_s = 0.0  # time spent reading the status store
        if enabled:
            sc = spark.sparkContext
            self._jsc = sc._jsc.sc()
            self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)
            self._drain()  # stages run before tracing starts are not ours
            self._last_stage = max((st.stageId() for st in self._stages()), default=-1)
            self._last_job = max((j.jobId() for j in self._jobs()), default=-1)

    # ------------------------------------------------------------ store reads
    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages(self):
        lst = self._jsc.statusStore().stageList(
            None, False, False, self._quantiles, None
        )
        it = lst.iterator()
        while it.hasNext():
            yield it.next()

    def _jobs(self):
        it = self._jsc.statusStore().jobsList(None).iterator()
        while it.hasNext():
            yield it.next()

    def _collect_new(self) -> tuple[dict, list[str]]:
        """Sum the metrics of stages and list the jobs with ids above the
        last ones attributed, and advance the watermarks."""
        self._drain()
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        seen = set()
        for s in self._stages():
            sid = s.stageId()
            if sid <= self._last_stage:
                continue
            seen.add(sid)  # a retried stage lists once per attempt
            for f in STAGE_FIELDS:
                totals[f] += getattr(s, f)()
        if seen:
            top = max(seen)
            missing = set(range(self._last_stage + 1, top + 1)) - seen
            if missing:
                raise StageGapError(
                    f"stage ids {sorted(missing)[:10]} evicted from the status "
                    "store before they were read"
                )
            self._last_stage = top
        totals["stages"] = len(seen)
        new_jobs = {j.jobId(): j.name() for j in self._jobs() if j.jobId() > self._last_job}
        if new_jobs:
            self._last_job = max(new_jobs)
        totals["jobs"] = len(new_jobs)
        return totals, [new_jobs[k] for k in sorted(new_jobs)]

    # ------------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {
            "id": len(self.spans),
            "run_id": self.run_id,
            "name": name,
            "parent": parent,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            t0 = time.perf_counter()
            rec["self"], rec["job_names"] = self._collect_new()
            self.read_s += time.perf_counter() - t0

    # ------------------------------------------------------------- read-outs
    def _children(self, sid: int):
        return [s for s in self.spans if s["parent"] == sid]

    def total(self, span: dict) -> dict:
        """Self metrics of ``span`` plus those of all its descendants."""
        out = dict(span["self"])
        for c in self._children(span["id"]):
            for k, v in self.total(c).items():
                out[k] = out.get(k, 0) + v
        return out

    def engine_totals(self) -> dict:
        out = dict.fromkeys(STAGE_FIELDS, 0)
        for s in self.spans:
            for f in STAGE_FIELDS:
                out[f] += s["self"][f]
        return out
