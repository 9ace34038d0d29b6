"""Spans and counters taken from outside the program.

A traced pass records one span per layer call: name, start, end, parent
and the pass id. Counters are read at the same boundaries:

- py4j round trips, by wrapping ``ClientServerConnection.send_command``
  in this process (the benchmark's own status reads are not counted);
- Spark jobs and stages, by the DAG scheduler's next job and stage ids.
  A job or stage belongs to the innermost span whose id range holds it,
  so jobs launched from ``memdb.update_db``'s drain threads land in the
  span that was open when they started. Job groups would miss them.

After the pass, per-stage tasks, executor CPU, shuffle and spill come
from the status store, which Spark fills with the UI off.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.clientserver import ClientServerConnection


class Py4jCounter:
    """Counts py4j round trips made by any thread of this process."""

    def __init__(self) -> None:
        self.calls = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._orig = None

    def install(self) -> None:
        if self._orig is not None:
            return
        orig = self._orig = ClientServerConnection.send_command
        counter = self

        def send_command(conn, command):
            if not getattr(counter._local, "paused", False):
                with counter._lock:
                    counter.calls += 1
            return orig(conn, command)

        ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            ClientServerConnection.send_command = self._orig
            self._orig = None

    @contextmanager
    def paused(self):
        """Calls made inside this block on this thread are not counted."""
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = False


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    py4j0: int
    job0: int
    stage0: int
    end: float = 0.0
    py4j1: int = 0
    job1: int = 0
    stage1: int = 0
    attrs: dict = field(default_factory=dict)
    # filled by Tracer.finish: counters of this span minus its children
    self_counts: dict = field(default_factory=dict)


STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_cpu_ns": "executorCpuTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


class Tracer:
    """Spans of one pass. Open spans only from the main thread."""

    def __init__(self, spark, py4j: Py4jCounter, pass_id: int) -> None:
        self.spark = spark
        self.py4j = py4j
        self.pass_id = pass_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def _ids(self) -> tuple[int, int]:
        with self.py4j.paused():
            return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    @contextmanager
    def span(self, name: str):
        job0, stage0 = self._ids()
        s = Span(
            name,
            self._stack[-1] if self._stack else None,
            time.perf_counter(),
            self.py4j.calls,
            job0,
            stage0,
        )
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.py4j1 = self.py4j.calls
            s.job1, s.stage1 = self._ids()
            self._stack.pop()

    def _innermost(self, lo: str, hi: str, ident: int) -> Span | None:
        best = None
        for s in self.spans:
            if getattr(s, lo) <= ident < getattr(s, hi):
                best = s  # spans are appended parent-first
        return best

    def finish(self) -> None:
        """Attribute jobs and stages to spans and compute self counts.
        Call once, after the outermost span has closed."""
        for s in self.spans:
            s.self_counts = {
                "s": s.end - s.start,
                "py4j_calls": s.py4j1 - s.py4j0,
                "spark_jobs": 0,
                "stages": 0,
                **{k: 0 for k in STAGE_FIELDS},
            }
        for s in self.spans:
            if s.parent is not None:
                p = self.spans[s.parent].self_counts
                p["s"] -= s.end - s.start
                p["py4j_calls"] -= s.py4j1 - s.py4j0
        root = self.spans[0]
        for job in range(root.job0, root.job1):
            self._innermost("job0", "job1", job).self_counts["spark_jobs"] += 1
        with self.py4j.paused():
            sc = self.spark.sparkContext
            jvm = sc._jvm
            # the status store is fed asynchronously from the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            stages = sc._jsc.sc().statusStore().stageList(
                jvm.java.util.ArrayList(),
                False,
                False,
                sc._gateway.new_array(jvm.double, 0),
                jvm.java.util.ArrayList(),
            )
            for i in range(stages.size()):
                st = stages.apply(i)
                sid = st.stageId()
                if not root.stage0 <= sid < root.stage1 or str(st.status()) == "SKIPPED":
                    continue
                counts = self._innermost("stage0", "stage1", sid).self_counts
                counts["stages"] += 1
                for key, getter in STAGE_FIELDS.items():
                    counts[key] += int(getattr(st, getter)())

    def total(self, key: str, names=None) -> float:
        """Sum of self counts over spans named in ``names`` (all if None)."""
        return sum(
            s.self_counts[key] for s in self.spans if names is None or s.name in names
        )

    def records(self) -> list[dict]:
        return [
            {
                "pass": self.pass_id,
                "id": i,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "attrs": s.attrs,
                "self": s.self_counts,
            }
            for i, s in enumerate(self.spans)
        ]
