"""Per-layer tracing from outside the program.

Spans are timed around the benchmark's own calls into each layer and kept
in memory until :meth:`Tracer.write`. Counts come from the same
boundaries:

- py4j commands, by wrapping the gateway client's ``send_command``; the
  ``m`` commands that Python's GC sends to release JVM objects are left
  out, so the count repeats exactly;
- Spark jobs, stages, tasks and bytes, through a job group per operation
  and the JVM status store (this works with the UI off);
- strategy routes, by wrapping the executor's module-level top-k
  functions.

The wrappers and the job group are in place only between
:meth:`Tracer.install` and :meth:`Tracer.close`, so untraced work in the
same process runs the program as it is.
"""

from __future__ import annotations

import json
import time

ROUTES = (
    "topk_wand",
    "topk_and_cogrouped",
    "_topk_and_intersect",
    "topk_wand_and",
    "topk_phrase_cogrouped",
)
STAGE_FIELDS = {
    "tasks": "numTasks",
    "scan_bytes": "inputBytes",
    "scan_rows": "inputRecords",
    "shuffle_bytes": "shuffleWriteBytes",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.jvm_cmds = 0
        self.routes_hit: set[str] = set()
        self._patched: list[tuple[object, str, object]] = []

    def install(self) -> None:
        self._wrap_py4j()
        self._wrap_routes()

    # ---- spans ---------------------------------------------------------
    def span(self, name: str, span_id: str, parent: str | None = None) -> "_Span":
        """Time ``name``; spans of one query share ``span_id``."""
        return _Span(self, name, span_id, parent)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)

    # ---- py4j commands -------------------------------------------------
    def _wrap_py4j(self) -> None:
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(command, *a, **kw):
            if not command.startswith("m\n"):
                self.jvm_cmds += 1
            return send(command, *a, **kw)

        client.send_command = counted
        self._patched.append((client, "send_command", None))

    # ---- strategy routes -----------------------------------------------
    def _wrap_routes(self) -> None:
        from lucene_spark.search import executor

        for name in ROUTES:
            fn = getattr(executor, name)

            def routed(*a, _fn=fn, _name=name, **kw):
                self.routes_hit.add(_name)
                return _fn(*a, **kw)

            setattr(executor, name, routed)
            self._patched.append((executor, name, fn))

    def close(self) -> None:
        for obj, name, orig in reversed(self._patched):
            if orig is None:
                delattr(obj, name)
            else:
                setattr(obj, name, orig)
        self._patched.clear()
        self.sc._jsc.clearJobGroup()

    # ---- Spark jobs of one operation -----------------------------------
    def start_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Stage, task, byte and executor-time totals of finished jobs.

        Reads the live status store right away: it keeps only the most
        recent stages (spark.ui.retainedStages, 1000 by default)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        totals = {k: 0.0 for k in STAGE_FIELDS}
        totals["stages"] = 0.0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                attempts = store.stageData(sid, False, _empty_list(self.sc),
                                           False, _empty_doubles(self.sc))
                if attempts.isEmpty():
                    continue  # skipped stage: its output was reused
                st = attempts.head()
                if str(st.status().toString()) == "SKIPPED":
                    continue
                totals["stages"] += 1
                for k, getter in STAGE_FIELDS.items():
                    totals[k] += float(getattr(st, getter)())
        return totals


class _Span:
    def __init__(self, tracer: Tracer, name: str, span_id: str, parent: str | None):
        self.t, self.name, self.id, self.parent = tracer, name, span_id, parent

    def __enter__(self) -> "_Span":
        self.cmds0 = self.t.jvm_cmds
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        self.jvm_cmds = self.t.jvm_cmds - self.cmds0
        self.t.spans.append({
            "name": self.name, "id": self.id, "parent": self.parent,
            "start": self.start, "end": self.end, "jvm_cmds": self.jvm_cmds,
        })

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


def _empty_list(sc):
    return sc._jvm.java.util.ArrayList()


def _empty_doubles(sc):
    return sc._gateway.new_array(sc._jvm.double, 0)
