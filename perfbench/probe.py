"""Outside-in instrumentation for the traced run.

Nothing here touches the package under test. Three sources of numbers:

- :class:`Tracer` records spans (name, start, end, parent) around the
  benchmark's own calls into each layer; spans stay in memory and are
  written as one JSON file when the run ends.
- :class:`SparkCounters` reads Spark's own status store (the JVM-side
  ``AppStatusStore`` and the SQL status store, which exist whether or not
  the web UI is enabled) and sums job, stage, shuffle, spill, CPU, GC and
  input counters over the jobs and stages a phase ran.
- :class:`Py4jCounter` counts py4j round trips by wrapping the gateway
  client's ``send_command``.

When tracing is off, :class:`Tracer` and :class:`SparkCounters` record
nothing, so the untraced run pays one context manager per call.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

STAGE_FIELDS = (
    "inputBytes",
    "inputRecords",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "executorCpuTime",
    "jvmGcTime",
)


class Tracer:
    """In-memory spans; ``span`` is a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


def _some(value) -> str:
    """SQL status-store metric values come back as ``Some(<text>)``."""
    text = str(value)
    return text[5:-1] if text.startswith("Some(") else text


class SparkCounters:
    """Per-phase sums of Spark's own job/stage/SQL counters."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        if not enabled:
            return
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = self._gw.new_array(self._gw.jvm.double, 0)
        self._seen_stages: set[int] = set()
        self._seen_jobs: set[int] = set()
        self._seen_execs: set[int] = set()
        self.phases: dict[str, dict] = {}
        self._drain()  # everything before the first phase is nobody's

    def _drain(self) -> dict:
        """Counters of jobs, stages and SQL executions finished since the
        last call."""
        out = {k: 0 for k in ("jobs", "stages", "files_read", *STAGE_FIELDS)}
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid not in self._seen_jobs:
                self._seen_jobs.add(jid)
                out["jobs"] += 1
        stages = self._store.stageList(None, False, False, self._empty, None)
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid in self._seen_stages or st.status().toString() != "COMPLETE":
                continue
            self._seen_stages.add(sid)
            out["stages"] += 1
            for f in STAGE_FIELDS:
                out[f] += getattr(st, f)()
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid in self._seen_execs or ex.completionTime().isEmpty():
                continue
            self._seen_execs.add(eid)
            values = self._sql.executionMetrics(eid)
            metrics = ex.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() == "number of files read":
                    text = _some(values.get(m.accumulatorId())).replace(",", "")
                    if re.fullmatch(r"\d+", text):
                        out["files_read"] += int(text)
        return out

    @contextlib.contextmanager
    def phase(self, name: str):
        """Attribute everything Spark finishes inside the block to ``name``
        (summed over repeated phases of the same name)."""
        if not self.enabled:
            yield
            return
        self._drain()
        try:
            yield
        finally:
            got = self._drain()
            acc = self.phases.setdefault(name, {k: 0 for k in got} | {"calls": 0})
            acc["calls"] += 1
            for k, v in got.items():
                acc[k] += v

    def get(self, name: str) -> dict:
        return self.phases.get(name, {})


def phase_metrics(prefix: str, counters: dict) -> dict[str, float]:
    """``<phase>.jobs/.stages/.shuffle_write_bytes/.spill_bytes/
    .executor_cpu_s/.gc_s`` from one phase's summed counters."""
    c = {k: counters.get(k, 0) for k in ("jobs", "stages", *STAGE_FIELDS)}
    return {
        f"{prefix}.jobs": c["jobs"],
        f"{prefix}.stages": c["stages"],
        f"{prefix}.shuffle_write_bytes": c["shuffleWriteBytes"],
        f"{prefix}.spill_bytes": c["memoryBytesSpilled"] + c["diskBytesSpilled"],
        f"{prefix}.executor_cpu_s": c["executorCpuTime"] / 1e9,
        f"{prefix}.gc_s": c["jvmGcTime"] / 1e3,
    }


class Py4jCounter:
    """Counts py4j commands sent while ``counting`` is active."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.n = 0
        self._patched = []
        if not enabled:
            return
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        for cls in (jg.GatewayClient, cs.JavaClient):
            if "send_command" in cls.__dict__:
                orig = cls.__dict__["send_command"]
                self._patched.append((cls, orig))
                cls.send_command = self._wrap(orig)

    def _wrap(self, orig):
        def counted(client, *a, **k):
            self.n += 1
            return orig(client, *a, **k)

        return counted

    def close(self) -> None:
        for cls, orig in self._patched:
            cls.send_command = orig
        self._patched = []


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident size (VmHWM) of the driver JVM, read from /proc."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the JVM's /proc status")
