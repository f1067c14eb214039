"""Measurement from outside the program: host record, JVM probes, spans.

- :class:`Host` reads cores, memory, load and CPU steal from ``/proc``;
  :func:`program_id` names the program under test by a hash of its source.
- :class:`Jvm` reads JIT and GC time over JMX (through the py4j
  gateway) and the JVM process's CPU time and peak RSS from ``/proc``.
- :class:`Tracer` records a span around each public ``fuel_spark`` call
  the benchmark makes, and sets a Spark job group per span so that jobs
  launched while a plan is being *built* are charged to the call that
  launched them.  With tracing off it records nothing and sets no group.
- :func:`engine_stages` reads job and stage metrics from the Spark UI's
  REST API once the timed work is over.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import hashlib
import json
import os
import time
import urllib.parse
import urllib.request

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- host -----------------------------------------------------------------


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Host:
    """Per-run host record: what the run had, and how busy the machine was."""

    def __init__(self):
        self.cores = len(os.sched_getaffinity(0))
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        self.mem_total_mb = kb // 1024
        with open("/proc/loadavg") as f:
            self.load1_start = float(f.read().split()[0])
        self._ticks0 = _cpu_ticks()

    def steal_share(self) -> float:
        """Share of the CPU time the machine's processors asked for since
        the run began (busy plus stolen; idle and iowait left out) that
        the hypervisor stole."""
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            b - a for a, b in zip(self._ticks0[:8], _cpu_ticks()[:8]))
        return steal / max(user + nice + system + irq + softirq + steal, 1)


def program_id(root: str) -> str:
    """Short hash of the program under test (``fuel_spark`` and the entry
    module), so that runs of different commits in one checkout stay apart."""
    h = hashlib.sha256()
    paths = sorted(glob.glob(os.path.join(root, "fuel_spark", "**", "*.py"), recursive=True))
    for path in paths + [os.path.join(root, "__spark_entry__.py")]:
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def proc_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


# --- JVM ------------------------------------------------------------------


class Jvm:
    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def snapshot(self) -> dict:
        return {
            "jit_s": self._jit.getTotalCompilationTime() / 1000.0,
            "gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1000.0,
            "cpu_s": proc_cpu_s(self.pid),
        }

    def peak_rss_mb(self) -> float:
        return proc_peak_rss_mb(self.pid)


# --- spans ----------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent, run id, job group."""

    def __init__(self, enabled: bool, run_id: str, sc=None):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(), "end": None,
            "group": f"{self.run_id}.{len(self.spans)}", **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, name: str, **attrs):
        """Route calls to ``module.attr`` through a span (tracing only)."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, **attrs):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def within(self, root: dict) -> list[dict]:
        """``root`` and every span below it."""
        ids = {root["id"]}
        out = [root]
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def self_times(self) -> dict[str, float]:
        """Span name -> total self time: duration minus the part of the
        interval its child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


# --- engine (Spark UI REST API) ------------------------------------------


def _get(sc, path: str):
    base = urllib.parse.urlsplit(sc.uiWebUrl)
    url = f"http://127.0.0.1:{base.port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def engine_jobs(sc) -> list[dict]:
    """Every job the UI retains, each with its stages' metrics attached."""
    stages = {}
    for st in _get(sc, "stages"):
        if st["status"] in ("COMPLETE", "FAILED"):
            stages[(st["stageId"], st["attemptId"])] = st
    by_id: dict[int, list[dict]] = {}
    for (sid, _), st in stages.items():
        by_id.setdefault(sid, []).append(st)
    jobs = _get(sc, "jobs")
    for job in jobs:
        job["stages"] = [st for sid in job["stageIds"] for st in by_id.get(sid, [])]
    return jobs


def stage_totals(jobs: list[dict]) -> dict:
    """Summed engine work of ``jobs``: counts, task time, shuffle, spill."""
    seen = {}
    for job in jobs:
        for st in job["stages"]:
            seen[(st["stageId"], st["attemptId"])] = st
    sts = list(seen.values())

    def total(key):
        return sum(st.get(key, 0) for st in sts)

    return {
        "jobs": len(jobs),
        "stages": len(sts),
        "tasks": total("numCompleteTasks") + total("numFailedTasks"),
        "task_s": total("executorRunTime") / 1000.0,
        "task_cpu_s": total("executorCpuTime") / 1e9,
        "one_task_stage_s": sum(
            st["executorRunTime"] / 1000.0 for st in sts if st["numTasks"] == 1
        ),
        "shuffle_write_mb": total("shuffleWriteBytes") / 2**20,
        "shuffle_read_mb": total("shuffleReadBytes") / 2**20,
        "spill_mb": (total("memoryBytesSpilled") + total("diskBytesSpilled")) / 2**20,
    }
