"""Tracing from outside the program: spans, Spark job groups, process RSS.

Spans are recorded by the benchmark around its calls into the engine's
public functions. With tracing on, every span runs its Spark jobs under its
own job group, so job, stage and task counts can be read back per span from
the status tracker. Inside a span opened with ``phases=True`` (one search
request), each DataFrame action is wrapped in a child span named after the
engine phase that issued it, recognised by the action's output columns.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

#: output columns of the actions a search issues → the phase they belong to
PHASES = [
    ({"shard", "doc_id", "score", "cand"}, "kernel"),
    ({"term", "site", "df"}, "term_stats"),
    ({"conv_id", "turn_idx", "text"}, "snippet_text"),
    ({"doc_id", "conv_id", "turn_idx", "site"}, "doc_meta"),
    ({"site", "pages", "lemmas"}, "stats_agg"),
    ({"stage", "status"}, "build_status"),
]


def phase_of(columns: list[str]) -> str:
    cols = set(columns)
    for need, name in PHASES:
        if need <= cols:
            return name
    return "other"


class Tracer:
    """Span recorder. Disabled, :meth:`span` costs one branch."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        if enabled:
            self._patch_actions()

    @contextmanager
    def span(self, name: str, qid=None, phases: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "qid": qid if qid is not None else (parent["qid"] if parent else None),
            "phases": False,  # set once the tracer's own JVM calls are done
            "group": f"perfbench-{len(self.spans)}-{name}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["phases"] = phases
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["phases"] = False
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._stack.pop()

    def _in_request(self) -> dict | None:
        """The innermost span, if it is a request span and this is the main
        thread (background threads are not traced)."""
        top = self._stack[-1] if self._stack else None
        if top is None or not top["phases"] or threading.current_thread() is not self._main:
            return None
        return top

    def _patch_actions(self) -> None:
        """Inside a request span, run each DataFrame action in a child span
        named after its phase, and add the time of every other Python→JVM
        call (DataFrame planning) to the request's ``plan_s``."""
        from py4j.java_gateway import JavaMember

        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame
        tracer = self
        self._main = threading.main_thread()

        def action(orig):
            def traced(df, *a, **kw):
                if tracer._in_request() is None:
                    return orig(df, *a, **kw)
                with tracer.span("phase:" + phase_of(df.columns)):
                    return orig(df, *a, **kw)

            return traced

        def jvm_call(orig):
            def traced(member, *a):
                top = tracer._in_request()
                if top is None:
                    return orig(member, *a)
                t0 = time.perf_counter()
                try:
                    return orig(member, *a)
                finally:
                    top["plan_s"] = top.get("plan_s", 0.0) + time.perf_counter() - t0

            return traced

        for cls, name, wrap in (
            (DataFrame, "collect", action),
            (DataFrame, "toPandas", action),
            (JavaMember, "__call__", jvm_call),
        ):
            orig = getattr(cls, name)
            self._patched.append((cls, name, orig))
            setattr(cls, name, wrap(orig))

    def close(self) -> None:
        for cls, name, orig in self._patched:
            setattr(cls, name, orig)
        self._patched.clear()

    # ---- read-back -------------------------------------------------------
    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def subtree(self, rec: dict) -> list[dict]:
        out, todo = [], [rec]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def job_counts(self, rec: dict) -> tuple[int, int, int]:
        """(jobs, stages, tasks) run under ``rec`` and its descendants."""
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for s in self.subtree(rec):
            for jid in st.getJobIdsForGroup(s["group"]):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    si = st.getStageInfo(sid)
                    if si is not None:  # skipped stages never get attempt info
                        stages += 1
                        tasks += si.numTasks
        return jobs, stages, tasks

    def groups(self, rec: dict) -> set[str]:
        return {s["group"] for s in self.subtree(rec)}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def stage_bytes(event_log_dir: str, groups: set[str]) -> dict[str, int]:
    """Shuffle-write and spill bytes of the stages of jobs run under
    ``groups``, read from a finished Spark event log."""
    names = {
        "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
        "internal.metrics.memoryBytesSpilled": "spill_memory_bytes",
        "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    }
    out = {v: 0 for v in names.values()}
    stage_group: dict[int, str] = {}
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(event_log_dir)
        for f in files if f.startswith("events")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if stage_group.get(info["Stage ID"]) not in groups:
                        continue
                    for acc in info.get("Accumulables", []):
                        key = names.get(acc.get("Name"))
                        if key:
                            out[key] += int(acc.get("Value", 0))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    """/proc/<pid>/stat fields after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()


def start_time(pid: int) -> int | None:
    fields = _stat_fields(pid)
    return int(fields[19]) if fields else None


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        fields = _stat_fields(int(d)) if d.isdigit() else None
        if fields:
            kids.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Samples, every ``interval`` seconds, the summed RSS of this process
    and its descendants (the driver, the JVM and Spark's Python workers);
    keeps the peak of the sum and, for the detail line, of its Python part
    (this process and the workers) and its JVM part."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_total = self.peak_python = self.peak_jvm = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler")
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            py = jvm = 0
            for p in process_tree(os.getpid()):
                if _comm(p).startswith("python"):
                    py += _rss_bytes(p)
                else:
                    jvm += _rss_bytes(p)
            self.peak_total = max(self.peak_total, py + jvm)
            self.peak_python = max(self.peak_python, py)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self._stop.wait(self.interval)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_times() -> list[int]:
    """The machine-wide jiffy counters of /proc/stat's first line."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
