"""Spans, stream progress, failure accounting and event-log parsing.

The benchmark times its own calls into the package: each call runs
inside a `Tracer.span`, which records the wall interval and tags the
call's Spark jobs with a job group of its own.  Micro-batch jobs run
under their stream's run id instead, so a StreamingQueryListener
collects every query's run id and progress records.  After the run,
`count_failures` asks the status tracker about every group for failed
jobs, failed task attempts and stage retries; in a traced run
`parse_event_log` turns the Spark event log into per-group job, stage,
task, shuffle, spill and scan counts.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


def p50(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, int]:
    """(value, percentile) of the highest whole percentile that still
    has at least ten samples above it; (max, 100) below 11 samples."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0
    if n < 11:
        return float(xs[-1]), 100
    pct = int(100 * (n - 10) / n)
    return float(xs[max(0, -(-pct * n // 100) - 1)]), pct


class Progress(StreamingQueryListener):
    """Keeps every progress record and run id of the session's queries."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.runs: dict[str, str] = {}  # run id -> query name
        self.progress: list[dict] = []
        self.done: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.runs[str(event.runId)] = event.name or ""

    def onQueryProgress(self, event) -> None:
        rec = json.loads(event.progress.json)
        with self.lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.done.add(str(event.runId))

    def wait_terminated(self, timeout: float = 30.0) -> None:
        """Listener events arrive asynchronously; a query's terminated
        event follows all of its progress events."""
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            with self.lock:
                if set(self.runs) <= self.done:
                    return
            time.sleep(0.02)
        raise TimeoutError("streaming listener did not see every query end")

    def since(self, mark: int) -> list[dict]:
        with self.lock:
            return list(self.progress[mark:])


class Tracer:
    """Wall-clock spans around the benchmark's calls into the package,
    each tagged with its own Spark job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._n = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        self._n += 1
        group = f"pb{self._n}:{name}"
        rec = {"name": name, "group": group, **attrs}
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)


def count_failures(sc, groups) -> dict:
    """Failed jobs, failed task attempts and retried stage attempts of
    every job in `groups` (plus the ungrouped jobs), from the status
    tracker — so a task that failed and succeeded on retry still
    counts."""
    st = sc.statusTracker()
    failed_jobs = failed_tasks = retried_stages = jobs = 0
    for g in [None, *groups]:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            failed_jobs += info.status == "FAILED"
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is not None:
                    failed_tasks += s.numFailedTasks
                    retried_stages += s.currentAttemptId > 0
    return {
        "jobs": jobs,
        "failed_jobs": failed_jobs,
        "failed_tasks": failed_tasks,
        "retried_stages": retried_stages,
    }


class RssSampler(threading.Thread):
    """Peak resident memory of the driver JVM plus its Python workers
    (every descendant process), sampled from /proc."""

    def __init__(self, root_pid: int, period: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.period = period
        self.peak_kb = 0
        self._stop_ev = threading.Event()

    @staticmethod
    def _children() -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        return kids

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        except (OSError, IndexError, ValueError):
            return 0

    def sample(self) -> None:
        kids = self._children()
        todo, total = [self.root_pid], 0
        while todo:
            pid = todo.pop()
            total += self._rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_ev.wait(self.period):
            self.sample()

    def stop(self) -> float:
        self._stop_ev.set()
        self.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


GROUP_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "run_ms",
    "shuffle_write",
    "spill",
    "failed_tasks",
    "ckpt_rdds",
    "scan_rows",
    "scans",
)


def _task_sums(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Disk Bytes Spilled", 0),
    }


def parse_event_log(log_dir: str, scan_marker: str | None = None) -> dict:
    """Per job group: jobs, stages (attempts), tasks, executor run
    time, shuffle bytes written, disk spill, failed tasks and
    checkpoint RDDs materialized; plus, when `scan_marker` is given,
    how many scans of files whose path contains it ran and how many
    rows they output."""
    files = [
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    ]
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    scan_accums: set[int] = set()  # "number of output rows" of matching scans

    def g(name: str) -> dict:
        return groups.setdefault(name, dict.fromkeys(GROUP_KEYS, 0))

    def walk_plan(node: dict) -> None:
        if node.get("nodeName", "").startswith("Scan parquet") and scan_marker:
            if scan_marker in node.get("metadata", {}).get("Location", ""):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of output rows":
                        scan_accums.add(m["accumulatorId"])
        for child in node.get("children", []):
            walk_plan(child)

    scanned: set[int] = set()
    ckpt_seen: set[int] = set()
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    walk_plan(ev.get("sparkPlanInfo", {}))
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    name = props.get("spark.jobGroup.id") or "<none>"
                    rec = g(name)
                    rec["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = name
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    name = stage_group.get(info["Stage ID"])
                    if name is None:
                        continue
                    rec = g(name)
                    rec["stages"] += 1
                    for r in info.get("RDD Info", []):
                        site = r.get("Callsite") or ""
                        if site.startswith(("localCheckpoint at", "checkpoint at")) and (
                            r["RDD ID"] not in ckpt_seen
                        ):
                            ckpt_seen.add(r["RDD ID"])
                            rec["ckpt_rdds"] += 1
                elif kind == "SparkListenerTaskEnd":
                    name = stage_group.get(ev["Stage ID"])
                    if name is None:
                        continue
                    rec = g(name)
                    rec["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        rec["failed_tasks"] += 1
                    for k, v in _task_sums(ev).items():
                        rec[k] += v
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        aid = acc.get("ID")
                        if aid in scan_accums:
                            rec["scan_rows"] += int(acc.get("Update", 0))
                            if aid not in scanned:
                                scanned.add(aid)
                                rec["scans"] += 1
    return groups
