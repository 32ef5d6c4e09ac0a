"""Outside-the-program probes: a /proc resident-memory sampler over the
benchmark's process tree, and a reader for the driver's Spark UI REST API
(SQL node metrics, jobs, stages, tasks)."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:  # exited meanwhile
        return 0
    return int(stat[stat.rindex(")") + 2:].split()[1])


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            kids.setdefault(_ppid(int(entry)), []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for k in kids.get(pid, []):
            out.append(k)
            todo.append(k)
    return out


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and its descendants, leaving out every
    java process whose parent is java. Those are the JVM's own spawns
    (``ProcessBuilder``, for example a ``chmod`` on the local file system)
    caught between fork and exec. Such a child shares the JVM's pages, so
    counting it would add the whole JVM a second time."""
    kids = _children_map()
    total = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        if pid != root and _exe(pid) == "java" and _exe(_ppid(pid)) == "java":
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the Spark driver JVM and its Python workers) every ``interval``
    seconds on a daemon thread; ``peak`` is the largest sum seen."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class SparkRest:
    """Reader for ``/api/v1/applications/<id>/...`` of the live UI."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = int(sc.uiWebUrl.rsplit(":", 1)[1])
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def last_sql_id(self) -> int:
        execs = self.get("/sql?details=false&offset=0&length=100000")
        return max((e["id"] for e in execs), default=-1)

    def sql_after(self, prev_id: int, wait_s: float = 10.0) -> list[dict]:
        """Completed SQL executions newer than ``prev_id``, with node
        metrics. The UI store is fed by an asynchronous listener, so poll
        until every new execution is COMPLETED."""
        deadline = time.time() + wait_s
        while True:
            execs = [e for e in self.get("/sql?details=true&planDescription=false&offset=0&length=100000")
                     if e["id"] > prev_id]
            if execs and all(e["status"] != "RUNNING" for e in execs) or time.time() > deadline:
                return execs
            time.sleep(0.1)

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self.get("/jobs")), default=-1)

    def jobs_after(self, prev_id: int) -> list[dict]:
        return [j for j in self.get("/jobs") if j["jobId"] > prev_id]

    def stages(self, stage_ids) -> list[dict]:
        want = set(stage_ids)
        return [s for s in self.get("/stages") if s["stageId"] in want]

    def task_durations_s(self, stage: dict) -> list[float]:
        tasks = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}/taskList?length=100000")
        return [t["duration"] / 1000.0 for t in tasks if t.get("status") == "SUCCESS"]


def node_rows(node: dict) -> float | None:
    """A SQL plan node's 'number of output rows', or None for nodes that
    do not count rows (Project, codegen wrappers)."""
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            return float(m["value"].replace(",", ""))
    return None
