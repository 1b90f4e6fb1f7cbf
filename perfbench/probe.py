"""Measurements taken from outside the program.

* ``ProcTree`` — CPU seconds and memory (PSS: resident pages, shared
  ones split between the processes sharing them) of the Spark JVM (the
  driver, which in local mode also runs the executor) and all its
  descendants (the Python daemon and workers), read from ``/proc`` by
  one sampler thread.  The Python client process is left out: it also
  runs this benchmark, its sampler thread and its oracle.
* ``host_snapshot`` — steal time and load average, so a noisy pass can
  be recognised.
* ``SparkRest`` — task metrics per job group and executed-plan node
  counts from the Spark driver's own status REST API on 127.0.0.1.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request

from py4j.protocol import Py4JError

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:                       # exited while we listed
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie or a vanished pid is not)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _cpu_mem(pid: int) -> tuple[float, int]:
    """(utime+stime+cutime+cstime seconds, PSS bytes) of one pid.
    Reaped children's CPU is in their parent's cutime/cstime, so the sum
    over the live tree only grows.  PSS, unlike RSS, does not count the
    pages a forked Python worker shares with its parent twice."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read()
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            pss_kb = next(int(line.split()[1]) for line in fh
                          if line.startswith("Pss:"))
    except (OSError, StopIteration):
        return 0.0, 0
    fields = f[f.rindex(")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])
    return ticks / _TICK, pss_kb * 1024


class ProcTree:
    """Samples the process tree rooted at ``root`` every ``interval``
    seconds on one daemon thread; ``mark()`` starts a window and
    ``window()`` returns (cpu_s, peak_pss_bytes) since the mark."""

    def __init__(self, root: int, interval: float = 0.1):
        self._root = root
        self._interval = interval
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="proctree-sampler")
        self._cpu0 = 0.0

    def _sample(self) -> tuple[float, int]:
        cpu = mem = 0
        for pid in tree_pids(self._root):
            c, m = _cpu_mem(pid)
            cpu += c
            mem += m
        return cpu, mem

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            _, mem = self._sample()
            with self._lock:
                self._peak = max(self._peak, mem)

    def start(self) -> "ProcTree":
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def mark(self) -> None:
        cpu, mem = self._sample()
        with self._lock:
            self._peak = mem
        self._cpu0 = cpu

    def window(self) -> tuple[float, int]:
        cpu, mem = self._sample()
        with self._lock:
            peak = max(self._peak, mem)
        return cpu - self._cpu0, peak


def host_snapshot() -> dict:
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"total": sum(cpu[:8]), "steal": cpu[7], "load1": load1}


def host_delta(a: dict, b: dict) -> dict:
    total = max(b["total"] - a["total"], 1)
    return {"steal_ratio": (b["steal"] - a["steal"]) / total,
            "load1_start": a["load1"], "load1_end": b["load1"]}


class SparkRest:
    """Reads the local Spark status API (``sc.uiWebUrl``, bound to
    127.0.0.1 by the session config)."""

    def __init__(self, sc):
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the status store has seen every finished task."""
        try:
            self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:               # JVM API differs: settle by time
            time.sleep(1.0)

    def jobs(self, group: str) -> list[dict]:
        return sorted((j for j in self._get("/jobs")
                       if j.get("jobGroup") == group),
                      key=lambda j: j["jobId"])

    def stages(self, group: str) -> list[dict]:
        """Completed stage attempts run by the group's jobs (skipped
        stages, which reuse an earlier shuffle, are not included)."""
        ids = sorted({s for j in self.jobs(group) for s in j["stageIds"]})
        out = []
        for sid in ids:
            for att in self._get(f"/stages/{sid}"):
                if att["status"] in ("COMPLETE", "FAILED"):
                    out.append(att)
        return out

    def totals(self, group: str) -> dict:
        st = self.stages(group)
        return {
            "executor_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                               for s in st),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in st),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
            "tasks": sum(s["numCompleteTasks"] for s in st),
            "failed_tasks": sum(s["numFailedTasks"] for s in st),
        }

    def scan_stage(self, group: str) -> dict:
        """The group's first stage that reads input: the parquet scan
        (fused, in the flagship, with the mapInArrow and the first
        shuffle write).  Later stages that read a persisted table count
        input bytes too, so the earliest one is taken."""
        return min((s for s in self.stages(group) if s["inputBytes"] > 0),
                   key=lambda s: s["stageId"])

    def result_stage_skew(self, group: str) -> float:
        """max / median task run time of the last stage of the group's
        last job: the stage that runs the as-of cogroup into the sink."""
        last = self.jobs(group)[-1]
        att = [a for sid in last["stageIds"] for a in self._get(f"/stages/{sid}")
               if a["status"] == "COMPLETE"]
        st = max(att, key=lambda a: a["stageId"])
        q = self._get(f"/stages/{st['stageId']}/{st['attemptId']}/taskSummary"
                      "?quantiles=0.5,1.0")["executorRunTime"]
        return q[1] / max(q[0], 1.0)

    def exchanges(self, group: str) -> int:
        """Exchange nodes in the final (AQE) plan of the group's SQL
        execution(s)."""
        job_ids = {j["jobId"] for j in self.jobs(group)}
        n = 0
        for ex in self._get("/sql?details=true&planDescription=false"
                            "&length=100000"):
            if job_ids & set(ex.get("successJobIds", [])
                             + ex.get("failedJobIds", [])):
                n += sum(node["nodeName"] == "Exchange"
                         for node in ex["nodes"])
        return n
