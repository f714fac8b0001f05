"""Spans, Spark job groups and the per-layer split for traced runs.

A span is (name, start, end, parent, run id). Every span opened with
``phase=True`` gets its own Spark job group, so each Spark job, stage
and SQL execution can be attributed to exactly one phase afterwards.
Nothing is fetched while the timed work runs: after it, `collect`
pulls ``/api/v1/applications/<id>/{jobs,stages,sql}`` from the local
status REST API once and attaches the counts to the spans. The split
therefore comes from Spark's own listener data, from outside the
program.

An untraced span records only wall time: no job group is set, and a
run with tracing off makes no REST call.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import re
import statistics
import threading
import time
import urllib.request

# the per-phase metrics every traced phase carries
PHASE_METRICS = (
    "wall_s",
    "driver_s",
    "jobs",
    "exec_cpu_s",
    "gc_s",
    "scan_bytes",
    "shuffle_bytes",
    "python_s",
    "write_bytes",
    "spill_bytes",
)

_UNITS = {
    "s": 1.0,
    "ms": 1e-3,
    "min": 60.0,
    "h": 3600.0,
    "B": 1.0,
    "KiB": 2.0**10,
    "MiB": 2.0**20,
    "GiB": 2.0**30,
    "TiB": 2.0**40,
}


def _ui_time(s: str) -> float:
    """'2026-10-17T03:04:12.973GMT' -> epoch seconds."""
    return (
        dt.datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def _node_total(value: str) -> float:
    """Total of a SQL node metric as the REST API formats it: either a
    plain value ('1,234', '45 ms', '3.2 MiB') or 'total (min, med, max
    ...)\\n8.6 s (...)'. Durations come back in seconds, sizes in bytes."""
    if value.startswith("total"):
        value = value.split("\n", 1)[1].split(" (", 1)[0]
    m = re.fullmatch(r"([\d,.]+)\s*([a-zA-Z]*)", value.strip())
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder for one benchmark run."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, phase: bool = False, traced: bool = False):
        """Time the block as span `name`. A traced phase span tags the
        Spark jobs it launches with its own job group; other spans
        record wall time only."""
        sc = self.spark.sparkContext
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "group": None,
            "traced": traced,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if phase and rec["traced"]:
            rec["group"] = f"{self.run_id}-{rec['id']}"
            sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if rec["group"]:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self._stack.pop()

    def traced_walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["traced"]]

    # --- after the timed phase ---
    def collect(self) -> None:
        """Attach Spark's job, stage and SQL-node counts to every phase
        span that carries a job group."""
        sc = self.spark.sparkContext
        from py4j.protocol import Py4JError

        # let the UI listener catch up with the last events
        with contextlib.suppress(Py4JError):
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

        def get(path):
            with urllib.request.urlopen(base + path, timeout=60) as r:
                return json.load(r)

        jobs = get("/jobs")
        stages = get("/stages")
        sql = get("/sql?details=true&planDescription=false&offset=0&length=100000000")

        group_of_job = {j["jobId"]: j.get("jobGroup") for j in jobs}
        by_group: dict[str, dict] = {}

        def acc(group):
            return by_group.setdefault(
                group,
                {k: 0.0 for k in PHASE_METRICS if k not in ("wall_s", "driver_s")}
                | {"scan_files": 0.0, "_intervals": []},
            )

        for j in jobs:
            g = j.get("jobGroup")
            if g is None:
                continue
            a = acc(g)
            a["jobs"] += 1
            end = j.get("completionTime") or j["submissionTime"]
            a["_intervals"].append((_ui_time(j["submissionTime"]), _ui_time(end)))
        # a stage is listed by the job that ran it and by later jobs
        # that reuse (skip) it: the lowest job id is the one that ran it
        owner: dict[int, int] = {}
        for j in jobs:
            for sid in j["stageIds"]:
                owner[sid] = min(owner.get(sid, j["jobId"]), j["jobId"])
        for st in stages:
            if st["status"] != "COMPLETE" or st["stageId"] not in owner:
                continue
            g = group_of_job.get(owner[st["stageId"]])
            if g is None:
                continue
            a = acc(g)
            a["exec_cpu_s"] += st["executorCpuTime"] / 1e9
            a["gc_s"] += st["jvmGcTime"] / 1e3
            a["shuffle_bytes"] += st["shuffleWriteBytes"]
            a["write_bytes"] += st["outputBytes"]
            a["spill_bytes"] += st["diskBytesSpilled"]
        for ex in sql:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            groups = {group_of_job.get(i) for i in ids} - {None}
            if len(groups) != 1:
                continue
            a = acc(groups.pop())
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "time to run Python workers":
                        a["python_s"] += _node_total(m["value"])
                    elif m["name"] == "number of files read":
                        a["scan_files"] += _node_total(m["value"])
                    elif m["name"] == "size of files read":
                        a["scan_bytes"] += round(_node_total(m["value"]))
        for s in self.spans:
            if s["group"] is None:
                continue
            a = acc(s["group"])
            wall = s["end"] - s["start"]
            covered = _covered(a["_intervals"], s["start"], s["end"])
            s["metrics"] = {k: v for k, v in a.items() if not k.startswith("_")}
            s["metrics"]["wall_s"] = wall
            s["metrics"]["driver_s"] = wall - covered

    def phase_medians(self, name: str) -> dict[str, float]:
        """Median of each metric over the traced occurrences of phase
        `name` (counts repeat exactly, so their median is the count)."""
        occ = [s["metrics"] for s in self.spans if s["name"] == name and "metrics" in s]
        if not occ:
            return {}
        return {k: statistics.median(m[k] for m in occ) for k in occ[0]}

    def self_times(self) -> None:
        """Self time per span: its wall minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            wall = s["end"] - s["start"]
            s["self_s"] = wall - _covered(kids.get(s["id"], []), s["start"], s["end"])

    def dump(self, path, extra: dict) -> None:
        self.self_times()
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, f, indent=1)


class RssSampler:
    """Samples the memory of this process, the driver JVM and the JVM's
    descendants (the Python workers) from /proc every `period` seconds,
    and keeps the peak of their sum."""

    def __init__(self, jvm_pid: int | None, period: float = 0.2):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _pss_mb(pid: int) -> float:
        """Proportional set size: forked Python workers share pages
        with their parent, which plain RSS would count once per process."""
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    def _descendants(self, root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def sample(self) -> float:
        pids = [os.getpid()]
        if self.jvm_pid:
            pids += self._descendants(self.jvm_pid)
        total = sum(self._pss_mb(p) for p in pids)
        self.peak_mb = max(self.peak_mb, total)
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
