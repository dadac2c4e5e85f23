"""Measurement plumbing: run environment, process-tree memory, spans
and Spark's own job/stage/SQL metrics read back from the event log.

Nothing here changes what the program computes.  Spans are recorded
around calls into the package's public functions; each span runs under
its own Spark job description, so every job, stage and task in the
event log can be attributed to the span that caused it.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PAGE = os.sysconf("SC_PAGE_SIZE")


# -- environment ---------------------------------------------------------------


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def _source_revision() -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha256()
    for p in sorted(REPO.glob("sagan_spark/**/*.py")):
        digest.update(p.relative_to(REPO).as_posix().encode())
        digest.update(p.read_bytes())
    return {"git_commit": commit, "source_sha256": digest.hexdigest()[:16]}


def cpu_probe_s(repeats: int = 5) -> float:
    """Median time of a fixed single-threaded loop.  It grows when a
    neighbour shares this host's cores, even when the hypervisor reports
    no steal."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        sum(i * i for i in range(300_000))
        times.append(time.perf_counter() - t)
    return statistics.median(times)


class Environment:
    """What the host looked like around one run.  A run taken while a
    neighbour steals CPU shows a steal share well above zero, a load
    average above ``nproc`` or a slower CPU probe than the host's quiet
    figure."""

    def __init__(self) -> None:
        self.before_load = os.getloadavg()
        self.before_cpu = _cpu_jiffies()
        self.before_probe = cpu_probe_s()

    def finish(self, cores: int) -> dict:
        import pyspark

        steal0, total0 = self.before_cpu
        steal1, total1 = _cpu_jiffies()
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_cores": cores,
            "loadavg_before": [round(x, 2) for x in self.before_load],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "cpu_steal_jiffies": steal1 - steal0,
            "cpu_steal_share": round((steal1 - steal0) / max(1, total1 - total0), 4),
            "cpu_probe_s_before": round(self.before_probe, 4),
            "cpu_probe_s_after": round(cpu_probe_s(), 4),
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            **_source_revision(),
        }


# -- memory --------------------------------------------------------------------


def _process_tree(root: int) -> list[int]:
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                data = fh.read()
        except OSError:
            continue
        # comm may hold spaces; ppid is the second field after ')'
        pid = int(data[: data.index(" ")])
        ppid = int(data[data.rindex(")") + 2 :].split()[1])
        children[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_ended(pids, timeout: float) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if not any(_alive(p) for p in pids):
            return True
        time.sleep(0.1)
    return False


class PeakRss:
    """Samples the resident memory of a process and all its descendants
    (the driver JVM, the Python worker daemon and its forked workers)
    every ``interval`` seconds and keeps the peak of the sum, both over
    the whole run and since the last :meth:`take_window`."""

    def __init__(self, root_pid: int, interval: float = 0.2) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak = self.window_peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        total = sum(_rss_bytes(p) for p in _process_tree(self.root_pid))
        with self._lock:
            self.peak = max(self.peak, total)
            self.window_peak = max(self.window_peak, total)

    def take_window(self) -> float:
        """Peak in MiB since the previous call; starts a new window."""
        self.sample()
        with self._lock:
            peak, self.window_peak = self.window_peak, 0
        return peak / 2**20

    def stop(self) -> float:
        """Stop sampling; peak of the whole run in MiB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak / 2**20


# -- spans ---------------------------------------------------------------------


class Spans:
    """Flat list of named wall-clock intervals.  While a span is open,
    Spark jobs submitted from this thread (and the AQE/broadcast jobs
    they spawn) carry the span name as their job description."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        self.sc.setJobDescription(name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setJobDescription(None)
            self.spans.append({"name": name, "t0": t0, "t1": t1})

    def seconds(self, name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in self.spans if s["name"] == name)

    def window(self, name: str) -> tuple[float, float]:
        hit = [s for s in self.spans if s["name"] == name]
        return min(s["t0"] for s in hit), max(s["t1"] for s in hit)


@contextlib.contextmanager
def count_call_sites(spark):
    """Tag the jobs of every ``DataFrame.count()`` made inside the block
    with the caller's file and line (Spark's own call site for a PySpark
    action is the py4j bridge), so the eager barriers inside
    ``engine.run()`` can be told apart in the event log."""
    sc = spark.sparkContext
    DataFrame = type(spark.range(1))  # the session's concrete DataFrame class
    original = DataFrame.count

    def count(self):
        caller = sys._getframe(1)
        where = Path(caller.f_code.co_filename)
        with contextlib.suppress(ValueError):
            where = where.resolve().relative_to(REPO)
        sc.setLocalProperty("callSite.short", f"count at {where.as_posix()}:{caller.f_lineno}")
        try:
            return original(self)
        finally:
            sc.setLocalProperty("callSite.short", None)

    DataFrame.count = count
    try:
        yield
    finally:
        DataFrame.count = original


# -- event log -----------------------------------------------------------------


#: SQL metric value -> seconds, by metric type
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (
            node["nodeName"], node.get("simpleString", ""), m["name"], m.get("metricType", "sum")
        )
    for child in node.get("children", ()):
        _walk_plan(child, out)


class EventLog:
    """Jobs, stages and tasks of one finished application, keyed by the
    job description (span) they ran under."""

    def __init__(self, log_dir: Path) -> None:
        files = sorted(p for p in log_dir.iterdir() if p.is_file())
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        self.jobs: list[dict] = []
        self.stage_props: dict[int, dict] = {}
        self.stage_scopes: dict[int, set] = defaultdict(set)
        self.tasks: list[dict] = []
        self.accums: dict[int, tuple] = {}
        self.driver_accums: list[tuple[int, int, int]] = []  # (execution id, accum id, value)
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs.append(
                {
                    "id": e["Job ID"],
                    "t0": e["Submission Time"] / 1000,
                    "span": props.get("spark.job.description"),
                    "call_site": props.get("callSite.short"),
                    "execution_id": props.get("spark.sql.execution.id"),
                }
            )
        elif kind == "SparkListenerJobEnd":
            for j in self.jobs:
                if j["id"] == e["Job ID"]:
                    j["t1"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            self.stage_props[info["Stage ID"]] = e.get("Properties") or {}
            for rdd in info.get("RDD Info", ()):
                if rdd.get("Scope"):
                    self.stage_scopes[info["Stage ID"]].add(json.loads(rdd["Scope"])["name"])
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            props = self.stage_props.get(e["Stage ID"], {})
            duration = (info["Finish Time"] - info["Launch Time"]) / 1000
            run = m.get("Executor Run Time", 0) / 1000
            overhead = (
                m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0)
            ) / 1000
            self.tasks.append(
                {
                    "stage": e["Stage ID"],
                    "span": props.get("spark.job.description"),
                    "query_id": props.get("sql.streaming.queryId"),
                    "failed": bool(info.get("Failed") or info.get("Killed")),
                    "duration": duration,
                    "run": run,
                    "scheduler_delay": max(0.0, duration - run - overhead),
                    "gc": m.get("JVM GC Time", 0) / 1000,
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "accums": {
                        a["ID"]: a["Update"]
                        for a in info.get("Accumulables", ())
                        if isinstance(a.get("Update"), (int, str))
                    },
                }
            )
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(e["sparkPlanInfo"], self.accums)
        elif kind.endswith("SQLDriverAccumUpdates") or kind.endswith("DriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.driver_accums.append((e["executionId"], acc_id, value))

    # -- selections --------------------------------------------------------

    def select_jobs(self, span: str) -> list[dict]:
        return [j for j in self.jobs if j["span"] == span]

    def select_tasks(self, spans=None, query_id=None) -> list[dict]:
        return [
            t for t in self.tasks
            if (spans is None or t["span"] in spans) and (query_id is None or t["query_id"] == query_id)
        ]

    def job_seconds(self, t0: float, t1: float) -> float:
        """Length of the union of Spark job intervals inside [t0, t1]."""
        cuts = sorted(
            (max(t0, j["t0"]), min(t1, j.get("t1", t1)))
            for j in self.jobs
            if j.get("t1", t1) > t0 and j["t0"] < t1
        )
        total, end = 0.0, t0
        for a, b in cuts:
            a = max(a, end)
            if b > a:
                total += b - a
                end = b
        return total

    def sql_metric(self, span: str, metric: str, node: str, contains: str = "") -> float:
        """Sum of a SQL metric of the plan nodes named ``node`` (whose
        description contains ``contains``) over the jobs of ``span``,
        from task and driver-side updates; times in seconds."""
        ids = {
            i: _TIME_SCALE.get(mtype, 1)
            for i, (name, desc, mname, mtype) in self.accums.items()
            if name.startswith(node) and mname == metric and contains in desc
        }
        executions = {str(j["execution_id"]) for j in self.select_jobs(span=span)}
        total = sum(
            int(v) * ids[i]
            for t in self.select_tasks(spans={span})
            for i, v in t["accums"].items()
            if i in ids
        )
        total += sum(
            v * ids[i] for ex, i, v in self.driver_accums if i in ids and str(ex) in executions
        )
        return float(total)

    def skew(self, tasks, scope: str) -> float:
        """max / median task duration of the busiest stage whose RDDs run
        the operator ``scope`` (1.0 when no such stage ran)."""
        by_stage = defaultdict(list)
        for t in tasks:
            if scope in self.stage_scopes.get(t["stage"], ()):
                by_stage[t["stage"]].append(t["duration"])
        if not by_stage:
            return 1.0
        busiest = max(by_stage.values(), key=sum)
        med = statistics.median(busiest)
        return max(busiest) / med if med > 0 else 1.0


def whole_job(tasks) -> dict:
    return {
        "spark.tasks": len(tasks),
        "spark.failed_tasks": sum(t["failed"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.gc_s": sum(t["gc"] for t in tasks),
        "spark.scheduler_delay_s": sum(t["scheduler_delay"] for t in tasks),
    }


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile of ``values`` with at least ``beyond``
    samples above it, as (value, percentile).  With fewer than
    ``beyond + 1`` samples there is no such percentile; the maximum is
    returned with percentile 100."""
    xs = sorted(values)
    if len(xs) <= beyond:
        return xs[-1], 100.0
    k = len(xs) - beyond - 1
    return xs[k], round(100.0 * (k + 1) / len(xs), 1)
