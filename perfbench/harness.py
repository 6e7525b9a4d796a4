"""Shared machinery for the benchmark workloads.

- ``Run`` owns one benchmark process's state: its work directory inside the
  checkout, the Spark session, the peak-memory sampler and the scheduler
  counter. Workload modules receive it and never touch globals.
- ``Workload`` is the interface the runner drives.
- Statistics helpers (median, median of the last third, geomean), the
  process tree's CPU time, and ``sha1_rows``, an order-insensitive digest
  of collected rows.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def late_median(xs: list[float]) -> float:
    """Median of the last third of a sequence (at least one element)."""
    k = max(1, len(xs) // 3)
    return median(xs[-k:])


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def sha1_rows(rows) -> str:
    """Order-insensitive digest of result rows; floats rounded to 6 places."""

    def norm(v):
        if isinstance(v, float):
            return repr(round(v, 6))
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return repr(v)

    lines = sorted("|".join(norm(v) for v in r) for r in rows)
    return hashlib.sha1("\n".join(lines).encode()).hexdigest()


class MemorySampler:
    """Peak memory of this process and all its descendants (the JVM and the
    Python workers it forks), sampled from /proc. Each process counts its
    proportional set size (Pss), so pages that forked workers share are
    counted once rather than once per worker."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="mem-sampler", daemon=True)

    @staticmethod
    def _tree() -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(name))
        pids, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            todo.extend(children.get(pid, []))
        return pids

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, sum(self._pss(p) for p in self._tree()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, reaped ones included through their parents' counters."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in MemorySampler._tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


class SchedulerCounter:
    """Jobs, stages and tasks of one step, read from the status tracker.

    Job ids are sequential, and jobs submitted from worker threads (the
    crawler commits tables from a thread pool) do not inherit the
    caller's job group, so a step's jobs are the ids above the highest id
    seen before it: grouped ones plus ungrouped ones.
    """

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._groups = {None}
        self._seen = -1

    def _all_ids(self) -> list[int]:
        ids: list[int] = []
        for g in self._groups:
            ids.extend(self.tracker.getJobIdsForGroup(g))
        return ids

    def begin(self, group: str) -> None:
        ids = self._all_ids()
        self._seen = max(ids, default=-1)
        self._groups.add(group)
        self.sc.setJobGroup(group, group)

    def end(self) -> dict:
        """Counts plus job intervals (epoch seconds) and task time."""
        self.sc.setJobGroup(None, None)
        store = self.sc._jsc.sc().statusStore()
        jobs = sorted(i for i in self._all_ids() if i > self._seen)
        stages: set[int] = set()
        intervals = []
        for jid in jobs:
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            ids = jd.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        n_stages = n_tasks = 0
        run_s = cpu_s = 0.0
        for sid in stages:
            sd = store.lastStageAttempt(sid)
            if sd.numCompleteTasks() == 0:  # skipped: shuffle output reused
                continue
            n_stages += 1
            n_tasks += sd.numCompleteTasks()
            run_s += sd.executorRunTime() / 1000.0
            cpu_s += sd.executorCpuTime() / 1e9
        return {
            "jobs": len(jobs), "stages": n_stages, "tasks": n_tasks,
            "task_run_s": run_s, "task_jvm_cpu_s": cpu_s, "job_intervals": intervals,
        }


class Run:
    """One benchmark process: work directory, environment, session."""

    def __init__(self, workload: str, seed: int):
        self.workload, self.seed = workload, seed
        self.work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.n_cores = cores()
        self.mem = MemorySampler()
        self.spark = None
        self.counter: SchedulerCounter | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> float:
        """Start Spark on local[nproc]; returns the seconds it took.

        Python workers import the package from the checkout, and every
        temporary file goes under the work directory."""
        t0 = time.monotonic()
        tmp = self.path("tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        from outage_data_scraper_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.n_cores}]",
            shuffle_partitions=2 * self.n_cores,
            extra_conf={
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counter = SchedulerCounter(self.spark.sparkContext)
        return time.monotonic() - t0

    def close(self) -> None:
        """Stop Spark, then the JVM it launched, and wait for it to exit."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


class Workload:
    """What the runner drives. A cycle is the workload's timed unit and
    returns at least ``wall`` (s), ``steps`` (s each) and ``items``."""

    name = ""
    min_cycles = 1

    def fixed_cycles(self, seconds: float) -> int | None:
        """A cycle count that must not depend on speed, or None to run
        cycles until ``seconds`` have passed."""
        return None

    def cycle(self) -> dict:
        raise NotImplementedError

    def trace_warm(self) -> None:
        """Extra warm-up before the traced run's cycles."""

    def cycle_counted(self, tracer) -> dict:
        """A cycle whose steps the scheduler counter brackets."""
        return self.cycle()

    def cycle_traced(self, tracer) -> dict:
        """A cycle with spans recorded."""
        return self.cycle()


def catalog_footprint(root: str, fetched: int) -> dict:
    """Files, bytes and snapshot count per catalog table, plus bytes
    written per fetched URL."""
    import json

    tables = {}
    for name in sorted(os.listdir(root)):
        tdir = os.path.join(root, name)
        if not os.path.isdir(tdir):
            continue
        n_files = n_bytes = 0
        for dirpath, _, files in os.walk(tdir):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(dirpath, f))
        with open(os.path.join(tdir, "_manifest.json")) as f:
            snaps = json.load(f)["snapshots"]
        live = 0
        for s in snaps:
            live = 1 if s["mode"] == "overwrite" else live + 1
        tables[name] = {"files": n_files, "bytes": n_bytes, "snapshots": live}
    total_bytes = sum(t["bytes"] for t in tables.values())
    return {
        "tables": tables,
        "files": sum(t["files"] for t in tables.values()),
        "bytes_per_url": total_bytes / max(fetched, 1),
        "max_snapshots": max((t["snapshots"] for t in tables.values()), default=0),
    }
