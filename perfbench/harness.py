"""Measurement plumbing shared by every workload.

Everything here observes the program from outside: the Spark session is
built by ``mfdedup_spark.session.get_spark`` with the program's own
defaults, counters come from Spark's status store and from ``/proc``,
and nothing here changes a plan the program builds.
"""

from __future__ import annotations

import gc
import os
import re
import shlex
import statistics
import time

DRAIN_TIMEOUT_S = 120.0


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def configure_env(root: str, work: str) -> None:
    """Point every file Spark, the JVM and the Python workers write at the
    per-run work directory, so a run writes only inside the checkout and
    starts from an empty warehouse and an empty shuffle directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the program defaults the driver heap to 8g; the benchmark inputs
    # need a fraction of that and the host is shared. A departure from
    # the program's defaults: heap size moves GC time and peak RSS.
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the console progress bar redraws from a timer thread on stderr and
    # only adds noise to a timed run
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )


def start_session(cores: int):
    from mfdedup_spark.session import get_spark

    spark = get_spark(app="mfdedup-perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def force(df) -> None:
    """Materialize every row of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class SparkCounters:
    """Per-interval job, executor-time and shuffle counters read from the
    status store (the listener-fed store behind the UI and REST API; it
    is populated with ``spark.ui.enabled=false`` too). One client runs at
    a time, so every stage newer than a mark belongs to the interval."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def mark(self) -> tuple[int, int]:
        jobs = self._store.jobsList(None)
        stages = self._store.stageList(None, False, False, self._quantiles, None)
        last_job = jobs.apply(0).jobId() if jobs.size() else -1
        last_stage = stages.apply(0).stageId() if stages.size() else -1
        return last_job, last_stage

    def since(self, mark: tuple[int, int]) -> dict:
        """Counters of every job and stage started after ``mark``. Both
        lists come newest first, so the scan stops at the mark."""
        last_job, last_stage = mark
        jobs = self._store.jobsList(None)
        n_jobs = 0
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= last_job:
                break
            n_jobs += 1
        stages = self._store.stageList(None, False, False, self._quantiles, None)
        out = {"jobs": n_jobs, "executor_ms": 0, "shuffle_write": 0}
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= last_stage:
                break
            out["executor_ms"] += s.executorRunTime()
            out["shuffle_write"] += s.shuffleWriteBytes()
        return out


def drain(spark) -> float:
    """Wait until no Spark job is active and return the wait. Background
    jobs an op leaves running (connected components prefetches on a
    daemon thread) would otherwise run inside the next op's timer."""
    tracker = spark.sparkContext.statusTracker()
    t0 = time.perf_counter()
    while tracker.getActiveJobsIds():
        if time.perf_counter() - t0 > DRAIN_TIMEOUT_S:
            raise RuntimeError("Spark jobs still active after the op ended")
        time.sleep(0.005)
    return time.perf_counter() - t0


def reset(spark) -> None:
    """Drop every cached block and collect garbage on both sides, so each
    op starts from the same memory state (a cache or heap an earlier op
    left behind would make op times depend on op order)."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    gc.collect()
    sc._jvm.System.gc()


_SCAN = re.compile(r"Scan parquet")
_EXCHANGE = re.compile(r"\b(?:Broadcast)?Exchange\b")


def plan_shape(df) -> tuple[int, int]:
    """(parquet scans, Exchange nodes) in the physical plan ``explain``
    prints before execution."""
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    return len(_SCAN.findall(text)), len(_EXCHANGE.findall(text))


# ------------------------------------------------------------------ /proc
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants: the driver, the JVM it
    launched and the Python workers the JVM forked."""
    kids = _children()
    todo, out = [root_pid], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def reset_peak_rss(root_pid: int) -> None:
    """Restart VmHWM at the current resident set for every process of
    the tree (writing 5 to clear_refs resets the high-water mark)."""
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM (peak resident set) over the process tree."""
    total_kb = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_ticks() -> list[int]:
    """Host-wide cpu tick counters from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_fracs(before: list[int], after: list[int]) -> tuple[float, float]:
    """(busy, steal) shares of host cpu time between two samples. Busy
    counts everything but idle and iowait; a busy share well above this
    run's own load means another tenant shared the cores."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    idle = d[3] + d[4]
    steal = d[7] if len(d) > 7 else 0
    return (total - idle) / total, steal / total


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) for every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) created or rewritten between two ``dir_files``
    snapshots."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return sum(after[p][0] for p in changed), len(changed)
