"""Run environment and the instruments read from outside the program:
process-tree memory from /proc, Spark's job/stage/task counts per job
group, and StreamingQueryListener progress."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import threading
import time


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """2 GiB, or a quarter of physical memory when that is less (the
    workloads' data is small)."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(512, min(2048, kb // (4 * 1024)))


class RunEnv:
    """Everything a run writes goes under one temp root inside the
    checkout, removed at close. Must be created before pyspark or
    synch_spark is imported: both read the environment at import or
    launch time."""

    def __init__(self, checkout: str, cpus: int):
        self.checkout = checkout
        self.cpus = cpus
        base = os.path.join(checkout, ".bench_tmp")
        os.makedirs(base, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=base)
        tmp = os.path.join(self.root, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        heap = driver_heap_mb()
        os.environ["SPARK_DRIVER_MEMORY"] = f"{heap}m"
        # Python workers must import synch_spark from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [checkout] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            f"--conf spark.local.dir={tmp}",
            f"--conf spark.sql.warehouse.dir={self.root}/warehouse",
            f"--conf spark.sql.streaming.checkpointLocation={self.root}/ckpt",
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={self.root}/derby'",
            "pyspark-shell"])
        if checkout not in sys.path:
            sys.path.insert(0, checkout)

    def path(self, *parts) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.root))
        except OSError:
            pass  # another run still uses the base


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (JVM, Python workers), sampled from /proc. Each process counts its
    proportional set size: the Python workers are forked from one daemon
    and share its pages, which plain RSS would count once per worker."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f
                                  if line.startswith("Pss:")) * 1024
            except (OSError, ValueError, StopIteration):
                pass
            todo.extend(children.get(pid, ()))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return self.peak_bytes / (1024 * 1024)


class SparkCounts:
    """Job, stage and task counts for job groups, from statusTracker()."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.jobs = self.stages = self.tasks = 0
        self._seen: set[int] = set()

    def add_group(self, group: str | None) -> None:
        for jid in self.tracker.getJobIdsForGroup(group):
            if jid in self._seen:
                continue
            self._seen.add(jid)
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            self.jobs += 1
            for sid in info.stageIds:
                self.stages += 1
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    self.tasks += st.numTasks


def progress_listener(sink: list):
    """A StreamingQueryListener appending every query progress as a
    plain dict (durationMs phases, state operators) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({
                "id": str(p.id), "runId": str(p.runId), "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs or {}),
                "stateOperators": [
                    {"numRowsTotal": s.numRowsTotal,
                     "memoryUsedBytes": s.memoryUsedBytes}
                    for s in (p.stateOperators or [])],
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def wait_until(pred, timeout: float, step: float = 0.05) -> bool:
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if pred():
            return True
        time.sleep(step)
    return pred()
