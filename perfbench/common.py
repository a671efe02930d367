"""Shared harness plumbing: the run's temp root, the Spark session the
workloads drive, the generator process, and what the engine reports
(streaming progress, the file source's batch log, the status API)."""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


T0 = time.time()


def log(msg: str) -> None:
    """Progress on stderr (stdout carries the report and result)."""
    print(f"[perfbench {time.time() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def cpu_times() -> list[int]:
    """The machine's cumulative CPU jiffies (user .. steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RunRoot:
    """Every artifact of one run (inputs, checkpoints, sinks, stores,
    the Spark warehouse and local dirs, JVM temp files) lives under one
    directory inside the checkout, removed when the run ends."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(
            CHECKOUT, ".perfbench", f"run-{workload}-{seed}-{os.getpid()}"
        )
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))

    def __call__(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass  # another run's root is still there


def generate(*args: str) -> None:
    """Run the load generator to completion (a separate process)."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "loadgen.py"), *args], check=True
    )


def start_spark(root: RunRoot, cpus: int):
    """The package's own session factory, sized to the box: ``local[cpus]``
    and ``cpus`` shuffle partitions.  Only where files land is changed."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = root("local")
    os.environ["TMPDIR"] = root("tmp")
    # every JVM spark-submit starts (the launcher too) keeps its temp
    # and perf-data files out of the machine's /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={root('tmp')}"
    sys.path.insert(0, CHECKOUT)
    from eventstream_fanout_spark.session import get_spark

    # -Xms: the heap is sized up front, so resident memory does not
    # follow G1's heap growth from run to run (see NOTES.md)
    java_opts = f"-Dderby.system.home={root('derby')} -Xms2g"
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": root("spark-warehouse"),
            "spark.local.dir": root("local"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(stat.split("/")[2]))
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM, this process and the
    JVM's Python workers (their high-water marks, summed)."""
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    pids = [os.getpid(), jvm]
    frontier = [jvm]
    while frontier:
        kids = _children(frontier.pop())
        pids += kids
        frontier += kids
    hwm = {p: _hwm_kb(p) / 1024.0 for p in pids}
    log(f"peak RSS MB: jvm {hwm[jvm]:.0f}, python {hwm[os.getpid()]:.0f}, "
        f"{len(pids) - 2} workers {sum(hwm.values()) - hwm[jvm] - hwm[os.getpid()]:.0f}")
    return sum(hwm.values())


def progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's own log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


class EngineSnapshot:
    """Cumulative job, task, shuffle and GC counters from Spark's status
    API; subtract two snapshots to get a window's figures."""

    def __init__(self, spark):
        sc = spark.sparkContext
        url = sc.uiWebUrl
        self.values = {"jobs": 0, "tasks": 0, "task_ms": 0, "gc_ms": 0, "shuffle": 0}
        if not url:
            return
        port = url.rsplit(":", 1)[1]
        base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        # the status store is fed by the listener bus: let it catch up
        time.sleep(0.3)
        jobs = json.load(urllib.request.urlopen(f"{base}/jobs", timeout=10))
        execs = json.load(urllib.request.urlopen(f"{base}/executors", timeout=10))
        self.values = {
            "jobs": len(jobs),
            "tasks": sum(e["totalTasks"] for e in execs),
            "task_ms": sum(e["totalDuration"] for e in execs),
            "gc_ms": sum(e["totalGCTime"] for e in execs),
            "shuffle": sum(e["totalShuffleWrite"] for e in execs),
        }

    def __sub__(self, other: EngineSnapshot) -> dict[str, float]:
        return {k: self.values[k] - other.values[k] for k in self.values}


def epoch(iso: str) -> float:
    """Seconds since the epoch of a progress report's ISO timestamp."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100)."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def latency_notes(lat: list[float], samples: str, limit_ms: float | None = None) -> dict[str, str]:
    """Report text beside each latency metric: the samples it rests on
    and, given a limit, whether the p90 kept it."""
    p90 = f"over {samples}"
    if limit_ms is not None:
        verdict = "EXCEEDED" if percentile(lat, 90) > limit_ms else "within"
        p90 += f"; limit {limit_ms:,} ms: {verdict}"
    return {"latency_p50_ms": f"over {samples}", "latency_p90_ms": p90}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def overhead_pct(untraced: list[dict], traced: dict, key: str) -> float:
    """How much worse ``key`` read with tracing on, in percent of the
    mean untraced reading (throughput falls, latency rises)."""
    a = statistics.fmean(u[key][0] for u in untraced)
    b = traced[key][0]
    worse = (a - b) if key.startswith("throughput") else (b - a)
    return 100.0 * worse / a if a else 0.0


def engine_layer(progs: list[dict], batch_ids, snap: dict[str, float], wall_s: float, cpus: int) -> dict:
    """``engine.*`` per-layer metrics over the batches whose callback
    ran (``batch_ids``); no-data batches only advance the watermark."""
    data = [p for p in progs if p["batchId"] in batch_ids]
    n = max(1, len(data))

    def avg(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in data) / n

    return {
        "engine.batches": (len(data), "count"),
        "engine.trigger_ms": (avg("triggerExecution"), "ms"),
        "engine.planning_ms": (avg("queryPlanning"), "ms"),
        "engine.wal_commit_ms": (avg("walCommit") + avg("commitOffsets"), "ms"),
        "engine.jobs_per_batch": (snap["jobs"] / n, "count"),
        "engine.tasks_per_batch": (snap["tasks"] / n, "count"),
        "engine.core_util": (snap["task_ms"] / 1000.0 / max(wall_s, 1e-9) / cpus, "ratio"),
        "engine.shuffle_bytes": (snap["shuffle"] / n, "bytes"),
        "engine.gc_ms": (snap["gc_ms"] / n, "ms"),
    }
