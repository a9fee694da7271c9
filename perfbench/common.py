"""Process set-up shared by every workload: paths, environment, Spark
session set-up (timed from process start), memory read-out and statistics."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "3g"


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and put the
    checkout on the Python workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["QSVSPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _session(work: str):
    from qsvspark.session import get_spark

    return get_spark(
        "perfbench",
        parallelism=CORES,
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )


def _warmup(spark, work: str) -> None:
    """One small job through each engine path the workloads use:
    codegen + shuffle, an Arrow Python worker, a parquet write and read."""
    df = spark.range(0, 20_000, numPartitions=CORES).selectExpr("id", "id % 7 AS k")
    df.groupBy("k").count().collect()
    df.mapInArrow(lambda batches: batches, df.schema).count()
    path = os.path.join(work, "warmup.parquet")
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).where("k = 3").count()


def setup_spark(work: str, t_proc0: float):
    """Start the session and run the warm-up job. The set-up is timed
    from process start, so it covers interpreter start, imports, the JVM
    launch with its driver options, the session and the warm-up job."""
    spark = _session(work)
    t1 = time.time()
    _warmup(spark, work)
    t2 = time.time()
    return spark, {"total_s": t2 - t_proc0, "start_s": t1 - t_proc0, "warmup_s": t2 - t1}


def shutdown(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it; the Python workers go with the session."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int) -> list[int]:
    kids = _proc_children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(spark) -> float:
    """CPU time used so far by this process, the JVM and every process
    below it (a reaped child's time is in its parent's cutime/cstime)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = sum(os.times()[:2])
    for pid in _tree(spark.sparkContext._gateway.proc.pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / tick
    return total


def peak_rss_mb(spark) -> float:
    """VmHWM of the JVM plus every process below it (the Python workers)."""
    return sum(_hwm_kb(pid) for pid in _tree(spark.sparkContext._gateway.proc.pid)) / 1024.0


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = total = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                total += os.path.getsize(os.path.join(d, n))
    return files, total


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, q: float):
    """Nearest-rank percentile."""
    if not xs:
        return None
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q * len(s) + 0.5)) - 1))
    return s[k]


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
