"""Shared pieces of the benchmark: machine shape, Spark session, noise
readings, peak memory, op statistics and the result fingerprint."""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench", str(os.getpid()))
DRIVER_MEM = "1g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def machine() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"cores": cores(), "mem_gb": round(mem_kb / 2**20, 1),
            "driver_mem": DRIVER_MEM}


def prepare_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout, and let the workers import the engine."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the heap is sized and touched up front, so peak RSS measures the
    # driver's footprint, not how far the collector let the heap grow
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} '
        f'-XX:+AlwaysPreTouch" pyspark-shell')


def start_spark(app: str, extra_conf: dict | None = None):
    """The engine's own session factory, sized from nproc: one
    local executor with ``nproc`` threads and a small driver heap."""
    from adtk_spark.session import get_spark

    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    n = cores()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        **(extra_conf or {}),
    }
    spark = get_spark(app, cores=n, shuffle_partitions=2 * n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM (it exits when its stdin
    closes) and wait for it, so the run leaves no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


# -- noise --------------------------------------------------------------

def read_steal_sec() -> float:
    """Cumulative hypervisor steal seconds: /proc/stat column 8 over
    USER_HZ."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / 100.0
    except (OSError, IndexError, ValueError):
        return float("nan")


def noise_probe() -> float:
    """Seconds for a fixed single-core numpy workload; a slow reading
    means the machine, not the engine, was slow."""
    import numpy as np

    t0 = time.perf_counter()
    for _ in range(2):
        np.sort(np.random.RandomState(0).rand(2_000_000))
    return time.perf_counter() - t0


# -- memory -------------------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this Python driver plus the
    driver JVM it launched."""
    total = _status_kb(os.getpid(), "VmHWM")
    todo = _children(os.getpid())
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if comm == "java":
            total += _status_kb(pid, "VmHWM")
        else:
            todo += _children(pid)
    return total / 1024.0


# -- statistics ---------------------------------------------------------

def tail(samples: list[float]) -> dict | None:
    """The highest of p50/p90/p99 that has at least ten samples beyond
    it, or None when the sample is too small for any."""
    xs = sorted(samples)
    best = None
    for p in (50, 90, 99):
        if len(xs) * (100 - p) / 100 >= 10:
            k = min(len(xs) - 1, math.ceil(len(xs) * p / 100) - 1)
            best = {"p": p, "value": xs[k], "n": len(xs)}
    return best


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# -- result fingerprint (the driver's normalisation rules) --------------

def norm(v) -> str:
    """Fixed six-decimal formatting; integral floats collapse to ints,
    NaN to NULL, -0.0 to 0."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == 0.0:
            return "0"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def fingerprint(cols, rows) -> str:
    """Order-insensitive hash of a result, columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]
