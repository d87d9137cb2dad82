"""Host state, process bookkeeping and the Spark session's lifetime."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import tempfile
import time

import numpy as np


def _probe() -> dict:
    a = np.ones(8 << 20)
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        a.copy()
        best = max(best, 2 * a.nbytes / (time.perf_counter() - t0) / 1e9)
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return {"memcpy_gbps": round(best, 2),
            "loadavg_1m": round(os.getloadavg()[0], 2),
            "cpu_steal_s": round(steal / os.sysconf("SC_CLK_TCK"), 2)}


def host_probe() -> dict:
    """Memory copy bandwidth (best of 3, 64 MB), load average and the
    CPU time the hypervisor has stolen since boot, kept beside the
    metrics so a noisy run can be traced to its host.  The probe runs
    in a child process, so its buffers never count toward the run's
    peak resident set."""
    out = subprocess.run([sys.executable, os.path.abspath(__file__)],
                         capture_output=True, text=True, timeout=60,
                         check=True).stdout
    return json.loads(out)


def reset_peak_rss(pids: list[int]) -> None:
    """Reset the processes' peak resident set (VmHWM) to their current
    one, so a later ``peak_rss_mb`` covers only what runs after this."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def cpu_s(pids: list[int]) -> float:
    """CPU seconds the processes have used (user and system, every
    thread), with those of the children they have reaped."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def rss_mb(pid: int) -> float:
    """The process's current resident set (VmRSS)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    # the command name may hold spaces: ppid follows ')'
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def _running(pid: int) -> bool:
    """True while the process exists and has not exited (zombie)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident sets (VmHWM)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def start_spark(work: str, root: str):
    """local[nproc] session whose files all stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # no hsperfdata files in /tmp, from the launcher JVM or the Spark JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def spark_pids() -> list[int]:
    """The JVM behind the session and every process under it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return [proc.pid, *descendants(proc.pid)] if proc is not None else []


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it
    started (python workers included) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = spark_pids()
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    for pid in pids[1:]:
        while _running(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _running(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


if __name__ == "__main__":
    print(json.dumps(_probe()))
