"""Process plumbing for the benchmark: where it writes, the Spark
session's lifetime, memory sampling and the summary statistics."""

from __future__ import annotations

import contextlib
import math
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

SLOTS = 2  # local[2]: half of the 4-core host the bounds were set on
# the heap is committed and touched at start (-Xms = -Xmx, pre-touch),
# so the JVM's share of peak RSS does not depend on when GC grew it
DRIVER_MEM = "2g"


def prepare_env(workdir: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    `workdir`.  Must run before pyspark launches its JVM."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    for key in ("TMPDIR", "TEMP", "TMP"):
        os.environ[key] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["NUMPY_MADVISE_HUGEPAGE"] = "0"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.local.dir={os.environ['SPARK_LOCAL_DIRS']}",
        "--conf", f"spark.sql.warehouse.dir={workdir}/warehouse",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options",
        f"-Djava.io.tmpdir={shlex.quote(tmp)} -XX:-UsePerfData "
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "pyspark-shell"])


def start_spark(app: str):
    """A session from the engine's own `get_spark`, at local[2]."""
    from varint_rvv_spark.plans.session import get_spark

    spark = get_spark(app=app, master=f"local[{SLOTS}]",
                      shuffle_partitions=SLOTS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def _proc_bytes(pid: int, path: str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/{path}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak memory of the Spark JVM and the Python workers it forks,
    sampled every `period` seconds on a thread: the JVM's RSS plus each
    worker's PSS.  Workers are forked from one daemon and share its
    pages, so summing their RSS would count those pages once per worker
    and jump with the number of idle workers alive."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root = root_pid
        self.period = period
        self.peak = 0
        self.peak_jvm = 0
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            jvm = _proc_bytes(self.root, "status", "VmRSS:")
            workers = process_tree(self.root)[1:]
            total = jvm + sum(_proc_bytes(p, "smaps_rollup", "Pss:")
                              for p in workers)
            self.peak = max(self.peak, total)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_workers = max(self.peak_workers, len(workers))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then end the JVM and wait for it and every
    Python worker it started to exit."""
    proc = spark.sparkContext._gateway.proc
    tree = process_tree(proc.pid)
    try:
        spark.stop()
    finally:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
        deadline = time.monotonic() + timeout
        for pid in tree:
            while os.path.exists(f"/proc/{pid}") and _alive(pid):
                if time.monotonic() > deadline:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(math.ceil(p / 100.0 * len(s)) - 1, 0)
    return s[min(k, len(s) - 1)]


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it,
    never below the median (a run with < 20 samples reports p50)."""
    if n < 20:
        return 50
    return max(50, int(math.floor(100.0 * (1.0 - 10.0 / n))))
