"""What every workload shares: the op loop with its attempt and failure
counts, the Spark session, and host diagnostics."""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import time
import traceback
import zlib
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
# The session factory's 48g default heap exceeds a 15 GB host's RAM. The
# heap is fixed in size and touched at start, so the JVM's resident size
# does not depend on how far G1 chose to grow it in a given run.
DRIVER_HEAP = "2g"


def confine_writes() -> None:
    """Point temp files and Spark's scratch space into ``.cache``, and keep
    spark-submit's launcher JVM from writing its perf data under /tmp."""
    os.makedirs(os.path.join(CACHE, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


# ---------------------------------------------------------------- host state

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_jiffies() -> int | None:
    """Cumulative hypervisor steal (jiffies) from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def tree_peak_rss() -> dict[str, float]:
    """VmHWM in MiB of this process and every live descendant (the Spark
    JVM and its Python workers), keyed by "pid:name"."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def host_speed_mb_s() -> float:
    """Program-independent probe: inflate one constant 2 MiB buffer in
    five timed batches and report the median rate. It tells a slow host
    window apart from a regression."""
    dna = bytes(b"ACGT"[i & 3] for i in range(256))  # 2 bits of entropy a byte
    raw = random.Random(12345).randbytes(2 << 20).translate(dna)
    comp = zlib.compress(raw, 1)
    rates = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(8):
            zlib.decompress(comp)
        rates.append(8 * len(raw) / (1 << 20) / (time.perf_counter() - t0))
    return statistics.median(rates)


def warm_page_cache(path: str) -> int:
    """Read a file once so timed ops never wait on the disk."""
    n = 0
    with open(path, "rb") as fh:
        while chunk := fh.read(4 << 20):
            n += len(chunk)
    return n


# ------------------------------------------------------------------- spark

def start_spark(k: int):
    from oxbow_spark.session import get_spark

    tmp = os.path.join(CACHE, "tmp")
    return get_spark("perfbench", cpus=k, shuffle_partitions=k, extra_conf={
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": os.path.join(CACHE, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(CACHE, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)


def job_stats(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


# --------------------------------------------------------------------- run

@dataclass
class Run:
    seed: int
    seconds: float
    t_start: float              # process start, for setup_s
    gen_s: float = 0.0          # input generation, excluded from setup_s
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    diag: dict = field(default_factory=dict)
    _ok: bool = True

    @contextlib.contextmanager
    def attempt(self):
        """One op: counted as attempted, and as failed if it raises or
        calls ``wrong``. An exception is recorded, not propagated."""
        self.attempted += 1
        self._ok = True
        try:
            yield
        except Exception:  # the run goes on; the op counts as failed
            self._ok = False
            self.errors.append(traceback.format_exc(limit=4))
        if not self._ok:
            self.failed += 1

    def wrong(self, what: str) -> None:
        """Mark the current op's result as wrong."""
        self._ok = False
        self.errors.append(what)

    def timed(self, op, seconds: float, min_ops: int = 1) -> tuple[float, list[float]]:
        """Call ``op(i)`` until ``seconds`` have passed since the first
        call, and at least ``min_ops`` times. ``op`` returns the seconds
        the program took, which excludes its output check. Returns
        (setup_s, durations of ops that did not raise)."""
        t0 = time.perf_counter()
        setup_s = t0 - self.t_start - self.gen_s
        durs: list[float] = []
        i = 0
        while i < min_ops or time.perf_counter() - t0 < seconds:
            d = None
            with self.attempt():
                d = op(i)
            if d is not None:  # a wrong result still took this long
                durs.append(d)
            i += 1
        if not durs:
            raise RuntimeError(f"every op failed: {self.errors[:3]}")
        self.diag["ops"] = i
        self.diag["op_ms"] = [round(d * 1000, 1) for d in durs[:200]]
        return setup_s, durs
