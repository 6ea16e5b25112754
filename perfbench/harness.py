"""Process plumbing shared by the workloads: where files go, the cold
Spark set-up that ``setup_s`` times, the JVM shutdown that waits for
every child, the /proc RSS sampler behind ``peak_rss_mb``, and the
order-free table fingerprints the correctness checks compare.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``;
``configure_env`` points Spark's local dirs, Python's tempfile and the
JVM's tmpdir there before the first JVM starts.
"""

from __future__ import annotations

import os
import signal
import threading
import time

CORES = 4  # the benchmark's load shape: local[4], one driver, one client
WORK_DIRNAME = ".perfbench_work"
DRIVER_MEMORY = "2g"


def configure_env(work: str) -> None:
    """Keep every file Spark, Python and the JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: no hsperfdata files under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # get_spark's deployment knob; its 8g default lets the heap, and so
    # peak RSS, grow with GC whim rather than with the work
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    import tempfile

    tempfile.tempdir = tmp


def cold_setup():
    """``get_spark`` at local[4] plus one small warm-up job — the set-up a
    fresh spark-submit pays. Returns ``(spark, t0, t1, t2)``: start,
    session ready, warm-up done (``time.perf_counter`` seconds)."""
    from fscrawler_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES)
    t1 = time.perf_counter()
    spark.range(0, 100_000, 1, CORES).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    return spark, t0, t1, t2


def process_tree(root_pid: int) -> list[int]:
    """PIDs of ``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parens: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional resident set: pages shared with other processes (the
    forked Python workers share most of theirs) count once across all."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident memory of this process tree (driver, JVM,
    Python workers) every ``interval`` seconds on a daemon thread, as the
    sum of each process's PSS so shared pages are not counted once per
    worker; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        pids = process_tree(os.getpid())
        self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def shutdown_spark(spark, wait_s: float = 60.0) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and every process it started (Python workers) have exited."""
    from pyspark import SparkContext

    tree = set(process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    if proc is not None:
        # the gateway JVM exits when its stdin reaches EOF
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=wait_s)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_gone(tree, wait_s)


def wait_gone(pids: set[int], wait_s: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL any still alive after ``wait_s``."""
    deadline = time.monotonic() + wait_s
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if _alive(p)}
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def fingerprint(df, cols=None) -> tuple[int, int]:
    """(row count, order-free sum of per-row xxhash64 over the JSON form
    of ``cols``). Equal fingerprints mean equal multisets of rows up to a
    64-bit hash collision; JSON keeps map and array columns hashable."""
    from pyspark.sql import functions as F

    cols = sorted(cols or df.columns)
    row = df.select(
        F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in cols]))).cast("decimal(38,0)").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return int(row["n"]), int(row["s"] or 0)


def cpu_times() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    The share of steal over a run says how much of the machine the host's
    other tenants took while it ran."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def parquet_size(path: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
