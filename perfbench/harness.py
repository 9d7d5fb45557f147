"""Measurement plumbing shared by the workloads: the Spark session's life
cycle, spans, the process-tree RSS sampler, percentiles and result checks.
Nothing here changes what the program does; it only calls it and watches.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
# measured passes per run; --seconds is a floor on top of these
PASSES = {"dataflow": 4, "llm_ops": 3, "metadata": 10}
_T0 = time.time()


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - _T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def measure(wl, seconds: float, spans: list, first_rep: int,
            n: int | None = None) -> list[list]:
    """``n`` passes of ``wl`` (default ``PASSES[wl.name]``), then more until
    ``seconds`` have gone by since the first began."""
    n = PASSES[wl.name] if n is None else n
    passes = []
    end = time.monotonic() + seconds
    while len(passes) < n or time.monotonic() < end:
        p = wl.run_pass(first_rep + len(passes), spans)
        log(f"pass: {sum(op.seconds for op in p):.2f}s "
            f"cpu {sum(op.cpu_s for op in p):.2f}s: "
            + " ".join(f"{op.name}={op.seconds:.2f}" for op in p))
        passes.append(p)
    return passes


def pass_seconds(passes) -> float:
    """Median over passes of the summed operation latencies."""
    return median([sum(op.seconds for op in p) for p in passes])


def pass_cpu_seconds(passes) -> float:
    """Mean over passes of the summed operation CPU times. CPU time comes in
    lumps (a garbage collection falls in one pass or the next), so the mean
    over the whole measurement is steadier than a median of passes."""
    return sum(op.cpu_s for p in passes for op in p) / len(passes)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """Driver heap from the host's memory: a quarter of it, 1-4 GiB."""
    with open("/proc/meminfo", encoding="ascii") as f:
        kib = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kib // (4 * 1024 * 1024)))}g"


class Cluster:
    """One ``local[cores]`` session at a time, through ``session.get_spark``.
    ``start`` after ``stop`` keeps the JVM and replaces the SparkContext."""

    def __init__(self, out_dir: str, cores: int):
        self.out_dir = out_dir
        self.cores = cores
        self.spark = None
        self.gateway_proc = None

    def start(self, event_log_dir: str | None = None):
        from hops_spark.session import get_spark
        tmp = os.path.join(self.out_dir, "tmp")
        conf = {
            "spark.sql.shuffle.partitions": str(self.cores),
            "spark.driver.memory": driver_memory(),
            "spark.local.dir": os.path.join(self.out_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.out_dir, "warehouse"),
            # -UsePerfData: the JVM would write /tmp/hsperfdata_<user>.
            # Fixed compiler threads: an ended thread's CPU time is folded
            # into its process's, where tree_cpu_seconds cannot take it out
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": "file://" + event_log_dir})
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                               **conf)
        from pyspark import SparkContext
        self.gateway_proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self, timeout: float = 60.0) -> None:
        """Stop the session and the JVM, and wait until every process the
        JVM started (Python workers included) has ended."""
        from pyspark import SparkContext
        tree = descendants(os.getpid())
        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self.gateway_proc
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()   # the JVM exits when its stdin closes
            try:
                proc.wait(timeout)
            except Exception:        # noqa: BLE001 - still alive: kill it
                proc.kill()
                proc.wait(timeout)
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            alive = [p for p in tree if os.path.exists(f"/proc/{p}")
                     and _state(p) not in ("Z", "X")]
            if not alive:
                return
            time.sleep(0.1)
        for p in alive:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, ValueError, IndexError):
            continue
    return total


def _cpu_ticks(stat_path: str, children: bool) -> int:
    with open(stat_path, encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15 if children else 13])


def tree_cpu_seconds(root: int) -> float:
    """User plus system CPU time of ``root`` and its descendants, with that
    of the children they have reaped, less the JVM's JIT compiler threads:
    the JIT's work falls off pass by pass as the JVM warms, and would
    otherwise dominate. The hypervisor's steal is not charged to a task."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            total += _cpu_ticks(f"/proc/{pid}/stat", True)
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm",
                          encoding="utf-8") as f:
                    if f.read().startswith(JIT_THREADS):
                        total -= _cpu_ticks(f"/proc/{pid}/task/{tid}/stat",
                                            False)
        except OSError:      # the process or thread has ended
            continue
    return total / TICK


def steal_share() -> tuple[int, int]:
    """(stolen, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class RssSampler:
    """Peak RSS of this process plus its JVM and worker children."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def retained_heap_bytes(spark) -> int:
    """Driver JVM heap still in use after a full collection."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return rt.totalMemory() - rt.freeMemory()


@dataclass
class Span:
    """A benchmark-side span around one public call; spans are kept in
    memory and written out when the run ends."""
    name: str
    start: float        # epoch seconds, comparable with event-log times
    end: float
    parent: str = ""


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(samples, q: float, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile at most ``q`` with at least ``beyond`` samples
    above it: ``(percentile, value, sample count)``. With ``beyond`` or
    fewer samples there is none, and the percentile reads 0."""
    s = sorted(samples)
    n = len(s)
    rank = min(math.ceil(q * n - 1e-9), n - beyond)
    if rank < 1:
        return 0.0, 0.0, n
    return rank / n, s[rank - 1], n


def result_key(columns, rows) -> tuple[list[str], list[tuple[str, ...]]]:
    """Order-insensitive form of a result, as the oracle check compares it
    (``tools/check_oracle.canon``): column names and canonical rows."""
    from check_oracle import canon
    return sorted(columns), canon(rows, list(columns))


def arrow_result_key(table) -> tuple[list[str], list[tuple[str, ...]]]:
    """``result_key`` of an Arrow result. Spark returns UTC-zoned
    timestamps; the oracle's are zone-less UTC."""
    import pyarrow as pa
    cols = [c.cast(pa.timestamp(c.type.unit))
            if pa.types.is_timestamp(c.type) and c.type.tz else c
            for c in table.columns]
    return result_key(table.column_names,
                      list(zip(*(c.to_pylist() for c in cols))))
