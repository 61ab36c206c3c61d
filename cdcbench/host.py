"""Host-sized Spark settings, the preflight that proves they hold, and
peak-RSS sampling of the benchmark's process tree.

``get_spark`` defaults to ``local[32]`` and a 48g driver heap when its
environment is unset. The benchmark never relies on those defaults: it sizes
parallelism to the cores this process may run on and the heap to the host's
memory, and refuses to report numbers from a session that does not match.
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")
HEAP_GB = 2


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class HostSettings:
    """The pinned settings of one run. ``apply_env`` must run before the
    first SparkSession is created: the JVM reads the heap and GC options at
    launch."""

    def __init__(self, work: str):
        self.nproc = len(os.sched_getaffinity(0))
        # a 2 GB driver heap, or a quarter of the host if that is less. The
        # engine's GC options never shrink the heap, so peak RSS follows how
        # far the heap grew: a heap the ingest working set fills ends every
        # run at the same size. With a 200k-event backfill, ingest peak RSS
        # ranged 2.5-2.7 GB over five seeds with a 2 GB heap, 2.5-3.5 GB
        # with 3 GB and 2.7-3.9 GB with 4 GB.
        self.heap_gb = max(1, min(HEAP_GB, _mem_total_bytes() // (4 << 30)))
        self.heap = f"{self.heap_gb}g"
        self.master = f"local[{self.nproc}]"
        self.local_dir = os.path.join(work, "spark-local")
        self.tmp_dir = os.path.join(work, "tmp")
        self.event_log_dir = os.path.join(work, "eventlog")

    def apply_env(self) -> None:
        import sys

        os.makedirs(self.local_dir, exist_ok=True)
        os.makedirs(self.tmp_dir, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        os.environ["SPARK_DRIVER_MEM"] = self.heap
        # SPARK_LOCAL_DIRS overrides spark.local.dir, so pin both
        os.environ["SPARK_LOCAL_DIRS"] = self.local_dir
        os.environ["TMPDIR"] = self.tmp_dir
        # the JVM's own scratch (native libraries it unpacks, Spark's
        # artifact directory) stays in the work dir, and no perf-data file
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.tmp_dir} -XX:-UsePerfData"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # the GC options must be the engine's own defaults, not an override
        os.environ.pop("SPARK_GRAFT_JAVA_OPTS", None)

    def spark_conf(self, event_log: bool = False) -> dict[str, str]:
        conf = {
            "spark.local.dir": self.local_dir,
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start_session(self, app: str, event_log: bool = False):
        from seatunnel_spark.session import get_spark

        return get_spark(
            app, master=self.master, shuffle_partitions=self.nproc,
            extra_conf=self.spark_conf(event_log),
        )

    def preflight(self, spark) -> dict:
        """Check that the live session runs with the pinned settings and the
        engine's GC options (the same tripwire bench.py keeps); raise if any
        does not hold. Returns the facts recorded in the output."""
        from seatunnel_spark.session import default_gc_opts

        sc = spark.sparkContext
        jvm = sc._jvm
        want_gc = default_gc_opts(self.heap)
        jvm_args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
        max_heap = int(jvm.java.lang.Runtime.getRuntime().maxMemory())
        facts = {
            "nproc": self.nproc,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "jvm_max_heap_mb": max_heap >> 20,
            "driver_java_opts": spark.conf.get("spark.driver.extraJavaOptions", ""),
            "local_dir": spark.conf.get("spark.local.dir", ""),
        }
        problems = []
        if facts["master"] != self.master:
            problems.append(f"master {facts['master']} != {self.master}")
        if facts["default_parallelism"] != self.nproc:
            problems.append(f"defaultParallelism {facts['default_parallelism']} != {self.nproc}")
        if facts["shuffle_partitions"] != str(self.nproc):
            problems.append(f"shuffle partitions {facts['shuffle_partitions']} != {self.nproc}")
        if facts["driver_memory"] != self.heap:
            problems.append(f"spark.driver.memory {facts['driver_memory']} != {self.heap}")
        # ParallelGC reports Xmx minus one survivor space as maxMemory
        if max_heap < 0.8 * (self.heap_gb << 30) or max_heap > (self.heap_gb << 30):
            problems.append(f"JVM max heap {max_heap >> 20} MB does not match -Xmx{self.heap}")
        if want_gc not in facts["driver_java_opts"]:
            problems.append(f"driver java opts {facts['driver_java_opts']!r} lack {want_gc!r}")
        missing = [a for a in want_gc.split() if a not in jvm_args]
        if missing:
            problems.append(f"running JVM lacks GC options {missing}")
        if facts["local_dir"] != self.local_dir:
            problems.append(f"spark.local.dir {facts['local_dir']!r} != {self.local_dir!r}")
        if problems:
            raise RuntimeError("host preflight failed: " + "; ".join(problems))
        return facts


class PeakRss:
    """Samples the summed RSS of this process and all its descendants (the
    driver JVM, Python workers, the trickle feeder) in a daemon thread."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def tree_rss_bytes(root: int) -> int:
    return tree_rss(proc_table(), root)


def proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, virtual size, resident size) of every live process."""
    procs: dict[int, tuple[int, int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/statm") as fh:
                size, resident = (int(x) for x in fh.read().split()[:2])
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        procs[int(d)] = (ppid, size * PAGE, resident * PAGE)
    return procs


def tree_rss(procs: dict[int, tuple[int, int, int]], root: int) -> int:
    """Summed resident bytes of ``root`` and its descendants; ``procs`` maps
    pid to (ppid, virtual size, resident size). A child whose virtual size
    equals its parent's shares the parent's pages: the JVM and Python start
    a program with vfork (``posix_spawn``), and until the child execs it
    runs in the parent's address space, which a sample would count twice.
    Such a child is skipped; its own children are not."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid not in procs:
            continue
        ppid, size, resident = procs[pid]
        if pid == root or ppid not in procs or procs[ppid][1] != size:
            total += resident
        stack.extend(children.get(pid, ()))
    return total


def cpu_times() -> list[int]:
    """The host's cumulative CPU tick counters (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time the hypervisor took between two samples: a
    noisy-neighbour marker printed with each run's figures."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) else 0.0
