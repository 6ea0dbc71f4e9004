"""Shared harness pieces: the Spark session, the run environment record,
process-tree resource meters, store byte accounting, latency summaries
and the output-check tally."""

from __future__ import annotations

import math
import os
import platform
import statistics
import tempfile
import threading
import time
from dataclasses import dataclass, field


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def meminfo_mb() -> dict[str, int]:
    out = {}
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                k, v = line.split(":", 1)
                out[k] = int(v.split()[0]) // 1024
    except OSError:
        pass
    return out


def heap_mb() -> int:
    """A sixteenth of physical memory, between 1 and 4 GiB: the inputs
    are small, the box is shared with other processes, and a heap that
    fills up keeps the peak-RSS metric from following GC timing."""
    total = meminfo_mb().get("MemTotal", 16384)
    return max(1024, min(4096, total // 16))


def task_slots() -> int:
    """Spark task threads: half the cores.  The other half is left to
    what runs beside the tasks in a local session (the JVM's JIT and GC
    threads, the Python driver, the Python workers); a session with a
    task thread per core oversubscribes the cores, and its timings then
    follow the scheduler of a shared host."""
    return max(1, nproc() // 2)


def session(root: str, work: str):
    """local[task_slots()] session whose scratch space lives under
    ``work``.

    Python workers import the engine from ``root`` (the checkout), the
    UI is off (the status stores the tracer reads stay populated), and
    the stores keep every job of a run."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM of the run (the launcher and Spark's): scratch inside the
    # checkout, no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}") if o)
    from pyspark.sql import SparkSession

    n = task_slots()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb()}m")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to
    exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def environment(spark, root: str, seed: int, scale: str) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "heap": conf.get("spark.driver.memory"),
        "mem_total_mb": meminfo_mb().get("MemTotal"),
        "spark": spark.version,
        "python": platform.python_version(),
        "git_rev": git_rev(root),
        "seed": seed,
        "scale": scale,
    }


def git_rev(root: str) -> str:
    """HEAD of the checkout when it is a git work tree, else
    'unknown' (read from .git directly: no subprocess)."""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            ref = head[5:]
            path = os.path.join(root, ".git", ref)
            if os.path.exists(path):
                with open(path) as fh:
                    return fh.read().strip()
            with open(os.path.join(root, ".git", "packed-refs")) as fh:
                for line in fh:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
        return head
    except OSError:
        return "unknown"


# ---------------------------------------------------------------------------
# process-tree resources
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree() -> list[int]:
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU-s of this process and every descendant (the JVM
    and its Python workers), including reaped children."""
    total = 0
    for p in _tree():
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cu cs
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for p in _tree():
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """Peak process-tree RSS, sampled every ``every`` seconds on a
    background thread between start() and stop().

    The peak counts only what two consecutive samples both saw.  A
    process the JVM spawns (Hadoop's shell helpers) shows the JVM's
    whole resident set for the instant before it execs; one sample that
    catches it would add a second JVM to the peak."""

    def __init__(self, every: float = 0.25) -> None:
        self.every = every
        self.peak = 0.0
        self._last = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        now = tree_rss_mb()
        self.peak = max(self.peak, min(self._last, now))
        self._last = now

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.every)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        self._sample()
        return self.peak


# ---------------------------------------------------------------------------
# host speed: the reference job
# ---------------------------------------------------------------------------

class RefClock:
    """The speed of the host, read off a fixed Spark job that does not
    touch the engine.

    A shared host runs the same work up to 1.5-2 times as slowly in
    spells of minutes, with no other load in the machine and no steal
    time reported; the CPU time of the process tree grows with the wall
    time.  Repetition inside one run cannot take that out, so a run
    marks the host's speed between its phases (``mark``) and the
    end-to-end timings are reported in units of the reference job
    measured beside them (``ref``).  The job is Spark alone, in the same
    JVM and with as many tasks as the engine's jobs get, so it slows
    with the engine's work in a slow spell, but no change to the engine
    can move it.  A pure Python or numpy job tracked the spells less
    well than the raw timings themselves: the spells hit the JVM's work
    harder."""

    JOBS = 4  # reference jobs per mark, ~0.13 s each
    ROWS = 16_000_000

    def __init__(self, spark) -> None:
        self.spark = spark
        self.marks: list[float] = []
        self.cpu_s = 0.0  # process-tree CPU-s of the reference jobs
        cpu = tree_cpu_s()
        for _ in range(2):  # planning, codegen and JIT of its own
            self.job()
        self.cpu_s += tree_cpu_s() - cpu

    def job(self) -> float:
        t = time.perf_counter()
        (self.spark.range(0, self.ROWS, 1, task_slots())
         .selectExpr("sum(hash(id))").collect())
        return time.perf_counter() - t

    def mark(self) -> float:
        """Fastest of ``JOBS`` reference jobs now: a slow spell slows
        every one of them, a GC pause or a burst of JIT compilation only
        some."""
        cpu = tree_cpu_s()
        self.marks.append(min(self.job() for _ in range(self.JOBS)))
        self.cpu_s += tree_cpu_s() - cpu
        return self.marks[-1]


# ---------------------------------------------------------------------------
# storage accounting (from outside the engine: file listings)
# ---------------------------------------------------------------------------

def listing(path: str) -> dict[str, tuple[int, int, int]]:
    """{file: (inode, mtime, size)} for a file or a directory tree."""
    out = {}
    walk = os.walk(path) if os.path.isdir(path) else [
        (os.path.dirname(path), [], [os.path.basename(path)])]
    for d, _, files in walk:
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new or rewritten between two listings."""
    return sum(v[2] for p, v in after.items() if before.get(p) != v)


def tree_bytes(path: str) -> int:
    return sum(v[2] for v in listing(path).values())


class WriteMeter:
    """Accumulates bytes written under ``path`` across measured ops."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.bytes = 0
        self._before: dict = {}

    def __enter__(self) -> "WriteMeter":
        self._before = listing(self.path)
        return self

    def __exit__(self, *exc) -> None:
        self.bytes += written_bytes(self._before, listing(self.path))


# ---------------------------------------------------------------------------
# summaries and checks
# ---------------------------------------------------------------------------

def pctl(values: list[float], q: int) -> float:
    """q-th percentile (1..99), linear interpolation."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


@dataclass
class Tally:
    """Ops attempted and ops that raised or failed their output check."""

    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)
        return ok


def close(a, b) -> bool:
    """Equal, numbers within a relative 1e-9 or an absolute 1e-6 (sums
    reduced in another order differ in the last bits)."""
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(close(a[k], b[k]) for k in a)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def same_rows(got: list, exp: list) -> bool:
    return len(got) == len(exp) and all(
        close(g, e) for g, e in zip(got, exp))


def timed(fn, *a, **kw):
    t = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t
