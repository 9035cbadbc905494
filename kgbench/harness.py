"""Process environment, Spark session, timing and result helpers.

Everything the benchmark writes goes under ``<checkout>/.bench_work``:
Spark local dirs, the JVM and Python temp dirs, the warehouse and every
table a workload builds. The directory of one run is removed when the
run ends.
"""

from __future__ import annotations

import itertools
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# seed s draws its documents from doc indices [s * SEED_STRIDE, ...)
SEED_STRIDE = 100_000


def cpus() -> int:
    return len(os.sched_getaffinity(0))


# The package default driver heap (16g) is more than a 15 GiB box has;
# the benchmark's inputs need well under 1 GiB.
DRIVER_MEM = "3g"


class Workdir:
    """Scratch directory of one run, inside the checkout."""

    def __init__(self, name: str):
        self.path = ROOT / ".bench_work" / f"{name}-{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        self.path.mkdir(parents=True)
        (self.path / "tmp").mkdir()

    def __call__(self, *parts: str) -> str:
        return str(self.path.joinpath(*parts))

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def prepare_env(work: Workdir) -> None:
    """Environment the JVM and the Python workers inherit. Must run
    before the first SparkSession is created."""
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    os.environ["SPARK_LOCAL_DIRS"] = work("spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["TMPDIR"] = work("tmp")
    # every JVM, the spark-submit launcher's included: temp files in the
    # run's directory, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work('tmp')} -Dderby.system.home={work('derby')}"
        " -XX:-UsePerfData")


def write_documents(path: str, n: int, start: int) -> None:
    """Write documents ``start .. start+n-1`` of the synthetic corpus (the
    rows ``corpus.documents_df(spark, n, start=start)`` yields) as one
    parquet file per core, from this process: no Spark job, so no
    Python worker is started outside the timed set-up."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from multivac_spark.sources import corpus

    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    os.makedirs(path, exist_ok=True)
    per = -(-n // cpus())
    for i, lo in enumerate(range(start, start + n, per)):
        rows = [corpus.gen_document(d)
                for d in range(lo, min(lo + per, start + n))]
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def start_spark(work: Workdir):
    from multivac_spark.session import get_spark

    spark = get_spark(
        app_name="kgbench",
        master=f"local[{cpus()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": work("warehouse"),
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the JVM's Python
    workers, and wait until every one of them has exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # the workers outlive the JVM briefly; they are no longer our
    # descendants then, so wait on the pids seen before the stop
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of this process and every descendant (the
    JVM and its Python workers), sampled from /proc on a thread. The
    process tree is rescanned every ``rescan`` samples; the workers are
    long-lived, and a full /proc scan per sample would compete with
    the driver for the interpreter lock."""

    def __init__(self, interval_s: float = 0.1, rescan: int = 10):
        self.interval_s = interval_s
        self.rescan = rescan
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        for tick in itertools.count():
            if tick % self.rescan == 0:
                pids = [me, *descendants(me)]
            self.peak = max(self.peak, rss_bytes(pids))
            if self._stop.wait(self.interval_s):
                return

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / (1024 * 1024)


class SetupClock:
    """Set-up time: process start to the first timed op, minus the
    intervals spent synthesizing benchmark inputs."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.excluded = 0.0
        self.total: float | None = None

    @contextmanager
    def exclude(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded += time.perf_counter() - t

    def done(self) -> None:
        self.total = time.perf_counter() - self.t0 - self.excluded


# One unit of timed work (a build, or a block of requests) takes
# 10-30 s on a 4-core box, depending on how busy the host is. A run
# measures a number of units fixed by --seconds, not a time-bounded
# loop, so that a fast host measures the same work as a slow one.
UNIT_S = 20


def repeats(seconds: int) -> int:
    """Units of timed work a run of ``seconds`` measures."""
    return max(1, round(seconds / UNIT_S))


def nearest_rank(values: list[float], q: float) -> float:
    """Nearest-rank percentile: with n values, the ceil(q*n)-th
    smallest, so p90 of 100 values leaves ten values above it."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def log(*args) -> None:
    print("[kgbench]", *args, file=sys.stderr, flush=True)
