"""Run context shared by the workloads: session set-up, operation and
failure accounting, peak-RSS sampling, provenance and result files."""

from __future__ import annotations

import datetime
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

SPARK_CONF = {
    "spark.ui.retainedJobs": "10000",
    "spark.ui.retainedStages": "10000",
    "spark.driver.host": "127.0.0.1",
    "spark.driver.bindAddress": "127.0.0.1",
}
# The driver heap's cap (get_spark's default is 48g).  The heap grows on
# demand up to it, so peak_rss_mb follows the program's heap.  1 GB is too
# small: GC then doubles the operation walls.
DRIVER_MEMORY = "2g"


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``.
    Must run before pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # each run starts with an empty one
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    # every JVM, the launcher's too, would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def session_conf(work: str, ui: bool) -> dict[str, str]:
    conf = dict(SPARK_CONF)
    conf["spark.local.dir"] = os.path.join(work, "spark-local")
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    # the status UI (and its REST API) is the traced phase's instrument
    conf["spark.ui.enabled"] = "true" if ui else "false"
    conf["spark.ui.port"] = "0"
    return conf


def _process_tree(root: int, cpu: bool = False) -> dict[int, float]:
    """pid -> resident bytes (or, with ``cpu``, user + system CPU
    seconds) for ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    value: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue  # exited while listing
        fields = data[data.rindex(")") + 2 :].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        value[pid] = (int(fields[11]) + int(fields[12])) / tick if cpu else int(fields[21]) * page
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = value.get(pid, 0)
        todo.extend(children.get(pid, []))
    return tree


def tree_rss_bytes(root: int) -> int:
    return sum(_process_tree(root).values())


def descendants(root: int) -> list[int]:
    return [pid for pid in _process_tree(root) if pid != root]


def become_subreaper() -> None:
    """Have descendants that lose their parent (a Python worker whose
    daemon died) re-parented to this process, so that
    ``end_descendants`` still finds them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def end_descendants(grace_s: float = 15.0) -> list[int]:
    """Terminate every process under this one, kill those still there
    after ``grace_s``, and wait until all have ended and been reaped.
    Returns the pids that were still running."""
    me = os.getpid()
    found = descendants(me)
    left = found
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace_s
        while left and time.time() < deadline:
            _reap()
            left = descendants(me)
            time.sleep(0.05)
    _reap()
    return found


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def descendants_cpu_s(root: int) -> float:
    """CPU seconds used so far by the live descendants of ``root``."""
    return sum(s for pid, s in _process_tree(root, cpu=True).items() if pid != root)


class RssSampler:
    """Samples this process tree's resident bytes in a thread; ``peak``
    is the run's peak, ``take()`` the peak since the previous take."""

    def __init__(self, interval_s: float = 0.25):
        self.peak = 0
        self._since = 0
        self._lock = threading.Lock()
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            rss = tree_rss_bytes(os.getpid())
            with self._lock:
                self.peak = max(self.peak, rss)
                self._since = max(self._since, rss)
            if self._stop.wait(self._interval):
                return

    def take(self) -> int:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            out, self._since = max(self._since, rss), rss
        return out

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


@dataclass
class Bench:
    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str
    work: str
    spark: object = None
    rss: RssSampler | None = None
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def op(self, name: str, fn, check=None):
        """Run one operation; count it, and count it failed if it raises
        or its ``check(result)`` returns a reason.  Returns the result,
        or None when it raised."""
        self.attempted += 1
        try:
            result = fn()
        except Exception:
            self.fail(name, traceback.format_exc(limit=4).strip().splitlines()[-1])
            return None
        if check is not None:
            self.check(name, lambda: check(result))
        return result

    def check(self, name: str, fn) -> None:
        """Run a deferred output check of an already counted operation."""
        try:
            reason = fn()
        except Exception:
            reason = "check raised " + traceback.format_exc(limit=4).strip().splitlines()[-1]
        if reason:
            self.fail(name, reason)

    def fail(self, name: str, reason: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {reason}")

    def start(self, tracer, ui: bool = False) -> float:
        """Launch the JVM, start a session in it and one Python worker
        per core with the package imported; return the wall."""
        from sketch_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session.setup"):
            with tracer.span("session.get_spark"):
                self.spark = get_spark(
                    f"perfbench-{self.workload}",
                    cores=os.cpu_count(),
                    extra_conf=session_conf(self.work, ui),
                )
            start_workers(self.spark)
        return time.perf_counter() - t0


def start_workers(spark) -> None:
    def touch(batches):
        import sketch_spark.operators.aggregate  # noqa: F401

        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInArrow(touch, "id long").collect()


def until(seconds: float, min_iters: int = 1):
    """Yield iteration numbers until ``seconds`` have passed, and at
    least ``min_iters`` times."""
    t0 = time.perf_counter()
    i = 0
    while i < min_iters or time.perf_counter() - t0 < seconds:
        yield i
        i += 1


def tail(values: list[float]) -> tuple[float, float, int]:
    """(percentile, value, n): the highest percentile with at least ten
    samples beyond it, or the maximum when there are too few samples."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return 100.0, v[-1], n
    idx = n - 11
    return 100.0 * (idx + 1) / n, v[idx], n


def git_sha(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown (not a git checkout)"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return "unknown (git not installed)"
    return out.stdout.strip() or "unknown"


def provenance(bench: Bench) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    conf = dict(sorted(bench.spark.sparkContext.getConf().getAll())) if bench.spark else {}
    return {
        "git_sha": git_sha(bench.root),
        "nproc": os.cpu_count(),
        "date_utc": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "host": platform.node(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "session_conf": conf,
    }


def write_result(bench: Bench, record: dict) -> str:
    """Write the run's result file, labelled against earlier results of
    the same workload: only those recorded with the same nproc are
    summarised for comparison; the rest are listed as not comparable."""
    out_dir = os.path.join(bench.work, "results")
    os.makedirs(out_dir, exist_ok=True)
    kind = "traced" if bench.trace else "untraced"
    earlier, other_shape = [], []
    for fn in sorted(os.listdir(out_dir)):
        if not fn.startswith(f"{bench.workload}-{kind}-"):
            continue
        with open(os.path.join(out_dir, fn)) as f:
            prev = json.load(f)
        if prev["provenance"]["nproc"] == record["provenance"]["nproc"]:
            earlier.append(prev["metrics"])
        else:
            other_shape.append({"file": fn, "nproc": prev["provenance"]["nproc"]})
    record["earlier_same_nproc"] = {
        name: {"median": statistics.median(m[name] for m in earlier), "runs": len(earlier)}
        for name in record["metrics"]
        if earlier and all(name in m for m in earlier)
    }
    record["not_compared_other_nproc"] = other_shape
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S%f")
    path = os.path.join(out_dir, f"{bench.workload}-{kind}-{stamp}-seed{bench.seed}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return path
