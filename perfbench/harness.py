"""Process-level plumbing shared by the workloads: pinned environment, Spark
session lifecycle, process-tree RSS sampling and on-disk size."""

from __future__ import annotations

import os
import shlex
import shutil
import subprocess
import sys
import threading

PKG = "priority_data_pipeline_postgres_db_spark"
DRIVER_MEM = "1g"
MAX_CPUS = 4


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    with open(f"/proc/{os.getpid()}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return btime + int(fields[19]) / os.sysconf("SC_CLK_TCK")


def source_digest(root: str) -> str:
    """sha256 over the package's Python sources and ``__spark_entry__.py``,
    so a result names the code it measured even where git is absent."""
    import hashlib

    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for d, _dirs, names in os.walk(os.path.join(root, PKG)):
        paths += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for p in sorted(paths):
        if os.path.exists(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
        return out.stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def pin_environment(root: str, work: str, *, event_log: str | None) -> dict:
    """Set every variable the engine and its Spark launch read, before
    pyspark is imported.  Returns the record stored with each result."""
    for d in ("spark-local", "tmp", "spark-warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers import the odata/staging_changes sources by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = event_log
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    )
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "PYTHONPATH": os.environ["PYTHONPATH"],
        "python": sys.version.split()[0],
        "commit": git_commit(root),
        "source_sha256": source_digest(root),
    }


def start_spark():
    from priority_data_pipeline_postgres_db_spark.session import get_spark
    from priority_data_pipeline_postgres_db_spark.streaming.cdc_source import (
        StagingChangesDataSource,
    )
    from priority_data_pipeline_postgres_db_spark.sources.odata import ODataDataSource

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    # ODataEntitySource reads format("odata") but registers nothing itself
    spark.dataSource.register(ODataDataSource)
    spark.dataSource.register(StagingChangesDataSource)
    spark.range(1).count()
    return spark


def stop_jvm() -> None:
    """Stop the active Spark context and the JVM behind it, and wait for
    the JVM to exit (its Python workers exit with it).  A no-op when no
    JVM was started."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


class Background:
    """Runs ``fn`` in a thread; ``join`` re-raises its exception."""

    def __init__(self, fn):
        self._err: BaseException | None = None
        self._thread = threading.Thread(target=self._run, args=(fn,), daemon=True)
        self._thread.start()

    def _run(self, fn) -> None:
        try:
            fn()
        except BaseException as ex:  # noqa: BLE001 — handed to the joining thread
            self._err = ex

    def join(self) -> None:
        self._thread.join()
        if self._err is not None:
            raise self._err


class NullSpan:
    """Stands in for ``Tracer.span`` when tracing is off."""

    def __init__(self, *_a):
        pass

    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


# --------------------------------------------------------------------------
# peak RSS of the engine's process tree
# --------------------------------------------------------------------------


def _process_table() -> dict[int, list[int]]:
    """Parent pid -> child pids, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants (JVM,
    Python workers) every ``interval`` seconds; ``exclude`` pids and their
    subtrees (the tenant) are left out."""

    interval = 0.1

    def __init__(self):
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self.peak_procs: list[int] = []  # per-process RSS (kB) at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> tuple[int, list[int]]:
        kids = _process_table()
        per, todo = [], [(os.getpid(), "")]
        while todo:
            pid, parent_exe = todo.pop()
            if pid in self.exclude:
                continue
            exe = _exe(pid)
            # a child the JVM forked and has not yet exec'd still maps the
            # JVM's image and resident pages; it is not a process of its own
            if exe.endswith("/java") and exe == parent_exe:
                continue
            per.append(_rss_kb(pid))
            todo.extend((k, exe) for k in kids.get(pid, []))
        return sum(per), per

    def _take(self) -> None:
        total, per = self._sample()
        if total > self.peak_kb:
            self.peak_kb, self.peak_procs = total, sorted(per, reverse=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._take()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._take()
        return self.peak_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(root, n)).st_size
            except OSError:
                pass
    return total


def data_files(path: str) -> dict[str, int]:
    """Every parquet file under ``path`` -> size (hidden dirs included, so
    files written to scratch before a commit rename count once, under
    their final name, only if they stay)."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                try:
                    out[p] = os.lstat(p).st_size
                except OSError:
                    pass
    return out


def manifest_entries(path: str) -> set[str]:
    """Committed manifest entry files and generation pointers under
    ``path`` — each new one is one commit act."""
    out = set()
    for root, _dirs, names in os.walk(path):
        if ".manifest" not in root:
            continue
        for n in names:
            if n.startswith("."):
                continue
            if n.endswith(".json"):
                out.add(os.path.join(root, n))
            elif n == "CURRENT":
                with open(os.path.join(root, n)) as fh:
                    out.add(os.path.join(root, n) + "=" + fh.read().strip())
    return out


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    import numpy as np

    return float(np.quantile(np.asarray(values, dtype=float), q))
