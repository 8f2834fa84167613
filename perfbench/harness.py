"""Process-level plumbing: hermetic environment, a machine-sized Spark
session, memory sampling from /proc, disk usage, environment fingerprint
and a teardown that waits for every process the run started."""

from __future__ import annotations

import os
import platform
import shutil
import signal
import sys
import threading
import time

#: engine tuning knobs read from the environment; the benchmark measures
#: the defaults, so none of them may leak in from the caller's shell
_ENGINE_ENV_KNOBS = (
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_ARROW_BATCH", "SPARK_GRAFT_FETCH_EMIT_ROWS",
    "SPARK_GRAFT_FETCH_PARTS_FACTOR", "SPARK_GRAFT_EXECUTOR_CORES",
    "SPARK_GRAFT_EXECUTOR_MEM", "PYSPARK_PIN_THREAD",
    # Spark reads these before spark.local.dir; the run keeps its
    # scratch files inside the work dir
    "SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS",
)


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def driver_heap() -> str:
    """A quarter of the machine, clamped to [4, 8] GB: the session's
    fixed 2 GB young generation needs headroom above it, and the rest of
    the machine stays free for the Python workers."""
    gb = mem_total_bytes() // (1 << 30)
    return f"{max(4, min(8, gb // 4))}g"


def prepare_env(root: str, work: str) -> None:
    """Single-threaded BLAS per Python worker, package importable from
    the workers, every temp file inside ``work``."""
    for k in _ENGINE_ENV_KNOBS:
        os.environ.pop(k, None)
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp


def capture_stderr(path: str) -> int:
    """Send fd 2 (ours, the JVM's and the Python workers') to ``path``;
    returns a dup of the original stderr for progress messages."""
    saved = os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    sys.stderr = os.fdopen(os.dup(2), "w", buffering=1)
    return saved


def start_spark(work: str, app: str, extra: dict | None = None):
    from etherscan_contract_crawler_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": driver_heap(),
        "spark.local.dir": os.path.join(work, "spark-local"),
        # prepended to the session's own extraJavaOptions (GC flags)
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra or {})
    return get_spark(app_name=app, cpus=nproc(), extra_conf=conf)


# ---------- process tree ----------
def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
            out[int(d)] = int(s[s.rindex(")") + 2 :].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return out


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split between
    their sharers, so forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _status(pid: int) -> tuple[str, int, int]:
    """(name, parent pid, peak RSS in bytes) from /proc/<pid>/status."""
    name, ppid, hwm = "", 0, 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                if k == "Name":
                    name = v.strip()
                elif k == "PPid":
                    ppid = int(v)
                elif k == "VmHWM":
                    hwm = int(v.split()[0]) * 1024
    except (OSError, ValueError):
        pass
    return name, ppid, hwm


class RssSampler:
    """Peak resident memory of this process and all its descendants: the
    JVM's peak RSS as the kernel records it (VmHWM; its pages are its own,
    and walking its smaps would take about 10 ms of a core per sample)
    plus the peak of the summed proportional set size of the Python
    processes (driver, daemon and workers), sampled every 200 ms. A child
    the JVM has forked but not yet exec'd still reads as ``java`` with the
    JVM's pages, and is skipped."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.jvm_peak = 0
        self.py_peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    @property
    def peak(self) -> int:
        return self.jvm_peak + self.py_peak

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            procs = {p: _status(p) for p in [me] + descendants(me)}
            py = 0
            for p, (name, ppid, hwm) in procs.items():
                if name == "java":
                    if procs.get(ppid, ("",))[0] != "java":
                        self.jvm_peak = max(self.jvm_peak, hwm)
                elif name.startswith("python"):
                    py += _pss_bytes(p)
            self.py_peak = max(self.py_peak, py)
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> int:
        """Stop sampling (idempotent) and return the peak in bytes."""
        self._stop.set()
        self._t.join()
        return self.peak


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all cores (since boot)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def du(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dp, f)).st_size
            except OSError:
                pass
    return total


def fs_type(path: str) -> str:
    best, kind = "", "unknown"
    real = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, parts[2]
    return kind


def fingerprint(spark, warehouse: str) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            model = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), "")
    except OSError:
        pass
    return {
        "nproc": nproc(),
        "cpu": model,
        "mem_total_gb": round(mem_total_bytes() / (1 << 30), 1),
        "driver_heap": driver_heap(),
        "spark": pyspark.__version__,
        "jdk": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "warehouse": warehouse,
        "warehouse_fs": fs_type(warehouse),
    }


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rindex(")") + 2] != "Z"


def stop_all(spark) -> None:
    """Stop Spark, end the JVM and wait until every descendant process
    (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pending = set(descendants(os.getpid()))
    try:
        spark.stop()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway exits on EOF
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while True:
        for p in pending | set(descendants(os.getpid())):
            try:  # reap our own children; other zombies are their parent's
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        pending = {p for p in pending | set(descendants(os.getpid())) if _alive(p)}
        if not pending:
            return
        if time.time() > deadline:
            for p in pending:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


def clean_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
