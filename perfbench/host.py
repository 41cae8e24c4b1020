"""Host side of the benchmark: environment pinning, session lifecycle,
process memory and job accounting.

Everything here acts from the benchmark's own process; the engine is
only called through its public entry points (`session.get_spark`).
"""

from __future__ import annotations

import ctypes
import os
import platform
import signal
import sys
import tempfile
import time


def nproc() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def physical_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """JVM heap below physical RAM: session.py defaults to 24g, which
    exceeds small hosts. 2g holds the benchmark's inputs with room to
    spare. On a 4-core VM a 4g heap made pass times and peak RSS about
    three times as noisy from run to run (4-5 runs each)."""
    return f"{max(1024, min(2048, physical_mem_mb() // 4))}m"


def scratch_dirs(work_dir: str) -> tuple[str, str]:
    """(spark local dirs, temp dir) of this run's process; per process,
    so runs sharing a checkout never delete each other's files."""
    pid = os.getpid()
    return (os.path.join(work_dir, f"spark-local-{pid}"),
            os.path.join(work_dir, f"tmp-{pid}"))


def pin_environment(work_dir: str) -> dict:
    """Pin cores, scratch dirs and heap before pyspark is imported, so
    the JVM, its Python workers and every temp file stay inside the
    checkout. Returns the host facts recorded with each result."""
    local_dirs, tmp = scratch_dirs(work_dir)
    for d in (local_dirs, tmp):
        os.makedirs(d, exist_ok=True)
    cpus = nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    os.environ["SPARK_DRIVER_MEM"] = driver_mem()
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return {
        "nproc": cpus,
        "loadavg_start": os.getloadavg()[0],
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "python": platform.python_version(),
    }


def session_conf(work_dir: str) -> dict[str, str]:
    """Benchmark-side session settings: no console progress bars on
    stdout, the JVM's own temp files inside the checkout, and a heap
    committed and touched in full at start (-Xms = -Xmx, pre-touch).
    A heap that grows on demand left the JVM's peak RSS to GC timing:
    on resume_write it moved by 600 MB between runs of equal input."""
    tmp = scratch_dirs(work_dir)[1]
    heap = os.environ["SPARK_DRIVER_MEM"]
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{heap} -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }


def start_session(work_dir: str):
    from spanmarkerner_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cores=os.environ["SPARK_GRAFT_CPUS"],
        extra_conf=session_conf(work_dir),
    )


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    SparkContext._gateway = None
    SparkContext._jvm = None
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            # the JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


# ---------------------------------------------------------------------
# process lifecycle: every process started under the benchmark (the
# oracle pool and its resource tracker, the JVM, its Python daemon and
# workers) has ended before the result line is printed
# ---------------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of everything started under it.
    A process whose parent exits first (the Python daemon of a stopped
    JVM) is then re-parented here, not to init, and can be waited for."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def exit_on_sigterm() -> None:
    """SIGTERM unwinds like an exception, so cleanup runs on that path too."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_children(grace: float = 20.0) -> None:
    """Wait for every child process to end: those still running after
    `grace` seconds get SIGTERM, and SIGKILL 5 seconds later. With
    `adopt_orphans` in effect this covers every descendant."""
    from multiprocessing import resource_tracker

    # the tracker of the spawn pool lives until its pipe is closed
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    start = time.monotonic()
    while True:
        _reap()
        kids = _children().get(os.getpid(), [])
        if not kids:
            return
        waited = time.monotonic() - start
        sig = (signal.SIGKILL if waited > grace + 5
               else signal.SIGTERM if waited > grace else None)
        for pid in kids if sig is not None else []:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


# ---------------------------------------------------------------------
# memory: VmHWM of the JVM and every process under it (Python daemon
# and workers). psutil is not assumed; /proc is read directly.
# ---------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
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
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


class PeakRss:
    """Largest sum of VmHWM over the JVM and its descendant processes
    seen at any sample. Forked Python workers share pages with their
    daemon, so the sum over-counts shared memory; it is consistent
    from run to run, which is what a regression check needs."""

    def __init__(self) -> None:
        self.peak_kb = 0

    def sample(self) -> None:
        root = jvm_pid()
        if root is None:
            return
        kids = _children()
        total, stack = 0, [root]
        while stack:
            pid = stack.pop()
            total += _vm_hwm_kb(pid)
            stack.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------
# Spark job accounting per layer (job groups + status tracker)
# ---------------------------------------------------------------------

def job_counts(spark, group: str) -> dict[str, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = failed = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
                failed += st.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "tasks_failed": failed}
