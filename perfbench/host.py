"""Host facts, process-tree memory, Spark's stderr and child-process cleanup."""

from __future__ import annotations

import os
import re
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """An eighth of the host's RAM, clamped to [1 GiB, 4 GiB]: the driver JVM
    is also the only executor in local mode, its heap is committed up front,
    and the Python workers and the benchmark's numpy checks live outside it.
    The workloads' live data is a few MB."""
    return max(1024, min(4096, mem_total_mb() // 8))


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def git_commit(root: str) -> str | None:
    """HEAD of the checkout when it is a git repository; None otherwise."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class TreeMemory:
    """Samples the memory of this process tree (driver Python, Spark JVM,
    Python workers) and keeps the peak.

    The JVM heap is committed and touched when the JVM starts (``-Xms`` =
    ``-Xmx``, ``AlwaysPreTouch``), so its resident size is the heap setting,
    not the program's use. A sample therefore counts the tree's resident
    memory minus the committed heap, plus what Spark holds in the heap's
    storage pool: cached and checkpointed blocks and broadcast values.
    Sampling starts once ``watch`` is given the JVM; a sample the JVM cannot
    answer (while a Spark context stops or restarts) is skipped."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_parts: dict[str, float] = {}  # MiB, at the peak
        self.peak_by_process: dict[str, float] = {}  # resident MiB per process name, at the peak
        self.samples = 0
        self._heap = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="tree-mem", daemon=True)

    def watch(self, jvm) -> None:
        """Start sampling; ``jvm`` is the py4j view of the Spark JVM."""
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()

        def heap() -> tuple[int, int]:
            env = jvm.org.apache.spark.SparkEnv.get()
            if env is None:
                raise RuntimeError("no Spark context")
            return bean.getHeapMemoryUsage().getCommitted(), env.memoryManager().storageMemoryUsed()

        self._heap = heap
        self.sample()
        if not self._thread.is_alive():
            self._thread.start()

    def sample(self) -> None:
        if self._heap is None:
            return
        try:
            committed, stored = self._heap()
        except Exception:  # noqa: BLE001 - the JVM is between contexts or shutting down
            return
        me = os.getpid()
        rss = {p: _rss_bytes(p) for p in [me, *descendants(me)]}
        tree = sum(rss.values())
        total = tree - committed + stored
        self.samples += 1
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_parts = {"tree_rss": tree / 2**20, "heap_committed": committed / 2**20,
                               "heap_storage": stored / 2**20}
            by: dict[str, float] = {}
            for p, b in rss.items():
                name = _comm(p)
                by[name] = by.get(name, 0.0) + b / 2**20
            self.peak_by_process = by

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> None:
        """Stop sampling and wait for the sampler; call before the JVM stops."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
        self._heap = None

    def __enter__(self) -> "TreeMemory":
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


_LOG_ERROR = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR (.*)$")


class StderrCapture:
    """Points file descriptor 2 at a file so the Spark JVM and its Python
    workers (which inherit it) log there, while ``sys.stderr`` keeps writing
    to the original stream. ``summary`` counts log4j ERROR lines and keeps the
    first few distinct messages; the file itself is deleted, not kept."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._saved: int | None = None
        self._stream = None

    def __enter__(self) -> "StderrCapture":
        import sys

        sys.stderr.flush()
        self._saved = os.dup(2)
        fd = os.open(self.path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        self._stream = os.fdopen(os.dup(self._saved), "w", buffering=1)
        sys.stderr = self._stream
        return self

    def __exit__(self, *exc) -> None:
        import sys

        self._stream.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)
        sys.stderr = sys.__stderr__
        self._stream.close()

    def summary(self, keep: int = 5) -> dict:
        count, first = 0, []
        with open(self.path, errors="replace") as f:
            for line in f:
                m = _LOG_ERROR.match(line.rstrip("\n"))
                if not m:
                    continue
                count += 1
                # drop task/stage/TID numbers so repeats of one failure collapse
                msg = re.sub(r"\d+(\.\d+)?", "N", m.group(1))[:200]
                if msg not in first and len(first) < keep:
                    first.append(msg)
        return {"error_lines": count, "first_errors": first}

    def tail(self, lines: int = 40) -> str:
        with open(self.path, errors="replace") as f:
            return "".join(f.readlines()[-lines:])

    def remove(self) -> None:
        try:
            os.remove(self.path)
        except FileNotFoundError:
            pass


def reap_children(timeout_s: float = 20.0) -> int:
    """Terminate whatever this process still has running below it (the Spark
    JVM and its Python daemon) and wait until every one has exited. Returns
    the number of processes that had to be signalled."""
    left = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s / 2
        while time.monotonic() < deadline:
            # reap direct children; grandchildren are re-parented and reaped by init
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            alive = [p for p in left if os.path.exists(f"/proc/{p}")
                     and not _is_zombie(p)]
            if not alive:
                return len(left)
            time.sleep(0.1)
    return len(left)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"
