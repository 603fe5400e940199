"""Process-tree CPU and memory read from /proc, and the host fingerprint.

The benchmark process starts the Spark JVM, which starts the PySpark
daemon, which forks the Python workers. CPU is summed over that whole tree
as utime + stime + cutime + cstime of every live member: a worker that has
exited and been reaped by its parent (the daemon, or the JVM) keeps
counting through the parent's cutime/cstime, so a unit's CPU does not drop
when the daemon recycles a worker.

Resident memory skips a child that still shares its parent's address
space: the JVM starts helper commands through posix_spawn (a CLONE_VM
child), and until that child execs, its RSS is the whole JVM's again.
"""

from __future__ import annotations

import os
import platform
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_rest(text: str) -> list[str]:
    # field 2 (comm) may hold spaces and parentheses: split after the last ')'
    return text[text.rindex(")") + 2 :].split()


Row = tuple[int, int, int, int, int]


def read_table(proc: str = "/proc") -> dict[int, Row]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages, vsize,
    startstack). The last three equal the parent's only while the two
    share one address space."""
    table = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as f:
                rest = _stat_rest(f.read())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listdir and open
        # rest[i] is stat field i + 3: ppid=4, utime..cstime=14..17,
        # vsize=23, rss=24, startstack=28
        ticks = sum(int(x) for x in rest[11:15])
        table[int(name)] = (int(rest[1]), ticks, int(rest[21]), int(rest[20]), int(rest[25]))
    return table


def tree_pids(table: dict[int, Row], root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in out or pid not in table:
            continue
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int | None = None, proc: str = "/proc") -> tuple[float, float]:
    """(CPU seconds, resident MB) of `root` and all its descendants."""
    table = read_table(proc)
    pids = tree_pids(table, os.getpid() if root is None else root)
    ticks = sum(table[p][1] for p in pids)
    pages = sum(
        table[p][2]
        for p in pids
        if not (table[p][0] in pids and table[table[p][0]][2:] == table[p][2:])
    )
    return ticks / TICK, pages * PAGE / 2**20


def tree_cpu_s(root: int | None = None, proc: str = "/proc") -> float:
    return tree_usage(root, proc)[0]


def descendants(root: int | None = None, proc: str = "/proc") -> set[int]:
    root = os.getpid() if root is None else root
    return tree_pids(read_table(proc), root) - {root}


class PeakRss:
    """Samples the tree's resident memory on a thread; `peak_mb` is the
    largest sum seen. Use as a context manager."""

    def __init__(self, root: int | None = None, interval_s: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_usage(self.root)[1])

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def process_start_epoch(pid: int | None = None, proc: str = "/proc") -> float:
    """Wall-clock time the process started (field 22 of stat, in ticks
    after boot)."""
    pid = os.getpid() if pid is None else pid
    with open(f"{proc}/{pid}/stat") as f:
        start_ticks = int(_stat_rest(f.read())[19])
    with open(f"{proc}/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / TICK


def load_sample(proc: str = "/proc") -> dict:
    """1/5/15-minute load average and the host's cumulative steal ticks."""
    with open(f"{proc}/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open(f"{proc}/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    return {"loadavg": load, "steal_ticks": steal}


def _mem_total_mb(proc: str = "/proc") -> float:
    with open(f"{proc}/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _git_commit(root: str) -> str | None:
    """HEAD's commit read from .git without running git; None outside a
    git checkout."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def source_digest(root: str) -> str:
    """sha256 over kgx/**/*.py (path and bytes): names the program's code
    where the checkout carries no .git."""
    import hashlib

    h = hashlib.sha256()
    base = os.path.join(root, "kgx")
    for d, dirs, files in sorted(os.walk(base)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def fingerprint(root: str, master: str, seed: int) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(_mem_total_mb()),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "commit": _git_commit(root),
        "kgx_sha256": source_digest(root),
        "master": master,
        "seed": seed,
    }
