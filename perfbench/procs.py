"""Process tools built on ``/proc`` (psutil is not available).

Every program the benchmark launches runs as the leader of a new
process group. The runner's JVM is a child of its Python driver, and the
PySpark worker daemon is a child of the JVM that moves itself into a
group of its own. So a kill covers the group and every descendant ever
seen in the tree, and then waits until each of them has gone. The
benchmark process also makes itself a child subreaper, so a process
orphaned by a kill is re-parented to it and can be found and reaped.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(state, ppid, start time) of ``pid``, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # The command name may hold spaces and parentheses; the fields after
    # the last ')' are fixed: state, ppid, ..., start time is field 22.
    fields = raw[raw.rindex(b")") + 2:].split()
    return fields[0].decode(), int(fields[1]), int(fields[19])


def _snapshot() -> dict[int, tuple[str, int, int]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


class ProcTree:
    """The descendants of one launched process, remembered by pid and start
    time so a reused pid is never mistaken for one of them."""

    def __init__(self, root: int):
        self.root = root
        self._seen: dict[int, int] = {}
        self._lock = threading.Lock()

    def scan(self) -> dict[int, int]:
        """Live members of the tree now, pid -> parent pid; each is
        remembered."""
        snap = _snapshot()
        kids: dict[int, list[int]] = {}
        for pid, (_state, ppid, _start) in snap.items():
            kids.setdefault(ppid, []).append(pid)
        live, todo = {}, [self.root] if self.root in snap else []
        while todo:
            p = todo.pop()
            live[p] = snap[p][1]
            todo.extend(kids.get(p, ()))
        with self._lock:
            for p in live:
                self._seen.setdefault(p, snap[p][2])
        return live

    def rss_kb(self) -> int:
        """Summed RSS of the tree now.

        A JVM starts helper commands with posix_spawn, whose child shares
        the JVM's address space until it execs; /proc then reports the
        JVM's whole RSS for that child too. Such a child still runs the
        JVM's executable, so it is left out."""
        live = self.scan()
        exes = {pid: _exe(pid) for pid in live}
        return sum(
            rss_kb(pid) for pid, ppid in live.items()
            if not (exes[pid] == exes.get(ppid) and os.path.basename(exes[pid]) == "java")
        )

    def alive(self) -> list[int]:
        with self._lock:
            seen = list(self._seen.items())
        out = []
        for pid, start in seen:
            st = _stat(pid)
            if st is not None and st[2] == start and st[0] != "Z":
                out.append(pid)
        return out

    def kill(self) -> None:
        try:
            os.killpg(self.root, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
        for pid in self.alive():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def reap_orphans() -> None:
    """Kill and reap every process re-parented to this one. Call only
    when no launched process is running."""
    me = os.getpid()
    for pid, (_state, ppid, _start) in _snapshot().items():
        if ppid == me:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


def _wait_gone(tree: ProcTree, timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while tree.alive():
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


def run_timed(argv: list[str], env: dict, log_prefix: str, timeout: float,
              stop_when=None, cwd: str | None = None) -> dict:
    """Run ``argv`` until it exits, ``timeout`` seconds pass, or
    ``stop_when()`` turns true; in the last two cases its whole tree is
    killed. Output goes to ``<log_prefix>.out`` and ``.err``.

    Returns the wall seconds from launch to exit, the exit code, whether
    it was killed, and the peak summed RSS of its process tree.
    """
    peak = [0]
    done = threading.Event()
    t0 = time.perf_counter()
    with open(log_prefix + ".out", "wb") as out, open(log_prefix + ".err", "wb") as err:
        proc = subprocess.Popen(
            argv, env=env, cwd=cwd, stdout=out, stderr=err,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
    tree = ProcTree(proc.pid)

    def sample() -> None:
        while not done.is_set():
            peak[0] = max(peak[0], tree.rss_kb())
            done.wait(0.1)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    killed = False
    try:
        while proc.poll() is None:
            if time.perf_counter() - t0 > timeout or (stop_when and stop_when()):
                killed = True
                tree.scan()
                tree.kill()
                proc.wait()
                break
            time.sleep(0.02)
        wall = time.perf_counter() - t0
    finally:
        done.set()
        sampler.join()
        if proc.poll() is None:
            tree.kill()
            proc.wait()
        # Whatever the launched program started must end with it.
        if not _wait_gone(tree, 10.0):
            tree.kill()
            if not _wait_gone(tree, 30.0):
                raise RuntimeError(f"processes outlived a kill: {tree.alive()}")
        reap_orphans()
    return {"wall_s": wall, "rc": proc.returncode, "killed": killed,
            "peak_rss_mb": peak[0] / 1024}
