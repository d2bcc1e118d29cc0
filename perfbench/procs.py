"""Process-tree helpers: find, measure and stop every process of a session.

A workload runs in its own session (``setsid``), so the driver JVM it
launches and every Python worker that JVM forks share the session id even
after the PySpark daemon moves them into a process group of their own.
Linux only: everything is read from ``/proc``.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces and parentheses; the fields after it do not
    return raw[raw.rindex(")") + 2:].split()


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes whose session id is ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        # fields[0] is the state, fields[3] the session id
        if fields and fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(name))
    return out


def session_rss_bytes(sid: int) -> int:
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass  # exited between listing and reading
    return total


def describe(pids: list[int]) -> list[str]:
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            cmd = "?"
        out.append(f"{pid}: {cmd[:160]}")
    return out


def stop_session(sid: int, grace_s: float = 5.0, wait_s: float = 20.0) -> list[int]:
    """SIGTERM every process of the session, SIGKILL what is left after
    ``grace_s``, then wait up to ``wait_s`` for all of them to be gone.
    Returns the pids still alive at the end (empty on success)."""
    for sig, limit in ((signal.SIGTERM, grace_s), (signal.SIGKILL, wait_s)):
        for pid in session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + limit
        while time.monotonic() < deadline:
            if not session_pids(sid):
                return []
            time.sleep(0.1)
    return session_pids(sid)


class RssSampler:
    """Samples the session's total resident memory on a background thread
    while ``active`` is set; ``peak_bytes`` is the largest sample seen."""

    def __init__(self, sid: int, period_s: float = 0.1):
        self._sid = sid
        self._period = period_s
        self.active = threading.Event()
        self._stop = threading.Event()
        self.peak_bytes = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            if self.active.is_set():
                self.peak_bytes = max(self.peak_bytes, session_rss_bytes(self._sid))
