"""Peak resident memory of this process's children (the driver JVM and
the Python workers it forks), sampled from /proc.

The JVM (a direct child) is counted by RSS: its pages are its own. The
Python daemon and workers below it are counted by PSS (proportional set
size): the workers are forked from the daemon and share most of their pages,
so summing their RSS would count those pages once per live worker, and the
worker count changes from one sample to the next. PSS is not read for the
JVM because that walks its whole heap under the address-space lock (~30 ms
per read), which slows the program being measured."""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.2       # sampling interval
EXIT_WAIT_S = 60.0   # how long stop() waits for the sampled processes to exit


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name is parenthesised and may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> tuple[list[int], list[int]]:
    """(children, deeper descendants) of ``pid``."""
    kids = _children_map()
    children = kids.get(pid, [])
    deeper, todo = [], list(children)
    while todo:
        for c in kids.get(todo.pop(), []):
            deeper.append(c)
            todo.append(c)
    return children, deeper


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


def pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited, or a kernel thread without an address space
        pass
    return 0


class TreeMemory:
    """Samples the memory of every descendant of this process."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self.parts = {"jvm_rss": 0, "workers_pss": 0}  # peak of each
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            children, deeper = descendants(me)
            self.seen.update(children, deeper)
            jvm = sum(map(rss_bytes, children))
            workers = sum(map(pss_bytes, deeper))
            self.peak_bytes = max(self.peak_bytes, jvm + workers)
            for k, v in (("jvm_rss", jvm), ("workers_pss", workers)):
                self.parts[k] = max(self.parts[k], v)
            self._stop.wait(SAMPLE_S)

    def stop(self) -> None:
        """Stop sampling, then wait until every process seen has exited."""
        self._stop.set()
        self._thread.join()
        deadline = time.time() + EXIT_WAIT_S
        while time.time() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in self.seen
        ):
            time.sleep(0.2)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 1e6
