"""Host-side counters read from ``/proc`` and the filesystem."""

from __future__ import annotations

import os
import threading


def run_context(seed: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "seed": seed,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


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
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants: this
    process, the JVM it launched and the JVM's Python workers.  PSS
    splits pages shared between processes among them, so workers forked
    from one daemon are not counted once per fork as RSS would."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process exited between listing and reading
            pass
    return total


# Reading the JVM's smaps_rollup costs several milliseconds under its
# memory-map lock, so samples are sparse enough not to slow the JVM down.
SAMPLE_INTERVAL_S = 0.5


class PeakMemory:
    """Samples the process tree's memory on a thread until stopped;
    ``peak`` is the largest sum seen."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def census(root: str) -> dict[str, tuple[int, int, int]]:
    """Every regular file under ``root``: relative path -> (size, inode,
    mtime ns).  A file rewritten in place or replaced shows a new key."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def is_data_file(rel: str) -> bool:
    return rel.endswith(".parquet") and not os.path.basename(rel).startswith(".")


def data_files(files: dict[str, tuple[int, int, int]]) -> list[str]:
    return [r for r in files if is_data_file(r)]


def total_bytes(files: dict[str, tuple[int, int, int]]) -> int:
    return sum(v[0] for v in files.values())


def diff(before: dict, after: dict) -> dict:
    """What one write did to a catalog directory: the data files it
    removed or replaced, the bytes it wrote, and the cells it touched
    (a cell is the directory that holds a data file)."""
    gone = [r for r in before if r not in after or after[r] != before[r]]
    new = [r for r in after if r not in before or before[r] != after[r]]
    cells = {os.path.dirname(r) for r in gone + new if is_data_file(r)}
    return {
        "files_rewritten": sum(1 for r in gone if is_data_file(r)),
        "bytes_written": sum(after[r][0] for r in new),
        "cells_touched": len(cells),
    }


