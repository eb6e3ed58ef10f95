"""Peak resident memory of a process tree, sampled from /proc.

    python3 perfbench/rss.py <pid> <interval_s>

Samples the summed resident memory of ``pid`` and its descendants (other
than this sampler) every ``interval_s`` seconds until standard input is
closed, then prints the peak in bytes.  It runs as its own process so
that sampling never holds the benchmarked interpreter's lock.
"""

from __future__ import annotations

import os
import select
import sys


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of ``root_pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root_pid: int, skip: int) -> int:
    """Resident bytes of ``root_pid`` and its descendants other than
    ``skip``."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        if pid == skip:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def main() -> int:
    pid, interval = int(sys.argv[1]), float(sys.argv[2])
    peak = 0
    while True:
        peak = max(peak, tree_rss_bytes(pid, skip=os.getpid()))
        ready, _, _ = select.select([sys.stdin], [], [], interval)
        if ready:
            break
    print(peak)
    return 0


if __name__ == "__main__":
    sys.exit(main())
