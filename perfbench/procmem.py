"""Process-session memory from /proc (Linux)."""

from __future__ import annotations

import os


def session_pids(sid: int) -> list[int]:
    """Live processes of one session: a benchmark process, its JVM and
    the JVM's Python workers (which inherit the session)."""
    pids = []
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we listed
        # fields[0] is the state (stat field 3); fields[3] the session id
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry.name))
    return pids


def pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: a page shared by n processes (the
    Python worker daemon and its forked workers) counts 1/n in each, so
    the sum is the session's real footprint, where summed RSS counts
    shared pages once per process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # the process ended between listing and reading
    return total
