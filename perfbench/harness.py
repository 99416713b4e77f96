"""What every workload shares: timed calls under a Spark job group,
output checks, and the failure count.

Each call into the engine runs under
``sc.setJobGroup("<workload>:<layer.call>:<phase>")`` so the event log
of a traced run attributes every Spark job to the call that caused it.
A call or check that raises, or a check that finds a mismatch, counts
as failed; the run goes on.
"""

from __future__ import annotations

import glob
import os
import sys
import time
import traceback
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def proc_stats() -> dict[int, list[str]]:
    """``{pid: /proc/<pid>/stat fields after "(comm)"}`` of every live
    process (fields: state ppid pgrp ... utime stime cutime cstime ...
    starttime)."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                out[int(stat.split("/")[2])] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def tree_stats(root: int) -> dict[int, list[str]]:
    """Stat fields of ``root`` and every live descendant, found through
    the parent links. A tree, not a process group: PySpark's daemon
    calls ``setpgid(0, 0)``, so it and the Python workers it forks sit
    in a group of their own, under the driver JVM."""
    stats = proc_stats()
    children: dict[int, list[int]] = defaultdict(list)
    for pid, fields in stats.items():
        children[int(fields[1])].append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid]
            todo.extend(children[pid])
    return out


def session_stats(sid: int) -> dict[int, list[str]]:
    """Stat fields of every live process in session ``sid``. The daemon's
    ``setpgid`` keeps the session, and so does a process whose parent
    died, so this finds all a run started even after a crash."""
    return {pid: f for pid, f in proc_stats().items() if int(f[3]) == sid}


# the JVM's JIT compiler threads, names cut to 15 characters by the kernel
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_ticks(pid: int) -> int:
    """CPU ticks of process ``pid``'s JIT compiler threads. The JVM is
    started with ``-XX:-UseDynamicNumberOfCompilerThreads``, so these
    threads live as long as it does and the count only grows."""
    ticks = 0
    for stat in glob.glob(f"/proc/{pid}/task/*/stat"):
        try:
            with open(stat) as fh:
                text = fh.read()
        except OSError:
            continue
        head, tail = text.rsplit(")", 1)
        if head.split("(", 1)[1].startswith(JIT_THREADS):
            ticks += sum(int(x) for x in tail.split()[11:13])  # utime stime
    return ticks


def tree_cpu_s() -> tuple[float, float]:
    """(CPU seconds, JIT CPU seconds) of this process's tree: the driver
    Python process, its JVM, the JVM's PySpark daemon and the Python
    workers the daemon forks. The first figure counts user + system
    time, reaped children included, and leaves out the JVM's JIT
    compiler threads, whose work follows when methods cross compile
    thresholds more than what the engine does; the second is theirs.
    Unlike wall time, CPU time excludes the time a shared host's
    hypervisor ran other guests."""
    stats = tree_stats(os.getpid())
    # utime stime cutime cstime
    total = sum(int(x) for f in stats.values() for x in f[11:15])
    jit = sum(jit_ticks(pid) for pid in stats)
    return (total - jit) / _TICK, jit / _TICK


def table_rows(path: str, columns=None) -> list[dict]:
    """Every row of a parquet table dir, read with pyarrow (no Spark job)."""
    import pyarrow.parquet as pq

    rows: list[dict] = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        rows.extend(pq.read_table(f, columns=columns).to_pylist())
    return rows


class Recorder:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.attempted = 0
        self.failed = 0
        # (call, phase) -> wall seconds / CPU seconds of each completed call
        self.spans: dict[tuple[str, str], list[float]] = defaultdict(list)
        self.cpu_spans: dict[tuple[str, str], list[float]] = defaultdict(list)

    def group(self, call: str, phase: str) -> str:
        return f"{self.workload}:{call}:{phase}"

    def _fail(self, what: str, detail: str) -> None:
        self.failed += 1
        last = detail.strip().splitlines()[-1] if detail.strip() else ""
        print(f"perfbench: FAILED {what}: {last}\n{detail}", file=sys.stderr, flush=True)

    def timed(self, call: str, phase: str, fn, *args, **kwargs):
        """Run ``fn`` as one operation; returns its result, or None if it raised."""
        gid = self.group(call, phase)
        self.sc.setJobGroup(gid, gid)
        self.attempted += 1
        (c0, _), t0 = tree_cpu_s(), time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            self._fail(gid, traceback.format_exc())
            return None
        finally:
            self.sc.setJobGroup(self.group("harness", "idle"), "")
        self.spans[(call, phase)].append(time.perf_counter() - t0)
        self.cpu_spans[(call, phase)].append(tree_cpu_s()[0] - c0)
        return result

    def check(self, what: str, fn, *args, **kwargs) -> bool:
        """Untimed output check: ``fn`` returns True, or a falsy value /
        raises on a mismatch."""
        gid = self.group(f"check.{what}", "check")
        self.sc.setJobGroup(gid, gid)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            ok = bool(fn(*args, **kwargs))
            detail = "mismatch"
        except Exception:  # noqa: BLE001 — a failed check is counted, not fatal
            ok, detail = False, traceback.format_exc()
        finally:
            self.sc.setJobGroup(self.group("harness", "idle"), "")
            self.spans[(f"check.{what}", "check")].append(time.perf_counter() - t0)
        if not ok:
            self._fail(f"check {what}", detail)
        return ok

    def seconds(self, call: str, phase: str, cpu: bool = False) -> list[float]:
        """Wall (or, with ``cpu``, CPU) seconds of each completed call."""
        return (self.cpu_spans if cpu else self.spans).get((call, phase), [])

    def cpu_by_call(self) -> dict[str, list[float]]:
        """``{"<call>:<phase>": CPU seconds of each completed call}``."""
        return {f"{c}:{p}": [round(t, 2) for t in ts] for (c, p), ts in self.cpu_spans.items()}

    def phase_totals(self, cpu: bool = False) -> dict[str, float]:
        """Wall (or, with ``cpu``, CPU) seconds spent per phase; the wall
        seconds include the checks."""
        out: dict[str, float] = defaultdict(float)
        for (_, phase), ts in (self.cpu_spans if cpu else self.spans).items():
            out[phase] += sum(ts)
        return {p: round(t, 2) for p, t in out.items()}

