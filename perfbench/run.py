#!/usr/bin/env python3
"""Benchmark entry point: one workload run, one JSON result line.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 12 --trace 0

Run from the repository root. Pins the run environment, starts the
workload in a child Spark driver process (``worker.py``), samples the
resident memory of that process and everything it starts (the driver
JVM and its Python workers), counts the WARN lines and Java stack
traces the run printed, and prints as its last stdout line::

    {"correct": …, "attempted": …, "failed": …, "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (from spans and the Spark event log). The line before it
records the host: cores, memory, load average and source revision.
Exits non-zero, printing no result, when the run cannot complete.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("queries", "ingest_index")
RUN_TIMEOUT_S = 160
EXIT_GRACE_S = 8
RSS_SAMPLE_S = 0.25
DRIVER_MEM_CAP_GB = 4

sys.path.insert(0, HERE)
import metrics  # noqa: E402
from harness import session_stats  # noqa: E402
from sparklogs import census_stderr  # noqa: E402


def mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def run_env(work: str) -> dict[str, str]:
    cores = os.cpu_count() or 1
    # a quarter of the host, at most 4g: the session's own default (48g)
    # assumes a large host
    mem_gb = max(1, min(DRIVER_MEM_CAP_GB, int(mem_total_gb() / 4)))
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
            "SPARK_GRAFT_UI": "false",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": os.path.join(work, "tmp"),
            # spark-submit's launcher JVM: no hsperfdata file under /tmp
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            # executors' Python workers import the engine and the feed
            # module by name, whatever the working directory
            "PYTHONPATH": os.pathsep.join(
                [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
            ),
            "PYTHONHASHSEED": "0",
        }
    )
    return env


def cpu_times() -> list[int]:
    """Host-wide jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def session_rss_bytes(sid: int) -> tuple[int, int]:
    """(resident bytes of every process of the run, of its JVMs)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = jvm = 0
    for pid in session_stats(sid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as fh:
                is_jvm = fh.read().strip() == "java"
        except OSError:
            continue
        total += rss
        jvm += rss if is_jvm else 0
    return total, jvm


def stop_session(sid: int) -> None:
    """Wait for every process of the run to end; kill what lingers."""
    deadline = time.monotonic() + EXIT_GRACE_S
    while session_stats(sid) and time.monotonic() < deadline:
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in session_stats(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 3
        while session_stats(sid) and time.monotonic() < deadline:
            time.sleep(0.2)
        if not session_stats(sid):
            return


def source_revision() -> dict:
    """The commit when run from a git checkout, and always a digest of
    the engine and benchmark sources."""
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(ROOT, "tia_data_pipeline_spark", "**", "*.py"), recursive=True)
        + glob.glob(os.path.join(HERE, "*.py"))
        + [os.path.join(ROOT, "bench.py")]
    )
    for f in files:
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                h.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def declared_names() -> tuple[set[str], set[str]] | None:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["end_to_end"]}, {m["name"] for m in spec["per_layer"]}


def compose(workload: str, trace: bool, res: dict, peak_rss: int, census: dict) -> dict:
    """The result line's ``metrics`` object."""
    if not trace:
        values = dict(res["end_to_end"])
        units = {k: v[0] for k, v in metrics.END_TO_END.items()}
    else:
        values = dict(res["per_layer"])
        values["session.peak_rss_mb"] = peak_rss / 2**20
        values["log.warn_lines"] = sum(census["warn"].values())
        values["log.stack_traces"] = sum(census["stack_traces"].values())
        owned = metrics.PER_LAYER_BY_WORKLOAD[workload]
        if set(values) != set(owned):
            raise RuntimeError(f"per-layer names differ: {sorted(set(values) ^ set(owned))}")
        # layers this workload never calls did no work in it
        values.update({k: 0 for k in metrics.PER_LAYER if k not in owned})
        units = metrics.PER_LAYER
    if set(values) != set(units):
        raise RuntimeError(f"metric names differ: {sorted(set(values) ^ set(units))}")
    return {k: {"value": values[k], "unit": units[k]} for k in sorted(values)}


def _terminate(signum, frame):
    # unwind through main's finally blocks, which stop the run's processes
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    out = os.path.join(work, "result.json")
    err_path = os.path.join(work, "stderr.log")
    env = run_env(work)
    load_before = os.getloadavg()
    cpu_before = cpu_times()
    peak = peak_jvm = 0
    try:
        with open(err_path, "w") as err:
            t0 = time.monotonic()
            child = subprocess.Popen(
                [
                    sys.executable, os.path.join(HERE, "worker.py"),
                    "--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--root", ROOT, "--work", work, "--t0", repr(t0), "--out", out,
                ],
                cwd=work, env=env, stdout=err, stderr=err,
                start_new_session=True,
            )
            try:
                while child.poll() is None:
                    rss, jvm = session_rss_bytes(child.pid)
                    peak, peak_jvm = max(peak, rss), max(peak_jvm, jvm)
                    if time.monotonic() - t0 > RUN_TIMEOUT_S:
                        print("perfbench: run timed out", file=sys.stderr)
                        break
                    time.sleep(RSS_SAMPLE_S)
            finally:
                if child.poll() is None:
                    child.kill()
                child.wait()
                stop_session(child.pid)
        census = census_stderr(err_path)
        with open(err_path, errors="replace") as fh:
            for line in fh:
                if line.startswith("perfbench:"):
                    sys.stderr.write(line)
        if child.returncode != 0 or not os.path.isfile(out):
            with open(err_path, errors="replace") as fh:
                sys.stderr.write(fh.read()[-4000:])
            print(f"perfbench: worker exited with {child.returncode}", file=sys.stderr)
            return 1
        with open(out) as fh:
            res = json.load(fh)
        delta = [b - a for a, b in zip(cpu_before, cpu_times())]
        steal, total = delta[7], sum(delta)
        result_metrics = compose(a.workload, bool(a.trace), res, peak, census)
        declared = declared_names()
        if declared is not None and set(result_metrics) != declared[a.trace]:
            raise RuntimeError("printed metrics differ from BENCHMARK.json")
        for kind in ("warn", "stack_traces"):
            top = ", ".join(f"{k}={v}" for k, v in census[kind].most_common(5))
            print(f"perfbench: {kind} by logger: {top or 'none'}", file=sys.stderr)
        host = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": os.cpu_count(),
            "mem_total_gb": round(mem_total_gb(), 1),
            "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
            "loadavg_before": [round(x, 2) for x in load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            # share of host CPU time the hypervisor gave to other guests
            "cpu_steal_pct": round(100 * steal / max(1, total), 1),
            "peak_rss_mb": round(peak / 2**20),
            "peak_jvm_rss_mb": round(peak_jvm / 2**20),
            **res.get("info", {}), **source_revision(),
        }
        print("perfbench host: " + json.dumps(host, sort_keys=True))
        print(
            json.dumps(
                {
                    "correct": res["failed"] == 0,
                    "attempted": res["attempted"],
                    "failed": res["failed"],
                    "metrics": result_metrics,
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
