"""One workload run inside one Spark driver process.

Started by ``run.py`` with the run environment already pinned (cores,
driver memory, local dirs, ``PYTHONPATH``, ``TMPDIR``). Starts the
session, prepares the seeded inputs, runs the workload's closed loop
(one client: each call starts when the previous one returned), stops
the session and writes its result as JSON to ``--out``. With
``--trace 1`` the session also writes an uncompressed event log, which
is folded into per-layer counters and deleted.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS_SF = 0.1
CORPUS_SEED = 42  # the corpus is fixed; the run seed drives order, splits and feeds
WARMUP_ROWS = 1_000_000


def corpus_dir(root: str) -> str:
    """The sf0.1 corpus, generated once per checkout and reused."""
    import corpus

    with open(corpus.__file__, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:12]
    cache = os.path.join(root, ".perfbench_cache")
    final = os.path.join(cache, f"corpus-sf{CORPUS_SF}-{CORPUS_SEED}-{digest}")
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{os.getpid()}"
        corpus.write_corpus(tmp, CORPUS_SF, CORPUS_SEED)
        try:
            os.rename(tmp, final)
        except OSError:  # a concurrent run finished first
            shutil.rmtree(tmp, ignore_errors=True)
    return final


def start_session(work: str, trace: bool):
    from tia_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under /tmp: the run writes only inside its
        # checkout; JIT compiler threads that never exit, so
        # harness.jit_ticks can leave their CPU time out
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # the default zstd codec is unreadable with the stdlib
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{log_dir}",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    # bench.py's warm-up action; each workload then warms its own code
    # paths with an untimed pass before it measures
    spark.range(WARMUP_ROWS).selectExpr("sum(id)").collect()
    return spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True, help="parent's monotonic spawn time")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    from harness import Recorder, tree_cpu_s

    spark = start_session(a.work, bool(a.trace))
    setup_wall_s = time.monotonic() - a.t0
    # every process of the run started at the spawn, so their CPU seconds
    # so far are the set-up's
    setup_cpu_s, setup_jit_s = tree_cpu_s()
    corpus = corpus_dir(a.root)
    rec = Recorder(spark, a.workload)
    mod = importlib.import_module(f"workload_{a.workload}")
    raw = mod.run(rec, spark, corpus, a.seed, a.seconds, a.work)
    run_s = time.monotonic() - a.t0 - setup_wall_s
    jit_s = tree_cpu_s()[1]
    spark.stop()

    result = {
        "attempted": rec.attempted,
        "failed": rec.failed,
        "end_to_end": {
            "setup_s": setup_cpu_s,
            "cold_cpu_s": raw["cpu"]["cold"],
            "steady_cpu_s": raw["cpu"]["steady"],
        },
        "info": {
            "setup_wall_s": round(setup_wall_s, 3),
            # CPU seconds of the JIT compiler threads, which every CPU
            # figure leaves out: until the session was ready, and in all
            "setup_jit_s": round(setup_jit_s, 2),
            "jit_s": round(jit_s, 2),
            "cold_wall_s": round(raw["wall"]["cold"], 3),
            "steady_wall_s": round(raw["wall"]["steady"], 3),
            "phase_seconds": rec.phase_totals(),
            "phase_cpu_seconds": rec.phase_totals(cpu=True),
            "call_cpu_seconds": rec.cpu_by_call(),
            "workload_s": round(run_s, 2),
            **raw.get("info", {}),
        },
    }
    if a.trace:
        from sparklogs import read_event_log

        log_dir = os.path.join(a.work, "eventlog")
        size = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(log_dir) for f in fs
        )
        (app_log,) = os.listdir(log_dir)  # one application per run
        groups = read_event_log(os.path.join(log_dir, app_log))
        shutil.rmtree(log_dir, ignore_errors=True)
        layer = dict(raw["layer"])
        layer.update(mod.event_layers(groups, a.workload, raw))
        layer["session.start_s"] = setup_wall_s
        layer["trace.steady_cpu_s"] = raw["cpu"]["steady"]
        layer["trace.event_log_mb"] = size / 1e6
        result["per_layer"] = layer
    with open(a.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
