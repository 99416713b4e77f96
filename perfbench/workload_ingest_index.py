"""``ingest_index``: one scheduled day of the serving side, where the
pipelines, sources, streaming and index operators do the work and
``plans`` is bypassed.

Two jobs run back to back, as a scheduler would run them:
``ingest_day`` (two hourly runs of the reference's posts pipeline over
a seeded feed) and ``index_day`` (the text index's write, takedown and
BM25 serving over the corpus documents). Both move little data, so
per-call fixed cost dominates. The session runs the same day
``WARM_DAYS + TIMED_DAYS`` times, each in fresh directories: the first
``WARM_DAYS`` are an untimed warm-up, so the JVM has compiled the code
paths and the Python workers are up before any measurement.

End-to-end metrics on this workload, in CPU seconds (and wall seconds
in the run's host line), each call's median over the timed days:
- cold: the first posts run (into the empty table) plus the index
  write.
- steady: the second posts run (an append that drops the re-fetched
  overlap), the takedown and the BM25 batch.
"""

from __future__ import annotations

import os
import statistics

import index_day
import ingest_day

WARM_DAYS = 1
TIMED_DAYS = 2
WARM = "warm_"  # phase prefix of the warm-up day's calls
POSTS_CALLS = (
    ("pipelines.posts_pipeline", "posts"),
    ("pipelines.posts_pipeline", "posts_append"),
)
COLD_CALLS = (POSTS_CALLS[0], ("operators.text.write", "write"))
STEADY_CALLS = (
    POSTS_CALLS[1],
    ("operators.text.delete", "delete"),
    ("streaming.bm25_topk_batch", "serve"),
)


def run(rec, spark, corpus_dir: str, seed: int, seconds: int, work: str) -> dict:
    for day in range(WARM_DAYS + TIMED_DAYS):
        prefix = WARM if day < WARM_DAYS else ""
        day_dir = os.path.join(work, f"day{day}")
        ing = ingest_day.run(rec, spark, seed, day_dir, prefix)
        idx = index_day.run(rec, spark, corpus_dir, seed, day_dir, prefix)
    files = idx["index_files"]
    index_bytes = sum(files.values())

    def total(calls, cpu: bool) -> float:
        return sum(
            statistics.median(rec.seconds(call, phase, cpu) or [0.0]) for call, phase in calls
        )

    return {
        "wall": {"cold": total(COLD_CALLS, False), "steady": total(STEADY_CALLS, False)},
        "cpu": {"cold": total(COLD_CALLS, True), "steady": total(STEADY_CALLS, True)},
        "layer": {
            "pipelines.posts_run_s": total(POSTS_CALLS, False),
            "pipelines.insert_ratio": ing["insert_ratio"],
            "operators.text.write_s": total(COLD_CALLS[1:], False),
            "operators.text.delete_s": total(STEADY_CALLS[1:2], False),
            "streaming.bm25_topk_batch_s": total(STEADY_CALLS[2:], False),
            "operators.text.files": len(files),
            "operators.text.bytes": index_bytes,
            "operators.text.space_amp": index_bytes / idx["input_bytes"],
        },
        "index_bytes_at_serve": idx["index_bytes_at_serve"],
    }


def event_layers(groups: dict, workload: str, raw: dict) -> dict:
    """Spark counters of one timed day's posts runs and index phases, and
    the BM25 batch's bytes read ÷ index bytes."""
    from metrics import PIPELINE_COUNTERS, SERVE_COUNTERS, SERVE_PHASES
    from sparklogs import sum_groups

    out = {}
    timed_posts = {f"{workload}:{call}:{phase}" for call, phase in POSTS_CALLS}
    posts = sum_groups(groups, lambda g: g in timed_posts)
    for c in PIPELINE_COUNTERS:
        out[f"pipelines.posts.{c}"] = posts[c] / TIMED_DAYS
    for phase, prefix in SERVE_PHASES.items():
        tot = sum_groups(
            groups,
            lambda g, ph=phase: g.endswith(f":{ph}")
            and (":operators.text." in g or ":streaming." in g),
        )
        for c in SERVE_COUNTERS:
            out[f"{prefix}.{c}"] = tot[c] / TIMED_DAYS
    bm25 = sum_groups(groups, lambda g: g == f"{workload}:streaming.bm25_topk_batch:serve")
    out["operators.text.probe_read_ratio"] = (
        bm25["input_bytes"] / TIMED_DAYS / raw["index_bytes_at_serve"]
    )
    return out
