"""The reference's posts pipeline against the seeded feed.

Two hourly ``posts_pipeline`` runs (``N_PAGES`` pages of the newest
posts each) append to one parquet posts table. The first fills the
empty table; the second re-fetches the posts of the first hour that
are still on its pages, which the pipeline's anti-join against the
table (``operators.incremental``) must drop. The data is tiny, so each
call's fixed per-job cost dominates.

Output check (untimed, read from the parquet files without Spark): the
table has no duplicate id and holds exactly the ids the feed served.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

import feed
from harness import table_rows

N_PAGES = 3
TICKS = 2  # the runs at the end of the first and the second hour
PHASES = {1: "posts", 2: "posts_append"}  # tick -> phase of its timed call


def _empty_table(spark, schema, ts_cols, path: str) -> None:
    """An empty table with the pipeline's normalized schema (no Spark job)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from tia_data_pipeline_spark.ingest import normalize_records

    norm = normalize_records(
        spark.createDataFrame([], schema), text_col="content", ts_string_cols=ts_cols
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        to_arrow_schema(norm.schema).empty_table(), os.path.join(path, "empty.parquet")
    )


def run(rec, spark, seed: int, work: str, prefix: str = "") -> dict:
    """One day in ``work``; ``prefix`` goes before each call's phase."""
    from tia_data_pipeline_spark.pipelines import posts_pipeline
    from tia_data_pipeline_spark.sources import contracts

    sched = feed.Schedule(seed, TICKS)
    posts = os.path.join(work, "tables", "posts")
    _empty_table(spark, contracts.POSTS_SCHEMA, contracts.posts_ts_cols(), posts)

    def posts_run(tick: int):
        posts_pipeline(
            spark, feed.PostsPage(seed, TICKS, tick), contracts.POSTS_SCHEMA,
            spark.read.parquet(posts), n_pages=N_PAGES,
            ts_string_cols=contracts.posts_ts_cols(),
        ).write.mode("append").parquet(posts)

    for tick in range(1, TICKS + 1):
        rec.timed("pipelines.posts_pipeline", prefix + PHASES[tick], posts_run, tick)
    fetched = [i for t in range(1, TICKS + 1) for p in range(1, N_PAGES + 1)
               for i in sched.page_ids(t, p)]
    ids = [r["id"] for r in table_rows(posts, ["id"])]
    rec.check(
        f"{prefix}posts_ids", lambda: len(ids) == len(set(ids)) and set(ids) == set(fetched)
    )
    return {"insert_ratio": len(ids) / len(fetched)}
