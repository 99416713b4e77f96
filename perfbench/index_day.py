"""The text index's day: write, takedown, serve.

Inputs come from the corpus ``documents``: the seed permutes the ids
and ``HISTORY_SHARE`` of them are indexed. The takedown set is every
indexed document carrying the corpus's near-duplicate marker word, and
the first BM25 query asks for that word, so an unmasked tombstone
would surely be served; the other queries are seeded, ``QUERY_TERMS``
corpus words each, so every seed serves the same number of terms. In
the order a scheduled job calls them:

1. ``build_text_index`` over the history (the cold write);
2. ``text_index_delete`` of the takedown set;
3. ``bm25_topk_batch`` serves the day's queries.

Output check (untimed, read from the parquet files without Spark): no
tombstoned id appears in the served results.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

HISTORY_SHARE = 0.6
BM25_QUERIES = 20
QUERY_TERMS = 2
DUP_MARKER = "dup"  # corpus.py appends it to each planted near-duplicate
BATCH_ID = 1


def plan_inputs(corpus_dir: str, seed: int, out_dir: str) -> dict:
    """Write the seeded inputs as parquet (pyarrow only, no Spark job);
    returns their paths and the takedown ids."""
    from corpus import WORDS

    rng = random.Random(seed)
    docs = pq.read_table(os.path.join(corpus_dir, "documents.parquet"), columns=["doc_id", "text"])
    order = list(range(docs.num_rows))
    rng.shuffle(order)
    n_hist = int(len(order) * HISTORY_SHARE)
    history = sorted(order[:n_hist])
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    doomed = sorted(ids[i] for i in history if texts[i].endswith(" " + DUP_MARKER))
    queries = [(0, [DUP_MARKER])] + [
        (i, rng.sample(WORDS, QUERY_TERMS)) for i in range(1, BM25_QUERIES)
    ]
    tables = {
        "history": docs.take(history),
        "takedown": pa.table({"doc_id": pa.array(doomed, pa.int64())}),
        "queries": pa.table(
            {
                "query_id": pa.array([q[0] for q in queries], pa.int64()),
                "terms": pa.array([q[1] for q in queries], pa.list_(pa.string())),
            }
        ),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return {"paths": paths, "takedown": doomed}


def data_files(path: str) -> dict[str, int]:
    """Data files under an index dir (relative path → bytes)."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(d, f)
                out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def run(rec, spark, corpus_dir: str, seed: int, work: str, prefix: str = "") -> dict:
    """One day in ``work``; ``prefix`` goes before each call's phase."""
    from harness import table_rows
    from tia_data_pipeline_spark.operators import text_index
    from tia_data_pipeline_spark.streaming import text_serve

    os.makedirs(os.path.join(work, "index_inputs"), exist_ok=True)
    plan = plan_inputs(corpus_dir, seed, os.path.join(work, "index_inputs"))
    read = lambda name: spark.read.parquet(plan["paths"][name])  # noqa: E731
    index = os.path.join(work, "index", "text")
    served = os.path.join(work, "served", "bm25")

    rec.timed("operators.text.write", prefix + "write", text_index.build_text_index,
              read("history"), index)
    rec.timed("operators.text.delete", prefix + "delete", text_index.text_index_delete,
              read("takedown"), index)
    index_bytes = sum(data_files(index).values())
    rec.timed("streaming.bm25_topk_batch", prefix + "serve", text_serve.bm25_topk_batch,
              read("queries"), index, served, BATCH_ID)
    out = table_rows(f"{served}/batch_id={BATCH_ID}", ["doc_id"])
    doomed = set(plan["takedown"])
    rec.check(
        f"{prefix}tombstones_never_served", lambda: not any(r["doc_id"] in doomed for r in out)
    )
    return {
        "index_files": data_files(index),
        "index_bytes_at_serve": index_bytes,
        "input_bytes": os.path.getsize(plan["paths"]["history"]),
    }
