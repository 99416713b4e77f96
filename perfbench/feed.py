"""Seeded synthetic posts API for the ``ingest_index`` workload.

Stands in for the reference's REST endpoint without a network: a
``PostsPage`` is the engine's ``PageFetcher`` for one hourly posts run
(page ``p`` holds the ``PER_PAGE`` newest posts at that tick, so
consecutive runs and pages overlap). Records carry the
``POSTS_SCHEMA`` fields with the nested values (objects, arrays, maps)
the real API returns.

Every record is a pure function of ``(seed, id)``, so fetchers pickle
small and the Python workers that call them rebuild the same bytes.
"""

from __future__ import annotations

import datetime as dt
import random

PER_PAGE = 30
NEW_PER_TICK = 60
START = dt.datetime(2024, 3, 1)
WORDS = (
    "pipeline airflow spark ingest market startup funding series round "
    "investor founder product launch asia tech data cloud model growth"
).split()


def _rng(seed: int, kind: str, key: int) -> random.Random:
    return random.Random(f"{seed}:{kind}:{key}")


class Schedule:
    """Post ids published per hourly tick: ``NEW_PER_TICK`` new posts
    every tick, and 40 already live before tick 0. The seed moves the
    ids and the records' content, not how many there are, so every seed
    asks the pipeline for the same amount of work. Tick ``t`` >= 1 spans
    ``[START + (t-1) h, START + t h)``."""

    def __init__(self, seed: int, ticks: int):
        rng = _rng(seed, "schedule", 0)
        self.first_id = 1000 + rng.randrange(1000)
        self.published = [self.first_id + 40]  # exclusive end id per tick
        for _ in range(ticks):
            self.published.append(self.published[-1] + NEW_PER_TICK)

    def page_ids(self, tick: int, page: int) -> list[int]:
        """Page ``page`` of the newest-first listing at the end of ``tick``."""
        top = self.published[tick] - 1 - (page - 1) * PER_PAGE
        return [i for i in range(top, top - PER_PAGE, -1) if i >= self.first_id]

    def post_time(self, post_id: int) -> dt.datetime:
        """Publish time: spread evenly over the tick that published it."""
        for tick, end in enumerate(self.published):
            if post_id < end:
                start = self.published[tick - 1] if tick else self.first_id
                frac = (post_id - start) / max(1, end - start)
                return START + dt.timedelta(hours=tick - 1 + frac)
        raise KeyError(post_id)


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def post_record(seed: int, sched: Schedule, post_id: int) -> dict:
    rng = _rng(seed, "post", post_id)
    t = sched.post_time(post_id)
    title = _text(rng, 4, 9)
    n_cat = rng.randint(1, 3)
    return {
        "id": post_id,
        "date_gmt": _iso(t),
        "modified_gmt": _iso(t + dt.timedelta(minutes=rng.randint(0, 90))),
        "title": title,
        "slug": title.replace(" ", "-"),
        "status": "publish",
        "type": "post",
        "link": f"https://example.invalid/{post_id}",
        "content": _text(rng, 80, 400),
        "vsitems": [f"vs{rng.randrange(50)}" for _ in range(rng.randint(0, 3))],
        "live_items": [],
        "excerpt": _text(rng, 10, 30),
        "author": {"id": rng.randrange(200), "display_name": f"author {rng.randrange(200)}"},
        "editor": f"editor{rng.randrange(10)}",
        "comment_status": "open",
        "comments_count": rng.randint(0, 6),
        "comments": [],
        "featured_image": {"url": f"https://img.example.invalid/{post_id}.jpg"},
        "post_images": {"thumb": f"https://img.example.invalid/{post_id}-t.jpg"},
        "seo": {"title": title, "description": _text(rng, 5, 12)},
        "categories": [
            {"id": c, "name": f"cat{c}", "slug": f"cat-{c}"}
            for c in rng.sample(range(20), n_cat)
        ],
        "tags": [
            {"id": g, "name": f"tag{g}", "slug": f"tag-{g}"} for g in rng.sample(range(99), 2)
        ],
        "companies": [{"id": rng.randrange(500), "name": f"co{rng.randrange(500)}"}],
        "is_sponsored": rng.random() < 0.1,
        "sponsor": {"name": "sponsor"} if rng.random() < 0.1 else None,
        "is_partnership": False,
        "external_scripts": [],
        "show_ads": True,
        "is_subscriber_exclusive": rng.random() < 0.2,
        "is_paywalled": rng.random() < 0.2,
        "is_inappbrowser": False,
        "read_time": rng.randint(1, 12),
    }


class PostsPage:
    """``PageFetcher`` of the posts run at the end of ``tick``."""

    def __init__(self, seed: int, ticks: int, tick: int):
        self.seed, self.ticks, self.tick = seed, ticks, tick

    def __call__(self, page: int) -> list[dict]:
        sched = Schedule(self.seed, self.ticks)
        return [post_record(self.seed, sched, i) for i in sched.page_ids(self.tick, page)]

