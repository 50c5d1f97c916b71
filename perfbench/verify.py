"""Check a finished crawl against ``tests/reference_executor.py``.

Order and seen set are compared exactly; items are compared field by
field with the article text reduced to its SHA-256 on both sides, so the
Spark driver never collects the text bodies.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import functions as F

from ironspark.engine import CrawlEngine
from tests.reference_executor import run_reference

from perfbench.workloads import Workload, crawl_delays, engine_config, seed_rows


def _sha(text: str | None) -> str | None:
    return None if text is None else hashlib.sha256(text.encode()).hexdigest()


class Reference:
    """Expected (order, seen, items) for one (workload, seed)."""

    def __init__(self, corpus: dict[str, bytes], w: Workload, seed: int):
        cfg = engine_config(w)
        t0 = time.monotonic()
        ref = run_reference(
            corpus,
            seed_rows(w, seed),
            dedup=cfg.dedup,
            wave_seconds=cfg.wave_seconds,
            default_crawl_delay=cfg.default_crawl_delay,
            crawl_delays=crawl_delays(w, seed),
            max_retry_times=cfg.max_retry_times,
            max_waves=cfg.max_waves,
            spider_kind="link",
        )
        self.wall_s = time.monotonic() - t0
        self.order = sorted(ref.order)
        self.seen = ref.seen
        self.items = sorted(
            (u, t, a, w_, _sha(x)) for (_sid, u, t, a, _n, x, w_) in ref.items
        )

    def mismatch(self, eng: CrawlEngine, run_dir: str) -> str | None:
        """None when the run dir matches, else what differs."""
        order = [
            (r.seq, r.wave, r.url_canon)
            for r in eng.crawl_order_df(run_dir)
            .select("seq", "wave", "url_canon").collect()
        ]
        if sorted(order) != self.order:
            return f"order: {len(order)} rows vs {len(self.order)}"
        seen = {r.url_canon for r in eng.seen_df(run_dir).collect()}
        if seen != self.seen:
            return f"seen: {len(seen)} urls vs {len(self.seen)}"
        items = sorted(
            tuple(r)
            for r in eng.items_df(run_dir).select(
                "src_url", "title", "author", "wave", F.sha2("text", 256)
            ).collect()
        )
        if items != self.items:
            return f"items: {len(items)} rows vs {len(self.items)}"
        return None
