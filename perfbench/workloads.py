"""Workload shapes: corpus, seeds, robots and engine config per workload.

Every input is a pure function of (workload, seed): the corpus comes from
``ironspark.corpus.build_graph_corpus``. ``--seed`` sets the host count,
which renames the pages' hosts and re-partitions every hash exchange; the
link graph and the seed pages stay fixed, so every seed crawls the same
number of waves (a seed-dependent seed set moved bulk_crawl between 3 and 4
waves, which dominated the run-to-run spread).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from ironspark.config import EngineConfig
from ironspark.corpus import MEGA_HOST, build_graph_corpus, build_robots, graph_seeds
from ironspark.schemas import ROBOTS_SCHEMA, SEEDS_SCHEMA


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int
    filler_words: int
    markup_every: int
    mega_share: float
    robots: bool
    config: dict = field(default_factory=dict)


# bench.py's crawl config: BFS with politeness effectively off
_BULK = dict(
    seen_backend="bloom",
    respect_robots=False,
    wave_seconds=3600.0,
    default_crawl_delay=0.5,
    checkpoint_every=100,
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "bulk_crawl", pages=2000, filler_words=600,
            markup_every=2, mega_share=0.1, robots=False, config=_BULK,
        ),
        Workload(
            "polite_tail", pages=60, filler_words=0,
            markup_every=0, mega_share=0.8, robots=True,
            config=dict(seen_backend="cuckoo", wave_seconds=15.0),
        ),
    )
}


def n_hosts(w: Workload, seed: int) -> int:
    return max(w.pages // 100, 20) + seed % 17


def hosts(w: Workload, seed: int) -> list[str]:
    return [MEGA_HOST] + [
        f"h{i:04d}.example.com" for i in range(max(n_hosts(w, seed) - 1, 1))
    ]


def seed_rows(w: Workload, seed: int) -> list[tuple[int, str, int]]:
    """(spider_id, url, seed_rank): graph_seeds' pages/20 seed pages."""
    pdf = graph_seeds(
        w.pages, max(w.pages // 20, 10), n_hosts(w, seed), mega_share=w.mega_share
    )
    return list(zip(pdf["spider_id"], pdf["url"], pdf["seed_rank"]))


def engine_config(w: Workload, **over) -> EngineConfig:
    cfg = dict(dedup=True, bloom_capacity=max(w.pages * 2, 1 << 16))
    cfg.update(w.config)
    cfg.update(over)
    return EngineConfig(**cfg)


def crawl_delays(w: Workload, seed: int) -> dict[str, float]:
    if not w.robots:
        return {}
    pdf = build_robots(hosts(w, seed))
    return dict(zip(pdf["host"], pdf["crawl_delay"]))


def build_inputs(spark, w: Workload, seed: int, work: str, nproc: int):
    """-> (pages, seeds, robots, corpus): DataFrames plus the url -> html
    map the reference executor fetches from."""
    pdir = os.path.join(work, "corpus")
    build_graph_corpus(
        spark, w.pages, n_hosts=n_hosts(w, seed),
        parallelism=nproc, mega_share=w.mega_share,
        filler_words=w.filler_words, markup_every=w.markup_every,
    ).write.mode("overwrite").parquet(pdir)
    pages = spark.read.parquet(pdir)
    corpus = {r.url: bytes(r.html) for r in pages.select("url", "html").collect()}
    seeds = spark.createDataFrame(seed_rows(w, seed), SEEDS_SCHEMA)
    robots = None
    if w.robots:
        robots = spark.createDataFrame(build_robots(hosts(w, seed)), ROBOTS_SCHEMA)
    return pages, seeds, robots, corpus
