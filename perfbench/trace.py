"""Traced run: per-layer metrics, measured from outside the engine.

Three sources, none of which changes code under ``ironspark/``:

* spans: ``Tracer`` wraps the layer functions as ``ironspark.engine``
  imports them, plus the ``TableIO`` and seen-filter methods. Each wrapper
  records (name, start, end, wave, parent) and, on entry, sets the Spark
  job description of the calling thread to ``"<phase> wave=<n>"`` and
  leaves it set, so the jobs the engine runs next carry the phase name;
* the Spark event log (switched on for this run only): task counts and
  times of each wave's heavy stage, jobs per wave, and wall time with no
  job running;
* a replay: one crawl stops cleanly before wave ``REPLAY_WAVE`` and each
  lazy layer runs alone on that saved state; then the crawl resumes to the
  end and is checked against the reference.

Crawl order in the run: the stopped crawl (+ replay + resume to the end),
then the traced crawl and its restart. ``trace.overhead_s`` is the cost
of one span, timed on empty spans, times the spans the traced crawl
recorded: a traced-minus-untraced wall difference is smaller than the
crawl-to-crawl noise of a single crawl on a 4-core host. The event log is
on for the whole run, so its own cost is not in that figure.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

# the traced run stops a crawl after this many waves and replays the next
# one; wave 1 is the largest wave of bulk_crawl and the politeness-bound
# wave of polite_tail
REPLAY_WAVE = 1


def session_conf(work: str) -> dict:
    """Event log on, uncompressed, under the run's work dir."""
    logs = os.path.join(work, "eventlog")
    os.makedirs(logs, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + logs,
        "spark.eventLog.compress": "false",
    }


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _p90(xs):
    if len(xs) < 2:
        return _median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


class Tracer:
    """In-memory spans around wrapped callables; written out at exit."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.wave: int | str | None = None
        self.root: int | None = None
        self._stack = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid, "name": name, "wave": self.wave,
                "parent": stack[-1] if stack else self.root,
                "thread": threading.current_thread().name,
                "t0": time.time(), "t1": None,
            }
            self.spans.append(rec)
        self.sc.setJobDescription(f"{name} wave={self.wave}")
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["t1"] = time.time()

    def wrap(self, owner, attr: str, name, after=None, on_entry=None) -> None:
        """Replace owner.attr by a spanned call; name may be fn(args)->str."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))

        def wrapper(*args, **kwargs):
            if on_entry is not None:
                on_entry()
            label = name(args) if callable(name) else name
            with self.span(label):
                out = orig(*args, **kwargs)
            return after(out) if after is not None else out

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        import ironspark.engine as eng
        from ironspark.seen import ShardedBloom, ShardedCuckoo

        def next_wave():
            self.wave = self.wave + 1 if isinstance(self.wave, int) else 0

        def spanned_collect(df):
            # the fused select -> fetch -> parse -> aggregate job runs here
            orig = df.collect

            def collect():
                with self.span("metrics.collect"):
                    return orig()

            df.collect = collect
            return df

        self.wrap(eng, "select_wave", "politeness.select", on_entry=next_wave)
        self.wrap(eng, "fetch_from_corpus", "fetch.join")
        self.wrap(eng, "parse_responses", "parse")
        self.wrap(eng, "wave_metrics_fine", "metrics.plan", after=spanned_collect)
        self.wrap(eng, "prepare_candidates", "seen.candidates")
        self.wrap(eng.CrawlEngine, "_filter_new", "seen.antijoin")
        self.wrap(eng, "enqueue_outlinks", "frontier.seq")
        self.wrap(eng.TableIO, "write", "io.write")
        self.wrap(
            eng.TableIO, "write_rel",
            lambda a: ("frontier.compaction"
                       if str(a[2]).startswith("frontier_base") else "io.write"),
        )
        self.wrap(eng.TableIO, "commit", "engine.commit")
        self.wrap(ShardedBloom, "add_delta", "seen.filter_add")
        self.wrap(ShardedCuckoo, "add_df", "seen.filter_add")

    def span_cost(self, n: int = 200) -> float:
        """Seconds one span adds to its caller (bookkeeping plus the py4j
        job-description call), timed on empty spans that are then dropped."""
        keep, wave = len(self.spans), self.wave
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("calibrate"):
                pass
        cost = (time.perf_counter() - t0) / n
        del self.spans[keep:]
        self.wave = wave
        return cost

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched = []
        self.sc.setJobDescription(None)


# -- Spark event log --------------------------------------------------------


def read_event_log(work: str) -> tuple[dict, dict]:
    """-> (jobs {id: {desc, t0, t1, stages}}, stages {id: [task seconds]})."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[float]] = {}
    paths = sorted(
        os.path.join(dp, f)
        for dp, _, fns in os.walk(os.path.join(work, "eventlog"))
        for f in fns
        if "appstatus" not in f
    )
    for path in paths:
        with open(path, "rb") as fh:
            for raw in fh:
                try:
                    e = json.loads(raw)
                except ValueError:
                    continue  # a line still being written
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "desc": props.get("spark.job.description") or "",
                        "t0": e["Submission Time"] / 1000.0,
                        "stages": e.get("Stage IDs", []),
                    }
                elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    info = e.get("Task Info") or {}
                    tasks.setdefault(e["Stage ID"], []).append(
                        (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                        / 1000.0
                    )
    return {k: v for k, v in jobs.items() if "t1" in v}, tasks


def job_stats(jobs: dict, tasks: dict, t0: float, t1: float, waves: int) -> dict:
    """Heavy-stage, job-count and serial-gap figures for one crawl window."""
    inside = sorted(
        (j for j in jobs.values() if t0 <= j["t0"] and j["t1"] <= t1),
        key=lambda j: j["t0"],
    )
    covered, cs, ce = 0.0, None, None
    for j in inside:
        if ce is None or j["t0"] > ce:
            if ce is not None:
                covered += ce - cs
            cs, ce = j["t0"], j["t1"]
        else:
            ce = max(ce, j["t1"])
    if ce is not None:
        covered += ce - cs
    heavy_counts, heavy_tasks = [], []
    by_wave: dict[str, list[dict]] = {}
    for j in inside:
        if j["desc"].startswith("metrics.collect"):
            by_wave.setdefault(j["desc"], []).append(j)
    for wave_jobs in by_wave.values():
        stages = [s for j in wave_jobs for s in j["stages"] if s in tasks]
        if stages:
            heavy = max(stages, key=lambda s: sum(tasks[s]))
            heavy_counts.append(len(tasks[heavy]))
            heavy_tasks += tasks[heavy]
    phases: dict[str, int] = {}
    for j in inside:
        phase = j["desc"].split(" wave=")[0] or "untagged"
        phases[phase] = phases.get(phase, 0) + 1
    waves = max(waves, 1)
    return {
        "fetch.scan_tasks": _median(heavy_counts),
        "fetch.task_s.p50": _median(heavy_tasks),
        "engine.jobs_per_wave": len(inside) / waves,
        "engine.serial_s": ((t1 - t0) - covered) / waves,
        "jobs_by_phase": phases,
    }


# -- replay of one wave -----------------------------------------------------


def _noop(df) -> None:
    """Materialize every column of df without keeping it."""
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t0 = time.monotonic()
    out = fn()
    return out, time.monotonic() - t0


def replay(b, run_dir: str) -> tuple[dict, dict]:
    """Replay the stopped crawl's next wave, one layer at a time."""
    from ironspark.engine import make_table_io
    from ironspark.extract import decode_strict
    from ironspark.fetch import fetch_from_corpus
    from ironspark.frontier import prepare_candidates
    from ironspark.parse import parse_responses
    from ironspark.politeness import robots_disallow_filter, select_wave
    from ironspark.scan import scan_page
    from ironspark.url import canonicalize_url

    spark, eng = b.spark, b.engine()
    cfg = eng.cfg
    io = make_table_io(spark, run_dir)
    man = io.manifest()
    robots = b.robots if cfg.respect_robots else None
    caches = []

    def keep(df):
        df = df.persist()
        caches.append(df)
        df.count()
        return df

    # the wave loop's session state: AQE off, the engine's scan split size
    conf_keys = ("spark.sql.adaptive.enabled", "spark.sql.files.maxPartitionBytes")
    saved = {k: spark.conf.get(k, None) for k in conf_keys}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    mpb = eng._scan_split_bytes()
    if mpb is not None:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(mpb))
    out, info = {}, {"wave": man["next_wave"]}
    try:
        pending = io.read_rel(man["segments"])
        if man.get("consumed"):
            keys = io.read_rel(man["consumed"]).select("seq", "attempt")
            pending = pending.join(keys, ["seq", "attempt"], "left_anti")
        pending = keep(pending)
        nparts = max(spark.sparkContext.defaultParallelism, 1)

        def select():
            sel, _ = select_wave(pending, robots, cfg)
            return keep(
                sel.repartition(nparts, "url_canon")
                .withColumn("partition_id", F.spark_partition_id())
            )

        sel, out["politeness.select_s"] = _timed(select)
        keep(eng._prepared_page_urls())  # built once per engine, not per wave
        resp = fetch_from_corpus(
            sel, eng._prepared_pages(), None, strategy=cfg.fetch_strategy,
            corpus_urls=eng._prepared_page_urls(),
        )
        _, out["fetch.join_s"] = _timed(lambda: _noop(resp))
        ident = resp.mapInPandas(lambda it: it, resp.schema)
        _, ident_s = _timed(lambda: _noop(ident))
        parsed = parse_responses(resp, eng.spiders, cfg)
        _, parse_s = _timed(lambda: _noop(parsed))
        out["parse.arrow_s"] = ident_s - out["fetch.join_s"]
        out["parse.udf_s"] = parse_s - ident_s

        pages = [
            h for h in (decode_strict(r.body_bytes)
                        for r in resp.select("body_bytes").collect())
            if h is not None
        ]
        _, scan_s = _timed(lambda: [scan_page(h) for h in pages])
        out["scan.ms_per_page"] = 1000.0 * scan_s / max(len(pages), 1)

        parsed = keep(parsed)
        links = parsed.filter(F.col("kind") == "request")
        raw = [r.out_url for r in links.select("out_url").collect()]
        _, url_s = _timed(lambda: [canonicalize_url(u) for u in raw])
        out["url.us_per_link"] = 1e6 * url_s / max(len(raw), 1)

        if cfg.dedup and cfg.seen_backend in ("bloom", "cuckoo"):
            eng._bloom_add(io.read("seen"))  # the filter a resume rebuilds
        cands = keep(robots_disallow_filter(
            prepare_candidates(
                links.select("spider_id", "parent_seq", "link_index",
                             "out_url", "url_canon", "host"),
                dedup=cfg.dedup,
            ),
            robots,
        ))
        new = eng._filter_new(
            cands, io.read_all_waves("seen"), seen_rows=man["next_seq"],
            wave_outlinks=len(raw),
        )
        _, out["seen.antijoin_s"] = _timed(lambda: _noop(new))
        info.update(pending=pending.count(), scheduled=sel.count(),
                    pages=len(pages), outlinks=len(raw),
                    seen_regime=getattr(eng, "_last_seen_join", None))
    finally:
        for df in caches + eng._wave_caches:
            df.unpersist()
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out, info


# -- the traced run ---------------------------------------------------------


def _gc_ms(spark) -> int:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(int(g.getCollectionTime()) for g in mf.getGarbageCollectorMXBeans())


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fns in os.walk(path) for f in fns
    )


def _admit_ratio(stats) -> float:
    """Scheduled / pending summed over the waves, from the crawl's own
    counters: pending(w+1) = pending(w) - scheduled(w) + rows written(w)."""
    pending = sum(stats.wave_scheduled) - sum(stats.wave_frontier_rows)
    total = 0
    for sched, rows in zip(stats.wave_scheduled, stats.wave_frontier_rows):
        total += pending
        pending += rows - sched
    return sum(stats.wave_scheduled) / max(total, 1)


def _span_sum(spans, name, pred=lambda s: True) -> float:
    return sum(s["t1"] - s["t0"] for s in spans if s["name"] == name and pred(s))


def traced_run(b, t_start: float) -> tuple[dict, dict]:
    from perfbench.host import calibration_ms, cpu_counters, peak_rss_mb, steal_pct

    counters = cpu_counters()
    b.load_reference()
    w, curve, rdds = b.w, [], []

    # 1. stop one crawl at the replay wave, replay it layer by layer, resume
    stopped = b.new_run_dir()
    _, wall, _ = b.crawl(stopped, max_waves=REPLAY_WAVE)
    curve.append({"stopped_crawl_s": round(wall, 3)})
    layers, replay_info = replay(b, stopped)
    _, wall = b.restart(stopped)
    curve.append({"resume_to_end_s": round(wall, 3)})
    rdds.append(b.persisted_rdds())

    # 2. traced crawl and restart
    tracer = Tracer(b.spark.sparkContext)
    tracer.install()
    run_dir = b.new_run_dir()
    try:
        tracer.wave = "seed"  # until the first select_wave
        with tracer.span("crawl") as root:
            tracer.root = root["id"]
            gc0, t_epoch0 = _gc_ms(b.spark), time.time()
            stats, wall, _ = b.crawl(run_dir)
            t_epoch1, gc_s = time.time(), (_gc_ms(b.spark) - gc0) / 1000.0
        bytes_written = _du(run_dir)
        tracer.wave = "restart"
        with tracer.span("restart") as root:
            tracer.root = root["id"]
            _, restart_s = b.restart(run_dir)
        span_cost = tracer.span_cost()
    finally:
        tracer.uninstall()
    rdds.append(b.persisted_rdds())
    curve.append({"traced_crawl_s": round(wall, 3)})

    spans = [s for s in tracer.spans if s["t1"] is not None]
    crawl_spans = [
        s for s in spans if s["wave"] != "restart" and s["name"] != "crawl"
    ]
    restart_spans = [s for s in spans if s["wave"] == "restart"]
    on_pool = lambda s: s["thread"].startswith("ThreadPoolExecutor")  # noqa: E731
    jobs, tasks = read_event_log(b.work)
    ev = job_stats(jobs, tasks, t_epoch0, t_epoch1, stats.waves)

    walls = list(stats.wave_walls)
    metrics = {
        "politeness.select_s": (layers["politeness.select_s"], "s"),
        "politeness.admit_ratio": (_admit_ratio(stats), "ratio"),
        "fetch.join_s": (layers["fetch.join_s"], "s"),
        "fetch.scan_tasks": (ev["fetch.scan_tasks"], "count"),
        "fetch.task_s.p50": (ev["fetch.task_s.p50"], "s"),
        "parse.arrow_s": (layers["parse.arrow_s"], "s"),
        "parse.udf_s": (layers["parse.udf_s"], "s"),
        "scan.ms_per_page": (layers["scan.ms_per_page"], "ms"),
        "url.us_per_link": (layers["url.us_per_link"], "us"),
        "metrics.collect_s": (_span_sum(crawl_spans, "metrics.collect"), "s"),
        "seen.antijoin_s": (layers["seen.antijoin_s"], "s"),
        "seen.filter_add_s": (_span_sum(crawl_spans, "seen.filter_add"), "s"),
        "seen.rebuild_s": (_span_sum(restart_spans, "seen.filter_add"), "s"),
        "seen.dup_ratio": (stats.deduped / max(stats.outlinks, 1), "ratio"),
        "frontier.seq_s": (_span_sum(crawl_spans, "frontier.seq"), "s"),
        "frontier.compactions": (
            sum(s["name"] == "frontier.compaction" for s in crawl_spans), "count"),
        "engine.wave_s.p50": (_median(walls), "s"),
        "engine.wave_s.p90": (_p90(walls), "s"),
        "engine.jobs_per_wave": (ev["engine.jobs_per_wave"], "count"),
        "engine.serial_s": (ev["engine.serial_s"], "s"),
        "engine.tail_s": (_span_sum(crawl_spans, "io.write", on_pool), "s"),
        "engine.commit_s": (_span_sum(crawl_spans, "engine.commit"), "s"),
        "engine.restart_s": (restart_s, "s"),
        "engine.bytes_written": (bytes_written, "B"),
        "engine.persisted_rdds": (rdds[-1], "count"),
        "jvm.gc_s": (gc_s, "s"),
        "jvm.peak_rss_mb": (peak_rss_mb(), "MB"),
        "host.steal_pct": (steal_pct(counters, cpu_counters()), "%"),
        "host.calibration_ms": (calibration_ms(), "ms"),
        "trace.overhead_s": (span_cost * len(crawl_spans), "s"),
    }

    per_wave: dict[int, dict[str, float]] = {}
    for s in crawl_spans:
        if isinstance(s["wave"], int):
            d = per_wave.setdefault(s["wave"], {})
            d[s["name"]] = d.get(s["name"], 0.0) + s["t1"] - s["t0"]
    details = {
        "crawl_curve": curve,
        "replay": replay_info,
        "waves": stats.waves,
        "wave_walls_s": [round(x, 3) for x in walls],
        "largest_span_per_wave": {
            wv: max(d, key=d.get) for wv, d in sorted(per_wave.items())
        },
        "collect_share_of_waves": round(
            metrics["metrics.collect_s"][0] / max(sum(walls), 1e-9), 3),
        "jobs_by_phase": ev["jobs_by_phase"],
        "persisted_rdds_after_crawl": rdds,
        "reference_wall_s": round(b.ref.wall_s, 3),
        "run_s": round(time.monotonic() - t_start, 3),
    }
    out_dir = os.path.join(os.path.dirname(b.work), "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{w.name}-seed{b.seed}.json"), "w") as fh:
        json.dump({"spans": spans, "details": details}, fh)
    return metrics, details
