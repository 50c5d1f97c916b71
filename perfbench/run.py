#!/usr/bin/env python3
"""ironspark crawl benchmark: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload bulk_crawl --seed 1 --seconds 30 --trace 0

Run from the root of an ironspark checkout. The run is a closed loop with
one crawl in flight on ``local[nproc]``:

* set-up (``setup_s``): Spark session (``ironspark.session.get_spark``
  defaults) and the generated corpus. There is no warm-up crawl: every run
  times the first crawl of its session (see perfbench/README.md);
* a fixed count of timed crawls, each on a fresh ``CrawlEngine`` and run
  dir, each followed by a restart (``run(resume=True)``, fresh engine) of
  the finished crawl. Every crawl and restart is checked against
  ``tests/reference_executor.py``; a mismatch is a failed operation.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the traced
variant (``perfbench/trace.py``) and prints the per-layer metrics. The last
stdout line is the result JSON; the line before it carries the details.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# timed crawls per run = round(--seconds / NOMINAL_CRAWL_S): a fixed count,
# not a time window, so faster code does not change the sample count
NOMINAL_CRAWL_S = 30.0


def _isolate_io(work: str) -> None:
    """Keep Spark's, the JVM's and the Python workers' files in `work`."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        " pyspark-shell"
    )
    # the Python workers import ironspark and perfbench from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and every Python worker to exit."""
    from perfbench.host import tree_pids

    pids = [p for p in tree_pids() if p != os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{p}") for p in pids
    ):
        time.sleep(0.1)


def _table_files(run_dir: str) -> list[tuple[str, int, int]]:
    """(path, size, mtime ns) of every file of the checked tables."""
    out = []
    for table in ("order", "seen", "items"):
        for dp, _, fns in os.walk(os.path.join(run_dir, table)):
            for f in fns:
                st = os.stat(os.path.join(dp, f))
                out.append((os.path.join(dp, f), st.st_size, st.st_mtime_ns))
    return sorted(out)


class Bench:
    """One workload's session, inputs and crawl operations."""

    def __init__(self, w, seed: int, work: str, extra_conf: dict | None = None):
        from ironspark.session import get_spark
        from perfbench.workloads import build_inputs

        self.w, self.seed, self.work = w, seed, work
        self.nproc = len(os.sched_getaffinity(0))
        conf = {"spark.ui.showConsoleProgress": "false"}
        conf.update(extra_conf or {})
        self.spark = get_spark(
            f"perfbench-{w.name}", master=f"local[{self.nproc}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.marks = {"session_s": round(time.monotonic() - T_START, 3)}
        self.pages, self.seeds, self.robots, self.corpus = build_inputs(
            self.spark, w, seed, work, self.nproc
        )
        self.marks["inputs_s"] = round(time.monotonic() - T_START, 3)
        self.ref = None
        self.attempted = self.failed = 0
        self.mismatches: list[str] = []
        self._verified: dict[str, list] = {}  # run dir -> its checked tables
        self._runs = 0

    def engine(self, **over):
        from ironspark.engine import CrawlEngine
        from ironspark.spider import LinkSpider
        from perfbench.workloads import engine_config

        return CrawlEngine(
            self.spark, self.pages, {1: LinkSpider()},
            engine_config(self.w, **over), robots=self.robots,
        )

    def new_run_dir(self) -> str:
        self._runs += 1
        return os.path.join(self.work, f"crawl{self._runs}")

    def quiesce(self) -> None:
        """Collect garbage in the Spark driver and the JVM, so that no operation
        pays for the previous one's garbage."""
        gc.collect()
        self.spark._jvm.java.lang.System.gc()

    def crawl(self, run_dir: str, **over):
        """-> (stats, wall s, process-tree CPU s) of one fresh crawl."""
        from perfbench.host import tree_cpu_s

        eng = self.engine(**over)
        self.quiesce()
        c0, t0 = tree_cpu_s(), time.monotonic()
        stats = eng.run(seeds=self.seeds, run_dir=run_dir)
        wall = time.monotonic() - t0
        cpu = tree_cpu_s() - c0
        self.check(eng, run_dir, over)
        return stats, wall, cpu

    def restart(self, run_dir: str, **over):
        """-> (stats, wall s) of a fresh engine's run(resume=True)."""
        eng = self.engine(**over)
        self.quiesce()
        t0 = time.monotonic()
        stats = eng.run(run_dir=run_dir, resume=True)
        wall = time.monotonic() - t0
        self.check(eng, run_dir, over)
        return stats, wall

    def check(self, eng, run_dir: str, over: dict) -> None:
        """Compare a finished (not a stopped) crawl with the reference.

        A restart that left the order, seen and items files exactly as they
        were when they last matched passes without re-reading them."""
        if self.ref is None or over:
            return
        self.attempted += 1
        files = _table_files(run_dir)
        if self._verified.get(run_dir) == files:
            return
        bad = self.ref.mismatch(eng, run_dir)
        if bad is None:
            self._verified[run_dir] = files
        else:
            self.failed += 1
            self.mismatches.append(f"{os.path.basename(run_dir)}: {bad}")

    def persisted_rdds(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    def load_reference(self) -> None:
        from perfbench.verify import Reference

        self.ref = Reference(self.corpus, self.w, self.seed)
        self.marks["reference_s"] = round(time.monotonic() - T_START, 3)

    def host_info(self) -> dict:
        import pyspark

        from perfbench.host import calibration_ms

        return {
            "nproc": self.nproc,
            "pyspark": pyspark.__version__,
            "jvm": self.spark._jvm.java.lang.System.getProperty("java.version"),
            "calibration_ms": round(calibration_ms(), 3),
        }


def timed_run(b: Bench, seconds: float) -> tuple[dict, dict]:
    """Untraced run: the end-to-end metrics."""
    from perfbench.host import cpu_counters, peak_rss_mb, steal_pct

    setup_s = time.monotonic() - T_START
    b.load_reference()
    counters = cpu_counters()
    walls, cpus, restarts, urls, rdds = [], [], [], 0, []
    for _ in range(max(1, round(seconds / NOMINAL_CRAWL_S))):
        run_dir = b.new_run_dir()
        stats, wall, cpu = b.crawl(run_dir)
        walls.append(wall)
        cpus.append(cpu)
        urls += stats.scheduled + stats.deduped
        restarts.append(b.restart(run_dir)[1])
        rdds.append(b.persisted_rdds())
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = {
        "setup_s": (setup_s, "s"),
        "crawl_s": (statistics.median(walls), "s"),
        "urls_per_s": (urls / sum(walls), "1/s"),
        "cpu_s": (statistics.median(cpus), "s"),
    }
    details = {
        "crawl_walls_s": [round(x, 3) for x in walls],
        # a 1-2.5 s operation whose spread between runs (17-23%) is too
        # wide to bound, so it is reported here and per layer, not gated
        "restart_walls_s": [round(x, 3) for x in restarts],
        "cpu_s": [round(x, 2) for x in cpus],
        "samples": len(walls),
        "waves": stats.waves,
        "scheduled": stats.scheduled,
        "deduped": stats.deduped,
        "outlinks": stats.outlinks,
        "wave_walls_s": [round(x, 3) for x in stats.wave_walls],
        "persisted_rdds_after_crawl": rdds,
        "reference_wall_s": round(b.ref.wall_s, 3),
        "steal_pct": round(steal_pct(counters, cpu_counters()), 3),
        "peak_rss_mb": round(peak_rss_mb(), 1),
    }
    return metrics, details


def main() -> int:
    from_ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    from_ap.add_argument("--workload", required=True)
    from_ap.add_argument("--seed", type=int, default=0)
    from_ap.add_argument("--seconds", type=float, default=40,
                         help="sets the fixed count of timed crawls: "
                              f"round(seconds / {NOMINAL_CRAWL_S:g})")
    from_ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = from_ap.parse_args()

    missing = [
        p for p in ("ironspark/engine.py", "tests/reference_executor.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: not an ironspark checkout (missing {', '.join(missing)});"
              " run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    _isolate_io(work)
    b = None
    try:
        if args.trace:
            from perfbench import trace

            b = Bench(w, args.seed, work, trace.session_conf(work))
            metrics, details = trace.traced_run(b, T_START)
        else:
            b = Bench(w, args.seed, work)
            metrics, details = timed_run(b, args.seconds)
        details.update(b.host_info())
        details["marks"] = b.marks
        details["mismatches"] = b.mismatches
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    finally:
        if b is not None:
            b.marks["done_s"] = round(time.monotonic() - T_START, 3)
            _stop(b.spark)
        shutil.rmtree(work, ignore_errors=True)
    b.marks["stopped_s"] = round(time.monotonic() - T_START, 3)
    print(json.dumps({"workload": w.name, "seed": args.seed, "details": details}))
    print(json.dumps({
        "correct": b.failed == 0 and b.attempted > 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
