"""The crawl benchmark: a fresh crawl, resumed ticks, result reads and the
headline queries, each checked against its oracle.

Usage (from the repository root):

    python3 perfbench/run.py --workload cron_ticks --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke            # tiny corpus, every span once

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Any oracle mismatch or failed
operation makes the exit code non-zero. perfbench/README.md describes the
workloads, the metrics and which layer each span covers.
"""

from __future__ import annotations

import argparse
import ctypes
import dataclasses
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_FILES = ("sitemap_scan_spark", "sim", "__spark_entry__.py", "bench.py")


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    corpus: dict  # sim.genpages.generate arguments (hot host always on)
    cfg: dict  # CrawlConfig fields
    ticks: tuple[int, ...]  # rounds per tick; each tick opens a fresh engine
    sf: float  # scale factor of the query tables


WORKLOADS = {
    # per-round fixed cost: rounds of 200 URLs in two cron ticks, a steady
    # round 1, a compaction at round 2 and a resumed tick at round 3;
    # results read from a snapshot plus a delta; small query tables, so the
    # queries are job-bound too. Every host is seeded, so discovery does
    # the same work whatever the seed, and every round fills round_size.
    "cron_ticks": Workload(
        "cron_ticks",
        dict(n_hosts=30, mean_pages=40, n_seeds=30),
        dict(base_host_budget=10, round_size=200, frontier_compact_every=2),
        (2, 1),
        0.01,
    ),
    # the data layers do more: a 24k-URL canonicalize at construction, a
    # wider sitemap expansion, rounds of 3000 fetched and parsed pages in
    # the same tick shape, and the headline queries at sf0.1
    "wide_crawl": Workload(
        "wide_crawl",
        dict(n_hosts=60, mean_pages=200, n_seeds=60),
        dict(base_host_budget=150, round_size=3000, frontier_compact_every=2),
        (2, 1),
        0.1,
    ),
}
# the parity suite's tiny corpus; every span runs once
SMOKE = Workload(
    "smoke",
    dict(n_hosts=50, mean_pages=100, n_seeds=5),
    dict(base_host_budget=8, round_size=400, max_depth=5, frontier_compact_every=2),
    (2, 1),
    0.001,
)

# each measured pass reads the results this many times
RESULT_READS = 2
# warm-up crawl: round 1 of the workload's config on a tiny corpus
WARM_CORPUS = dict(n_hosts=20, mean_pages=20, n_seeds=10)

SPANS = ("engine_init", "discover", "round.steady", "round.resume", "round.compact", "results")
REPLAYS = ("dequeue", "anti_join", "extract", "canonicalize")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Tally:
    """Attempted and failed operations: rounds, queries, oracle checks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def check(self, what: str, got, want) -> None:
        self.attempted += 1
        if got != want:
            self.failed += 1
            log(f"MISMATCH {what}: got {got!r} want {want!r}")


# ---------------------------------------------------------------- processes

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants: PySpark's
    worker daemon and its workers, which outlive the JVM that started them
    for a moment, are re-parented here rather than to init, so
    :func:`reap_children` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log(f"prctl(PR_SET_CHILD_SUBREAPER) failed: {os.strerror(ctypes.get_errno())}")


def child_pids() -> list[int]:
    me, pids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # pid (comm) state ppid ...; comm may hold spaces and parentheses
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            pids.append(int(d))
    return pids


def reap_children(grace: float = 10.0) -> None:
    """Wait until every child has ended. Children still running after
    ``grace`` seconds get SIGTERM, and SIGKILL after as long again."""
    t0 = time.time()
    signals = [(grace, signal.SIGTERM), (2 * grace, signal.SIGKILL)]
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if signals and time.time() - t0 > signals[0][0]:
            sig = signals.pop(0)[1]
            for c in child_pids():
                log(f"child {c} still running, sending {sig.name}")
                try:
                    os.kill(c, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class InputsChild:
    """One set-up step, ``python3 perfbench/inputs.py KIND ARGS OUT``, in a
    child process; :meth:`result` waits for it and returns its digests."""

    def __init__(self, work: str, kind: str, args: dict) -> None:
        self.kind = kind
        self.out = os.path.join(work, f"{kind}-digests.json")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "inputs.py"), kind, json.dumps(args), self.out],
            stdout=sys.stderr,
        )

    def result(self) -> dict:
        code = self.proc.wait()
        if code != 0:
            raise RuntimeError(f"{self.kind} inputs exited with code {code}")
        with open(self.out) as fh:
            return json.load(fh)

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


# ---------------------------------------------------------------- set-up


def start_spark(work: str):
    from sitemap_scan_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    spark = get_spark("perfbench", master=f"local[{nproc()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin, on which it exits,
    and wait until it has."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- passes


def read_corpus(spark, corpus: str):
    return (
        spark.read.parquet(os.path.join(corpus, "pages.parquet")),
        spark.read.parquet(os.path.join(corpus, "seeds.parquet")),
    )


def crawl_pass(spark, spans, frames, cfg, ticks, workdir: str, tally: Tally) -> dict:
    """A fresh crawl driven in ticks. Tick 0 constructs the engine and runs
    discovery; every later tick clears Spark's cache and opens a new engine
    on the same workdir, as a new cron process would. Each ``run`` call
    commits exactly one round."""
    from sitemap_scan_spark.plans.rounds import CrawlEngine

    pages, seeds = frames
    shutil.rmtree(workdir, ignore_errors=True)
    spark.catalog.clearCache()
    rounds: list[dict] = []
    t_start = time.time()
    t_first = None
    rnd = 0
    for tick, n_rounds in enumerate(ticks):
        if tick == 0:
            with spans.span("engine_init"):
                eng = CrawlEngine(spark, pages, cfg, workdir)
            with spans.span("discover"):
                eng.init_frontier(seeds)
        for i in range(n_rounds):
            rnd += 1
            kind = (
                "compact" if rnd % cfg.frontier_compact_every == 0
                else "resume" if tick and i == 0 else "steady"
            )
            with spans.span(f"round.{kind}"):
                if tick and i == 0:
                    spark.catalog.clearCache()
                    eng = CrawlEngine(spark, pages, cfg, workdir)
                tally.attempted += 1
                t0 = time.time()
                stats = eng.run(seeds, max_rounds=rnd)
                wall = time.time() - t0
            if len(stats) != 1 or stats[0].get("round") != rnd:
                tally.failed += 1
                log(f"round {rnd} did not commit exactly one round: {stats}")
                continue
            rounds.append({"round": rnd, "kind": kind, "wall": wall, **stats[0]})
            if t_first is None:
                t_first = time.time() - t_start
    total = time.time() - t_start
    return {
        "engine": eng,
        "rounds": rounds,
        "time_to_first_round_s": t_first,
        "urls_per_s": sum(r["n_taken"] for r in rounds) / total,
    }


def read_results(eng):
    """What a user reads back after a crawl: the three output tables as
    pandas, the per-host overview and the run summary."""
    from sitemap_scan_spark.plans.metrics import summarize

    order = eng.crawl_order().toPandas()
    seen = eng.url_seen().toPandas()
    fetch = eng.fetch_log().toPandas()
    eng.overview().collect()
    summarize(eng.store)
    return order, seen, fetch


def results_pass(spans, eng, reps: int, want: dict, tally: Tally) -> list[float]:
    from inputs import engine_crawl_digests

    walls = []
    for _ in range(reps):
        with spans.span("results") as s:
            out = read_results(eng)
        walls.append(s.t1 - s.t0)
    got = engine_crawl_digests(*out)
    for key in ("crawl_order", "url_seen", "text"):
        tally.check(f"crawl {key}", got[key], want[key])
    return walls


def query_pass(spark, spans, tables: str, tally: Tally) -> float:
    """One noop-sink pass of the headline queries (all columns
    materialized); returns the summed wall."""
    import __spark_entry__ as entry
    from bench import HEADLINE

    qs = entry.queries()
    total = 0.0
    for name in HEADLINE:
        tally.attempted += 1
        with spans.span(f"query.{name}") as s:
            qs[name](spark, tables).write.format("noop").mode("overwrite").save()
        total += s.t1 - s.t0
    return total


def check_queries(spark, tables: str, want: dict, tally: Tally) -> None:
    import __spark_entry__ as entry
    from inputs import digest_frame
    from bench import HEADLINE

    qs = entry.queries()
    for name in HEADLINE:
        got = digest_frame(qs[name](spark, tables).toPandas())
        tally.check(f"query {name}", got, want[name])


def store_bytes(workdir: str) -> tuple[int, int]:
    total = files = 0
    for d, _, fs in os.walk(os.path.join(workdir, "rounds")):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            files += 1
    return total, files


# ---------------------------------------------------------------- replays


def replays(spark, spans, eng, pages, cfg, tally: Tally) -> None:
    """Call four layers' public functions on the inputs of the crawl's
    largest round r and assert each equals what round r committed."""
    from pyspark.sql import functions as F

    from sitemap_scan_spark.functions.canonicalize import canonicalize_udf
    from sitemap_scan_spark.functions.extract import extract_text_col
    from sitemap_scan_spark.operators.frontier import dequeue
    from sitemap_scan_spark.operators.urlseen import exact_anti_join

    store = eng.store
    rounds = [r for r in store.committed_rounds() if r > 0]
    r = max(rounds, key=lambda k: (store.read_manifest(k)["counters"]["n_taken"], k))
    with spans.span("replay.prep"):
        committed = store.read_table(spark, r, "fetch_log").toPandas()
        inserted = sorted(
            x.url_canon
            for x in store.read_table(spark, r, "frontier_inserts").select("url_canon").collect()
        )
    prev_pending = store.read_manifest(r - 1)["counters"].get("n_pending_after")

    with spans.span("replay.dequeue"):
        pending = eng.frontier_at(r - 1).filter(F.col("status") == "pending")
        got = dequeue(
            pending,
            cfg.base_host_budget,
            cfg.round_size,
            cfg.salt_buckets,
            cfg.round_period(),
            small_input=prev_pending is not None
            and prev_pending <= cfg.dequeue_small_max_pending,
        ).select("rank", "url_canon").toPandas()
    want = committed.sort_values("rank")
    tally.check(
        f"replay dequeue r{r}",
        sorted(zip(got["rank"].astype(int), got["url_canon"])),
        list(zip(want["rank"].astype(int), want["url_canon"])),
    )

    with spans.span("replay.anti_join"):
        got_keys = sorted(
            x.url_canon
            for x in exact_anti_join(
                eng.frontier_at(r).select("url_canon"),
                eng.frontier_at(r - 1).select("url_canon"),
            ).collect()
        )
    tally.check(f"replay anti_join r{r}", got_keys, inserted)

    with spans.span("replay.canonicalize"):
        canon = pages.select(canonicalize_udf("url").alias("url_canon"), "html")
        canon.write.format("noop").mode("overwrite").save()

    fetched = committed[committed["status"] == "fetched"]
    with spans.span("replay.prep"):
        keys = spark.createDataFrame(fetched[["url_canon"]])
        html = (
            canon.join(F.broadcast(keys), "url_canon")
            .dropDuplicates(["url_canon"])
            .localCheckpoint(eager=True)
        )
    with spans.span("replay.extract"):
        got_text = dict(
            (x.url_canon, x.t)
            for x in html.select("url_canon", extract_text_col("html").alias("t")).collect()
        )
    tally.check(
        f"replay extract r{r}",
        got_text,
        dict(zip(fetched["url_canon"], fetched["text_extracted"])),
    )


# ---------------------------------------------------------------- metrics


def layer_metrics(spans, jobs, window, rounds, m0, nbytes, nfiles, urls_per_s) -> dict:
    from spans import attribute

    per, unattributed = attribute(spans.spans, jobs, window)
    out: dict[str, tuple[float, str]] = {}
    for name in SPANS + tuple(f"replay.{r}" for r in REPLAYS) + tuple(
        n for n in per if n.startswith("query.")
    ):
        a = per[name]
        k = a["n"]
        out[f"{name}.wall_s"] = (a["wall_s"] / k, "s")
        out[f"{name}.jobs"] = (a["jobs"] / k, "count")
        out[f"{name}.task_s"] = (a["task_s"] / k, "s")
        if name in SPANS:
            out[f"{name}.driver_s"] = (a["driver_s"] / k, "s")
            out[f"{name}.shuffle_mb"] = (a["shuffle_mb"] / k, "MB")
            out[f"{name}.spill_mb"] = (a["spill_mb"] / k, "MB")
    taken = sum(r["n_taken"] for r in rounds)
    out.update({
        "round.taken": (taken, "count"),
        "round.fetch_hit_ratio": (sum(r["n_fetched"] for r in rounds) / taken, "ratio"),
        "round.new_per_taken": (sum(r["n_new"] for r in rounds) / taken, "ratio"),
        "round.bloom_rounds": (sum(r.get("urlseen_mode") == "bloom" for r in rounds), "count"),
        "discover.frontier_rows": (m0["frontier_size"], "count"),
        "discover.blocked_ratio": (m0["n_blocked"] / m0["frontier_size"], "ratio"),
        "store.files": (nfiles, "count"),
        "store.bytes_per_url": (nbytes / taken, "B/URL"),
        "trace.unattributed_jobs": (unattributed, "count"),
        "trace.urls_per_s": (urls_per_s, "URLs/s"),
        "cache.peak_mb": (spans.cache_peak_bytes / 1e6, "MB"),
    })
    return out


def run(wl: Workload, seed: int, seconds: float, trace: bool, work: str, corrupt: bool):
    from bench import HEADLINE
    from sim.genpages import generate
    from sitemap_scan_spark.config import CrawlConfig
    from spans import SpanLog, event_log, read_event_log

    tally = Tally()
    cfg = CrawlConfig(max_rounds=sum(wl.ticks), **wl.cfg)
    workdir = os.path.join(work, "crawl")
    spark = None
    t_setup = time.time()
    try:
        # set-up overlaps its parts. Two child processes build the inputs
        # and their oracle digests: the crawl corpus with the sequential
        # oracle's, the query tables with DuckDB's. Meanwhile Spark starts
        # and warms up on the workload's first round over a tiny corpus,
        # beside one pass of the queries, which is the checked DuckDB
        # comparison.
        warm_corpus = os.path.join(work, "warm")
        generate(warm_corpus, hot_host=True, seed=seed, workers=1, **WARM_CORPUS)
        corpus, tables = os.path.join(work, "corpus"), os.path.join(work, "tables")
        with ThreadPoolExecutor(1) as threads:
            crawl_c = InputsChild(work, "crawl", dict(
                corpus_dir=corpus, corpus_kw=wl.corpus, seed=seed,
                cfg_kw=dict(max_rounds=cfg.max_rounds, **wl.cfg),
            ))
            query_c = InputsChild(work, "query", dict(
                tables_dir=tables, sf=wl.sf, seed=seed, names=list(HEADLINE),
            ))
            try:
                spark = start_spark(work)
                log(f"spark {time.time() - t_setup:.2f}s")
                check_f = threads.submit(
                    lambda: check_queries(spark, tables, query_c.result(), tally)
                )
                check_f.add_done_callback(
                    lambda f: log(f"query check {time.time() - t_setup:.2f}s")
                )
                warm = read_corpus(spark, warm_corpus)
                crawl_pass(spark, SpanLog(spark.sparkContext), warm, cfg, (1,), workdir, Tally())
                log(f"warm-up crawl {time.time() - t_setup:.2f}s")
                want_crawl = crawl_c.result()
                log(f"inputs {time.time() - t_setup:.2f}s")
                if corrupt:
                    want_crawl["crawl_order"] = "0:corrupted"
                frames = read_corpus(spark, corpus)
                check_f.result()
            finally:
                crawl_c.stop()
                query_c.stop()
        setup_s = time.time() - t_setup
        log(f"setup {setup_s:.2f}s")

        if trace:
            # one traced pass, the first after set-up as in an untraced run
            event_dir = os.path.join(work, "eventlog")
            os.makedirs(event_dir)
            spans = SpanLog(spark.sparkContext, traced=True)
            with event_log(spark.sparkContext, event_dir):
                t0 = time.time()
                traced = crawl_pass(spark, spans, frames, cfg, wl.ticks, workdir, tally)
                results_pass(spans, traced["engine"], 1, want_crawl, tally)
                query_pass(spark, spans, tables, tally)
                replays(spark, spans, traced["engine"], frames[0], cfg, tally)
                window = (t0, time.time())
            nbytes, nfiles = store_bytes(workdir)
            m0 = traced["engine"].store.read_manifest(0)["counters"]
            metrics = layer_metrics(
                spans, read_event_log(event_dir), window, traced["rounds"], m0, nbytes, nfiles,
                traced["urls_per_s"],
            )
        else:
            spans = SpanLog(spark.sparkContext)
            samples: dict[str, list[float]] = {
                k: [] for k in ("ttfr", "ups", "round", "results", "queries")
            }
            t_measure = time.time()
            while not samples["ups"] or time.time() - t_measure < seconds:
                p = crawl_pass(spark, spans, frames, cfg, wl.ticks, workdir, tally)
                log("pass: first round at {:.2f}s, rounds {}".format(
                    p["time_to_first_round_s"],
                    " ".join(f"{r['kind']}:{r['wall']:.2f}s/{r['n_taken']}" for r in p["rounds"]),
                ))
                samples["ttfr"].append(p["time_to_first_round_s"])
                samples["ups"].append(p["urls_per_s"])
                samples["round"] += [r["wall"] for r in p["rounds"] if r["kind"] == "steady"]
                samples["results"] += results_pass(
                    spans, p["engine"], RESULT_READS, want_crawl, tally
                )
                samples["queries"].append(query_pass(spark, spans, tables, tally))
            med = {k: statistics.median(v) for k, v in samples.items()}
            metrics = {
                "setup_s": (setup_s, "s"),
                "urls_per_s": (med["ups"], "URLs/s"),
                "time_to_first_round_s": (med["ttfr"], "s"),
                "round_p50_s": (med["round"], "s"),
                "results_read_s": (med["results"], "s"),
                "query_suite_s": (med["queries"], "s"),
                "store_mb": (store_bytes(workdir)[0] / 1e6, "MB"),
            }
    finally:
        if spark is not None:
            stop_spark(spark)
    return tally, metrics


def environment() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "load_1m": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="measure whole passes until this many seconds have passed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpus, every span once, traced")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="replace one oracle digest, to show a mismatch fails the run")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")

    missing = [f for f in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        log(f"not a checkout of the crawl engine, missing {missing} under {ROOT}")
        return 2
    sys.path[:0] = [HERE, ROOT]

    adopt_orphans()
    wl = SMOKE if args.smoke else WORKLOADS[args.workload]
    trace = args.smoke or bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    log(json.dumps({"workload": wl.name, "seed": args.seed, **environment()}))
    try:
        tally, metrics = run(wl, args.seed, args.seconds, trace, work, args.corrupt_oracle)
    except Exception:
        traceback.print_exc()
        log("run failed")
        return 1
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # unless another run still uses it
        except OSError:
            pass
    print(json.dumps({"environment": environment()}))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
