#!/usr/bin/env python3
"""Frontier benchmark: seeded crawl workloads driven through the public
engine API, checked against the single-threaded reference.

    python3 perfbench/run.py --workload polite_backlog --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One run = one fresh JVM:

1. generate the workload's inputs from ``--seed`` (cached per seed and
   size under ``perfbench/.cache``; not timed);
2. compute the reference trace with ``frontier_engine.refspec`` (cached
   per seed, config and engine sources; not timed);
3. set up: Spark session, then ``SETUP_REPS`` times ``prepare_pages`` over
   the corpus + ``FrontierScheduler`` construction + a warm-up job;
4. crawl whole rounds of ``cycles`` cycles, each on a fresh TableIO root:
   one round per ``round_s`` nominal seconds of ``--seconds`` (at least
   one), and count the wall and CPU seconds of every cycle;
5. check every cycle against the reference and the generator's own facts.

An operation is one crawl cycle. It fails if it raises (the rest of its
round then counts as failed too) or if its committed outputs disagree with
the reference; a disagreement also makes ``correct`` false.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import dataclasses
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

SETUP_REPS = 3
N_BUCKETS = 8
STAGE_SEED_STRIDE = 3


@dataclasses.dataclass(frozen=True)
class Workload:
    """Why each workload exists: perfbench/README.md and BENCHMARK.json."""

    n_pages: int
    cycles: int
    # nominal wall seconds of one round on a 4-core machine: a run
    # crawls one round per round_s of --seconds (at least one)
    round_s: float
    polite: bool = False  # per-host budgets 1-8 + two-phase window
    stages: bool = False  # output-only corpus/graph stage stack
    # the traced run also crawls once with the stage stack on, so the
    # corpus and graph layers are measured on this workload's inputs
    stage_probe: bool = False


WORKLOADS = {
    "seed_flood": Workload(6_000, 2, 12, stage_probe=True),
    "polite_backlog": Workload(6_000, 2, 12, polite=True),
    # not in BENCHMARK.json: its runs do not fit the run budget
    "corpus_stages": Workload(6_000, 3, 70, stages=True),
}

TRACE_TABLES = (
    "lineage", "pending", "scheduled", "url_seen", "resolved", "discoveries",
)
STAGE_TABLES = ("page_stats", "nd_bands", "ann_index", "nd_components",
                "host_rank")


def engine_config(w: Workload, budgets: dict):
    from frontier_engine.config import EngineConfig

    cfg = EngineConfig(
        n_buckets=N_BUCKETS, budgets={}, default_budget=10**9,
        retry_limit=1, compact_every=0, politeness_salt=1,
    )
    if w.polite:
        cfg = dataclasses.replace(
            cfg, budgets=budgets, default_budget=8, politeness_salt=8
        )
    if w.stages:
        cfg = dataclasses.replace(
            cfg, enrich_pages=True, ann_index=True,
            nd_closure_every=w.cycles, host_rank_every=w.cycles,
        )
    return cfg


# ---------------------------------------------------------------------------
# process tree: peak RSS and clean shutdown
# ---------------------------------------------------------------------------


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            total = sum(_rss_bytes(p) for p in [me] + descendants(me))
            self.peak = max(self.peak, total)
            self._stop_evt.wait(self.period)

    def stop(self):
        self._stop_evt.set()
        self.join()


class StealMeter:
    """Share of the machine's CPU time the hypervisor stole since
    construction (``/proc/stat``); printed with each run as a noise note."""

    def __init__(self):
        self.start = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]

    def share(self) -> float:
        d = [b - a for a, b in zip(self.start, self._read())]
        return d[7] / sum(d) if sum(d) else 0.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process this
    run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and _is_running(p)]
        if not alive:
            return
        if sig is not None:
            for p in alive:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        while time.time() < deadline and any(_is_running(p) for p in alive):
            time.sleep(0.1)
        deadline = time.time() + 10


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every live descendant: the Python driver, the JVM and the
    Python workers. Time the hypervisor steals is not in it."""
    tck = os.sysconf("SC_CLK_TCK")
    ticks = 0
    for p in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in v[11:15])  # utime .. cstime
        except (OSError, IndexError, ValueError):
            pass
    return ticks / tck


def _is_running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def pin_environment(run_dir: str, event_log: str | None) -> tuple[str, dict]:
    """Fresh-JVM settings every run uses: ``local[nproc]``, fixed shuffle
    partitions, driver memory below physical RAM, local dirs inside the
    checkout, and no inherited engine knobs."""
    for k in ("FRONTIER_SPARK_CONF", "FRONTIER_TIMING", "FRONTIER_EXPLAIN"):
        os.environ.pop(k, None)
    ncpu = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    driver_gb = max(1, min(2, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
    })
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # C1-only JIT: a run is one short crawl in a fresh JVM, and C2
        # compile threads competing with the 4 task threads set the
        # first-round numbers. C1-only shrinks the default code cache to
        # 48 MB, which fills during a crawl: the sweeper then flushes code
        # that is compiled again (README: "JVM")
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 "
            "-XX:ReservedCodeCacheSize=240m"
        ),
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    os.environ["FRONTIER_SPARK_CONF"] = json.dumps(conf)
    return f"local[{ncpu}]", {"shuffle_partitions": ncpu}


def warmup(spark, tmp_dir: str) -> None:
    """Exercise the machinery a cycle uses (pandas UDF over Arrow, hash
    aggregate, window, parquet write) so lazy JVM/worker start-up is paid
    in set-up, not in the first timed cycle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ident = F.pandas_udf(lambda s: s, T.LongType())
    df = spark.range(20_000).toDF("x")
    (
        df.select(ident("x").alias("x"))
        .groupBy((F.col("x") % 7).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("n")))
        .write.mode("overwrite").parquet(tmp_dir)
    )


def crawl_round(spark, cfg, cycles: int, pages_canon: str, robots_df,
                seeds_df, root: str, spans=None, probe=None):
    """One whole crawl on a fresh TableIO root. Returns (io, cycle walls,
    cycle CPU seconds, cycle windows, the cycle that raised or None)."""
    from frontier_engine.scheduler import FrontierScheduler
    from frontier_engine.tableio import TableIO

    io = TableIO(root)
    if spans is not None:
        from tracing import trace_table_writes

        trace_table_writes(io, spans)
    eng = FrontierScheduler(spark, io, cfg, pages_canon, robots_df, seeds_df)
    walls, cpus, windows = [], [], []
    raised = None
    for k in range(1, cycles + 1):
        c0 = tree_cpu_s()
        t0 = time.time()
        try:
            # every cycle builds its filters, as in a crawl that goes on
            # (FrontierScheduler.run skips the build on a run's last cycle)
            eng.run_cycle(k, build_filters=True)
        except Exception:  # noqa: BLE001 - a failed operation is reported
            traceback.print_exc(file=sys.stderr)
            raised = k
            break
        t1 = time.time()
        cpus.append(tree_cpu_s() - c0)
        walls.append(t1 - t0)
        windows.append((t0, t1))
        if probe is not None:
            probe(io, k)
    return io, walls, cpus, windows, raised


def check_round(root: str, crawl: "Crawl", raised: int | None):
    """(per-cycle problem lists, lineage enqueued + deduped) of one round."""
    import check

    state: dict = {}
    problems, processed = [], 0
    last = crawl.cycles if raised is None else raised - 1
    for k in range(1, last + 1):
        got = check.read_cycle(root, k)
        problems.append(
            check.check_cycle(got, crawl.ref[k - 1], crawl.facts, state)
        )
        processed += sum(
            v["enqueued"] + v["deduped"] for v in got["lineage"].values()
        )
    return problems, processed


def store_bytes(root: str) -> int:
    total = 0
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in ("_tmp", "pages_canon")]
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


@dataclasses.dataclass
class Crawl:
    """One crawl configuration with its reference and independent facts."""

    cfg: object
    cycles: int
    ref: list
    facts: dict
    seeds: str  # seeds parquet path


def make_crawl(w: Workload, name: str, seed: int, inputs: str,
               rebuild: bool, seeds: str = "seeds.parquet") -> Crawl:
    import pyarrow.parquet as pq

    import check
    import gen

    with open(os.path.join(inputs, "budgets.json")) as f:
        cfg = engine_config(w, json.load(f))
    facts = {
        "page_text": gen.Corpus(seed, w.n_pages).page_text(),
        "budgets": cfg.budgets if w.polite else None,
        "default_budget": cfg.default_budget,
        "stages": w.stages,
        "host_rank_every": cfg.host_rank_every,
    }

    def build():
        def rows(table):
            return pq.read_table(os.path.join(inputs, table)).to_pylist()

        return check.reference(
            rows("pages.parquet"), rows(seeds),
            rows("robots.parquet"), cfg, w.cycles,
        )

    ref_dir = os.path.join(CACHE, "reference")
    key = (f"v{gen.GEN_VERSION}-{name}-s{seed}-n{w.n_pages}-k{w.cycles}-"
           f"{os.path.splitext(seeds)[0]}")
    if rebuild:
        for old in glob.glob(os.path.join(ref_dir, key + "-*")):
            os.remove(old)
    ref = check.cached_reference(ref_dir, ROOT, key, build)
    return Crawl(cfg, w.cycles, ref, facts, os.path.join(inputs, seeds))


class Runner:
    """Spark session + prepared corpus + the rounds crawled so far."""

    def __init__(self, spark, run_dir, inputs, pages_canon):
        self.spark = spark
        self.run_dir = run_dir
        self.pages_canon = pages_canon
        self.robots_df = spark.read.parquet(os.path.join(inputs, "robots.parquet"))
        self.attempted = self.failed = 0
        self.mismatch = False
        self.n = 0

    def round(self, crawl: Crawl, spans=None, probe=None, keep=False) -> dict:
        root = os.path.join(self.run_dir, f"crawl{self.n}")
        self.n += 1
        io, walls, cpus, windows, raised = crawl_round(
            self.spark, crawl.cfg, crawl.cycles, self.pages_canon,
            self.robots_df, self.spark.read.parquet(crawl.seeds), root,
            spans, probe,
        )
        problems, processed = check_round(root, crawl, raised)
        self.attempted += crawl.cycles
        self.failed += crawl.cycles - len(walls)
        for p in problems:
            if p:
                self.mismatch = True
                self.failed += 1
                for line in p[:5]:
                    print("MISMATCH " + line, file=sys.stderr)
        rd = {
            "walls": walls, "cpus": cpus, "windows": windows,
            "wall": sum(walls), "cpu": sum(cpus),
            "processed": processed, "raised": raised,
            "store": store_bytes(root),
            "seen": sum(len(r["seen_delta"]) for r in crawl.ref),
            "io": io,
        }
        if not keep:
            shutil.rmtree(root)
        return rd


def set_up(spark, inputs: str, cfg, run_dir: str) -> tuple[str, list, list]:
    """SETUP_REPS x (prepare_pages + scheduler build + warm-up); returns
    the last prepared corpus, the (prepare, build, warm) wall seconds and
    the CPU seconds of each repetition."""
    from frontier_engine.scheduler import FrontierScheduler, prepare_pages
    from frontier_engine.tableio import TableIO

    robots_df = spark.read.parquet(os.path.join(inputs, "robots.parquet"))
    seeds_df = spark.read.parquet(os.path.join(inputs, "seeds.parquet"))
    reps, cpus = [], []
    for r in range(SETUP_REPS):
        root = os.path.join(run_dir, f"setup{r}")
        if r:
            shutil.rmtree(os.path.join(run_dir, f"setup{r - 1}"))
        io = TableIO(root)
        c0 = tree_cpu_s()
        ta = time.time()
        pages_canon = prepare_pages(
            spark, os.path.join(inputs, "pages.parquet"), io, cfg
        )
        tb = time.time()
        FrontierScheduler(spark, io, cfg, pages_canon, robots_df, seeds_df)
        tc = time.time()
        warmup(spark, os.path.join(run_dir, f"warm{r}"))
        reps.append((tb - ta, tc - tb, time.time() - tc))
        cpus.append(tree_cpu_s() - c0)
    return pages_canon, reps, cpus


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rebuild-reference", action="store_true",
                    help="recompute the cached reference trace")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "frontier_engine", "scheduler.py")):
        print("perfbench: frontier_engine/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    run_dir = os.path.join(CACHE, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    rss = RssSampler()
    rss.start()
    try:
        out = run(args, run_dir, rss)
    finally:
        rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


def run(args, run_dir: str, rss: RssSampler) -> dict:
    import gen

    w = WORKLOADS[args.workload]
    traced = args.trace == 1
    # inputs and references: outside every timed region
    inputs = gen.ensure(os.path.join(CACHE, "inputs"), args.seed, w.n_pages)
    crawl = make_crawl(w, args.workload, args.seed, inputs,
                       args.rebuild_reference)
    stage_crawl = None
    if traced and w.stage_probe:
        # one cycle from every STAGE_SEED_STRIDE-th seed with the whole
        # stage stack (closure and rank built on that cycle): every stage
        # table is written within the time a traced run can afford
        stage_crawl = make_crawl(
            dataclasses.replace(WORKLOADS["corpus_stages"], cycles=1),
            "corpus_stages-k1", args.seed, inputs, args.rebuild_reference,
            seeds=gen.seed_subset(inputs, STAGE_SEED_STRIDE),
        )

    event_log = os.path.join(run_dir, "eventlog") if traced else None
    master, sess_kw = pin_environment(run_dir, event_log)
    c0 = tree_cpu_s()
    t0 = time.time()
    from frontier_engine.session import get_spark

    spark = get_spark(master, app=f"perfbench-{args.workload}", **sess_kw)
    session_s = time.time() - t0
    session_cpu = tree_cpu_s() - c0
    steal = StealMeter()
    try:
        pages_canon, reps, rep_cpus = set_up(spark, inputs, crawl.cfg, run_dir)
        # in CPU seconds, like the crawl metrics (README: "Metrics")
        setup_s = session_cpu + statistics.median(rep_cpus)
        runner = Runner(spark, run_dir, inputs, pages_canon)
        if traced:
            layers, windows = traced_rounds(runner, crawl, stage_crawl, args)
        else:
            # the round count follows from --seconds alone, not from how
            # fast this run goes, so every run does the same work
            rounds = []
            for _ in range(max(1, int(args.seconds // w.round_s))):
                rounds.append(runner.round(crawl))
                if rounds[-1]["raised"] is not None:
                    break
    finally:
        stop_spark(spark)
    if traced:
        from tracing import eventlog_metrics

        layers.update(eventlog_metrics(event_log, windows))
        layers["setup.session_s"] = session_s
        layers["setup.prepare_pages_s"] = statistics.median(r[0] for r in reps)
        layers["setup.warmup_s"] = statistics.median(r[1] + r[2] for r in reps)
        metrics = {
            k: {"value": v, "unit": layer_unit(k)}
            for k, v in sorted(layers.items())
        }
    else:
        print(
            "perfbench: session %.1fs, set-up reps %s (CPU %s), cycle wall %s, "
            "cycle CPU %s, %.0f URLs/s wall, peak RSS %.0f MB, CPU steal %.0f%%"
            % (session_s, [round(sum(r), 1) for r in reps],
               [round(session_cpu, 1)] + [round(c, 1) for c in rep_cpus],
               [[round(x, 1) for x in r["walls"]] for r in rounds],
               [[round(x, 1) for x in r["cpus"]] for r in rounds],
               sum(r["processed"] for r in rounds)
               / sum(r["wall"] for r in rounds),
               rss.peak / 2**20, 100 * steal.share()),
            file=sys.stderr,
        )
        metrics = end_to_end(rounds, setup_s)
    return {
        "correct": not runner.mismatch,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }


def end_to_end(rounds, setup_s: float) -> dict:
    ok = [r for r in rounds if r["raised"] is None]
    if not ok:
        raise RuntimeError("no crawl round completed")

    def m(v, unit):
        return {"value": v, "unit": unit}

    # single cycles move too much with the host's load to gate on; the
    # per-cycle CPU seconds are per-layer metrics of the traced run
    return {
        "urls_per_cpu_s": m(
            sum(r["processed"] for r in ok) / sum(r["cpu"] for r in ok),
            "URLs/cpu-s",
        ),
        "setup_s": m(setup_s, "s"),
        "store_bytes_per_url": m(
            statistics.median(r["store"] / r["seen"] for r in ok), "B/URL"
        ),
    }


def traced_rounds(runner: Runner, crawl: Crawl, stage_crawl, args):
    """Round A traced (spans, table-write and filter-rebuild wrappers,
    per-cycle layer probes), round B untraced for the overhead figure, and
    for ``stage_probe`` workloads a traced round with the stage stack on.
    Returns (per-layer metrics, round A's cycle windows)."""
    import check
    from tracing import (
        Spans, dir_bytes_files, probe_cycle, trace_filter_rebuild,
    )

    spans = Spans()

    def probe(io, k):
        probe_cycle(runner.spark, io, crawl.cfg, k,
                    runner.spark.read.parquet(crawl.seeds),
                    runner.robots_df, runner.pages_canon, spans)

    with trace_filter_rebuild(spans):
        a = runner.round(crawl, spans=spans, probe=probe, keep=True)
    b = runner.round(crawl)
    root = a["io"].root
    got = [check.read_cycle(root, k) for k in range(1, len(a["walls"]) + 1)]
    lin = [v for c in got for v in c["lineage"].values()]
    cand = spans.total("membership.probe", "candidates")
    ranked = spans.total("politeness", "rows_ranked")
    out = {
        "canon.urls": spans.total("canon", "urls"),
        "canon.busy_s": spans.total("canon"),
        "extract.pages": spans.total("extract", "pages"),
        "extract.html_bytes": spans.total("extract", "html_bytes"),
        "extract.busy_s": spans.total("extract"),
        "membership.candidates": cand,
        "membership.definite_new_ratio": (
            spans.total("membership.probe", "definite_new") / cand
            if cand else 0.0
        ),
        "membership.probe_busy_s": spans.total("membership.probe"),
        "membership.rebuild_s": spans.total("membership.rebuild"),
        "membership.filter_bytes": dir_bytes_files(
            os.path.join(root, "filters")
        )[0],
        "politeness.rows_ranked": ranked,
        "politeness.scheduled_ratio": (
            sum(v["enqueued"] for v in lin) / ranked if ranked else 0.0
        ),
        "politeness.robots_skipped": sum(v["robots_skipped"] for v in lin),
        "politeness.rank_busy_s": spans.total("politeness"),
        # from the untraced round: wall-clock throughput and per-cycle
        # CPU seconds
        "scheduler.urls_per_s": b["processed"] / b["wall"],
        "scheduler.first_cycle_cpu_s": b["cpus"][0],
        "scheduler.steady_cycle_cpu_s": statistics.median(b["cpus"][1:]),
        "trace.crawl_s": a["wall"],
        "trace.overhead_s": a["wall"] - b["wall"],
    }
    for t in TRACE_TABLES:
        out[f"tableio.write_s.{t}"] = spans.total(f"tableio.{t}")
        out[f"tableio.bytes.{t}"] = spans.total(f"tableio.{t}", "bytes")
        out[f"tableio.files.{t}"] = spans.total(f"tableio.{t}", "files")

    stage_spans = Spans()
    nd_rounds = docs = 0
    out["corpus.crawl_s"] = 0.0
    if stage_crawl is not None:
        s = runner.round(stage_crawl, spans=stage_spans, keep=True)
        io = s["io"]
        for k in range(1, len(s["walls"]) + 1):
            m = io.manifest(k) or {}
            nd_rounds += (m.get("meta") or {}).get("nd_rounds") or 0
            docs += len(check.read_cycle(io.root, k).get("page_stats", ()))
        out["corpus.crawl_s"] = s["wall"]
    for t in STAGE_TABLES:
        out[f"tableio.write_s.{t}"] = stage_spans.total(f"tableio.{t}")
    out["graph.nd_rounds"] = nd_rounds
    out["corpus.docs"] = docs
    spans.spans += stage_spans.spans
    spans.dump(os.path.join(
        CACHE, "spans", f"{args.workload}-s{args.seed}.json"
    ))
    return out, a["windows"]


def layer_unit(name: str) -> str:
    if name.endswith("per_s"):
        return "URLs/s"
    if name.endswith("_s") or ".write_s." in name:
        return "s"
    if name.endswith("bytes") or ".bytes." in name:
        return "B"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
