"""Crawl-engine benchmark: one command, three seeded workloads.

Run from the root of a checkout::

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 12 --trace 0

Workloads: ``crawl_bfs``, ``crawl_budgeted``, ``corpus_dedup`` (see
NOTES.md for why each exists). Each run is one process with one closed-loop
client: a SparkSession at ``local[nproc]`` with nproc shuffle partitions
makes one measured call at a time and waits for it. A run

1. sets up three times (session start, input generation, caching) and
   then warms up once on its own inputs: one crawl round, or one dedup
   pass;
2. repeats the measured call while the next one is predicted to end within
   ``--seconds`` (at least once), checking every output against a
   pure-Python model and against the warm-up's result, and running the
   negative controls once;
3. with ``--trace 1``, makes one more call with the layer hooks installed
   and reports the per-layer metrics instead of the end-to-end ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). The end-to-end times
are busy CPU seconds of the machine (see cpu.py); wall times are logged on
stderr. Everything the run writes stays under ``.perfbench_work/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import checks
import workloads as W
from cpu import busy_s
from tracer import Tracer

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
N_SETUPS = 3

# Workload sizes: "full" is what a run measures, "smoke" what the smoke
# tests run.
SIZES = {
    "crawl_bfs": {
        "full": dict(n_pages=5000, n_hosts=13, n_seeds=3, max_rounds=3),
        "smoke": dict(n_pages=120, n_hosts=5, n_seeds=2, max_rounds=3),
    },
    "crawl_budgeted": {
        "full": dict(n_pages=6000, n_hosts=60, n_seeds=600, budget=10,
                     max_rounds=2, pagerank_every=1, pagerank_iters=3),
        "smoke": dict(n_pages=400, n_hosts=20, n_seeds=40, budget=2,
                      max_rounds=2, pagerank_every=1, pagerank_iters=2),
    },
    "corpus_dedup": {
        "full": dict(n_base=700, n_prefix=50, n_edit=50, max_df=256),
        "smoke": dict(n_base=150, n_prefix=10, n_edit=10, max_df=16),
    },
}

# Metric names and units come from BENCHMARK.json, the one place they live.
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -------------------------------------------------------------- session
def start_spark(run_dir: Path):
    from spider_spark.session import get_spark

    n = nproc()
    return get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a traced call for the tracker
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_jvm() -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the driver JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        for line in Path(f"/proc/{proc.pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


# ------------------------------------------------------------ workloads
class Workload:
    """One workload: generate, load, call, check. Subclasses fill in the
    calls; ``ops`` are rounds (crawls) or dedup calls."""

    name: str

    def __init__(self, seed: int, size: str = "full"):
        self.seed = seed
        self.sizes = SIZES[self.name]
        self.size = size

    def make(self, size: str):
        raise NotImplementedError

    def setup(self, spark):
        self.inputs = self.make(self.size)
        self.dfs = self.load(spark, self.inputs)

    def teardown(self):
        for df in self.dfs.values():
            df.unpersist()

    def prepare_check(self):
        """Build the correctness model once, outside set-up and calls."""


class CrawlWorkload(Workload):
    def load(self, spark, inputs):
        return W.load_crawl(spark, inputs)

    def call(self, spark, workdir, tracer=None):
        return W.crawl_once(spark, self.inputs, self.dfs, workdir, tracer=tracer)

    def warmup(self, spark, workdir):
        """One discarded round of the run's own crawl (a round on a tiny web
        leaves the first full-size round still cold). Returns its done set."""
        return self.result_key(W.crawl_once(spark, self.inputs, self.dfs, workdir,
                                            max_rounds=1))

    @staticmethod
    def ops(run) -> list[float]:
        return run.round_cpu_s

    @staticmethod
    def n_ops(run) -> int:
        return max(1, run.summary.rounds_run)

    @staticmethod
    def work(run) -> int:
        return run.summary.n_done

    @staticmethod
    def out_bytes(run) -> int:
        return run.workdir_bytes

    @staticmethod
    def result_key(run):
        return frozenset(r[0] for r in run.frontier if r[1] == "done")

    @staticmethod
    def warm_key(run):
        """The URLs a measured call fetched in round 1. The one-round warm-up
        ran that same round on the same inputs (PageRank never fires before
        round 2), so it must have done exactly these."""
        return frozenset(r[0] for r in run.frontier if r[1] == "done" and r[3] == 1)


class CrawlBfs(CrawlWorkload):
    name = "crawl_bfs"

    def make(self, size):
        return W.make_bfs(self.seed, **self.sizes[size])

    def check(self, run, controls=False):
        r = self.inputs.config["max_rounds"]
        errs = checks.check_bfs(run, self.inputs, r)
        if controls and not errs:
            errs += checks.bfs_controls(run, self.inputs, r)
        return errs


class CrawlBudgeted(CrawlWorkload):
    name = "crawl_budgeted"

    def make(self, size):
        return W.make_budgeted(self.seed, **self.sizes[size])

    def check(self, run, controls=False):
        errs = checks.check_budgeted(run, self.inputs)
        if controls and not errs:
            errs += checks.budgeted_controls(run, self.inputs)
        return errs


class CorpusDedup(Workload):
    name = "corpus_dedup"
    model = None

    def make(self, size):
        return W.make_dedup(self.seed, **self.sizes[size])

    def load(self, spark, inputs):
        return W.load_dedup(spark, inputs)

    def call(self, spark, workdir, tracer=None):
        return W.dedup_once(spark, self.inputs, self.dfs, workdir, tracer=tracer)

    def warmup(self, spark, workdir):
        """One discarded pass over the run's own corpus (a pass over a
        smaller corpus leaves the first full-size pass still cold). Returns
        its pairs."""
        return self.result_key(self.call(spark, workdir))

    def prepare_check(self):
        docs = list(self.inputs.docs.itertuples(index=False, name=None))
        self.model = checks.dedup_model(docs, self.inputs.jaccard_t,
                                        self.inputs.containment_t, self.inputs.max_df)

    def check(self, run, controls=False):
        errs = checks.check_dedup(run, self.inputs, self.model)
        if controls and not errs:
            errs += checks.dedup_controls(run, self.inputs, self.model)
        return errs

    @staticmethod
    def ops(run) -> list[float]:
        return [run.jaccard_cpu_s, run.containment_cpu_s]

    @staticmethod
    def n_ops(run) -> int:
        return 2

    def work(self, run) -> int:
        return len(self.inputs.docs)

    @staticmethod
    def out_bytes(run) -> int:
        return run.out_bytes

    @staticmethod
    def result_key(run):
        return (frozenset(r[:2] for r in run.jaccard), frozenset(r[:2] for r in run.containment))

    warm_key = result_key


WORKLOADS = {w.name: w for w in (CrawlBfs, CrawlBudgeted, CorpusDedup)}


# --------------------------------------------------------------- layers
def layer_metrics(wl: Workload, tracer, run, untraced_cpu: float, workdir: Path,
                  spark) -> tuple[dict, dict]:
    """Per-layer metric values from one traced call, plus the reasons for
    layers this workload does not exercise (reported as 0)."""
    t = tracer.totals()
    absent = dict(tracer.absent)
    z = {"s": 0.0, "self_s": 0.0, "jobs": set(), "self_jobs": set(),
         "stages": 0, "tasks": 0, "tasks_failed": 0}

    def span(name):
        return t.get(name, z)

    stats = tracer.stage_stats()

    def group(prefix):
        """Jobs, stages and tasks of every span named prefix or prefix.*"""
        names = [n for n in t if n == prefix or n.startswith(prefix + ".")]
        jobs = set().union(*(t[n]["jobs"] for n in names)) if names else set()
        return {"jobs": jobs, **tracer.job_stats(jobs, stats)}

    m = {}
    all_jobs = set().union(*(s.jobs for s in tracer.spans if s.parent is None))
    every = tracer.job_stats(all_jobs, stats)
    m["spark.stages"], m["spark.tasks"] = every["stages"], every["tasks"]
    m["spark.tasks_failed"] = every["tasks_failed"]

    if isinstance(wl, CrawlWorkload):
        rounds = max(1, run.summary.rounds_run)
        m["crawl.jobs"] = len(span("crawl")["jobs"])
        m["crawl.jobs_per_round"] = m["crawl.jobs"] / rounds
        m["crawl.self_s"] = span("crawl")["self_s"]
        m["round.plan_s"] = span("round")["self_s"]
        m["round.plan_jobs"] = len(span("round")["self_jobs"])
        for ph in ("fetch_parse", "discover", "merge"):
            m[f"round.{ph}_s"] = span(f"round.{ph}")["s"]
            m[f"round.{ph}_jobs"] = len(span(f"round.{ph}")["jobs"])
        g = group("round")
        m["round.stages"], m["round.tasks"] = g["stages"], g["tasks"]
        by_status = [mf["stats"]["by_status"] for mf in run.manifests]
        claimed = sum(n for _, _, n in run.fetch_log)
        m["round.claimed_rows"] = claimed
        m["round.denied_rows"] = by_status[-1].get("denied", 0)
        m["round.children_rows"] = sum(by_status[-1].values()) - sum(by_status[0].values())
        m["round.frontier_rows"] = sum(by_status[-1].values())
        new_at_start = sum(s.get("new", 0) for s in by_status[:-1])
        m["round.claim_ratio"] = claimed / new_at_start if new_at_start else 0.0
        for part in ("load", "probe", "merge"):
            m[f"seen.{part}_s"] = span(f"seen.{part}")["s"]
        m["seen.jobs"] = len(group("seen")["jobs"])
        m["seen.rebuilds"] = tracer.counts["seen.rebuilds"]
        cand = sum(n for _, n, _ in run.bloom_log)
        m["seen.maybe_frac"] = sum(k for _, _, k in run.bloom_log) / cand if cand else 0.0
        if not wl.inputs.config.get("use_bloom"):
            absent["seen"] = "Bloom seen-set is off in this workload"
        m["tables.write_s"] = span("tables.write")["s"]
        m["tables.write_jobs"] = len(span("tables.write")["jobs"])
        m["tables.read_s"] = span("tables.read")["s"]
        g = group("tables")
        m["tables.stages"], m["tables.tasks"] = g["stages"], g["tasks"]
        m["tables.bytes_written"] = tracer.counts["tables.bytes_written"]
        m["tables.files_written"] = tracer.counts["tables.files_written"]
        m["tables.rows_written_per_claim"] = parquet_rows(workdir) / claimed if claimed else 0.0
        m["pagerank.s"] = span("pagerank")["s"]
        m["pagerank.jobs"] = len(span("pagerank")["jobs"])
        m["pagerank.firings"] = tracer.counts["pagerank.firings"]
        if not wl.inputs.config.get("pagerank_every"):
            absent["pagerank"] = "PageRank is off in this workload"
        m["robots.compile_s"], m["parse.pages_per_s"] = oneshots(spark, wl, absent)
        absent["dedup"] = "no dedup call in a crawl workload"
    else:
        m["dedup.jaccard_s"] = span("dedup.jaccard")["s"]
        m["dedup.containment_s"] = span("dedup.containment")["s"]
        g = group("dedup")
        m["dedup.jobs"], m["dedup.stages"], m["dedup.tasks"] = len(g["jobs"]), g["stages"], g["tasks"]
        docs = list(wl.inputs.docs.itertuples(index=False, name=None))
        sets = checks.shingle_sets(docs, 3, wl.inputs.max_df)
        m["dedup.shingle_rows"] = sum(len(s) for s in sets.values())
        m["dedup.pairs_out"] = len(run.jaccard) + len(run.containment)
        for layer in ("crawl", "round", "seen", "tables", "pagerank", "robots", "parse"):
            absent[layer] = "no crawl in corpus_dedup"
    m["process.peak_rss_mb"] = peak_rss_mb()
    m["trace.overhead_frac"] = run.cpu_s / untraced_cpu - 1
    return {name: float(m.get(name, 0)) for name in PER_LAYER}, absent


def parquet_rows(workdir: Path) -> int:
    """Rows in every Parquet file the crawl wrote (footer metadata only)."""
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in (workdir / "snapshots").rglob("*.parquet"))


def oneshots(spark, wl: Workload, absent: dict) -> tuple[float, float]:
    """robots.compile_s: compiling the workload's host policy once.
    parse.pages_per_s: the round's page parse and link extraction over the
    workload's pages into a noop sink."""
    compile_s = pages_per_s = 0.0
    try:
        from spider_spark.robots import compile_policy
        t0 = time.perf_counter()
        compile_policy(wl.dfs["policy"]).select("allow_rules", "deny_rules").collect()
        compile_s = time.perf_counter() - t0
    except (ImportError, AttributeError) as e:
        absent["robots"] = f"spider_spark.robots.compile_policy unavailable: {e}"
    try:
        from spider_spark.parse import links_col, parse_page_cols
        html = F.col("html").cast("string")
        t0 = time.perf_counter()
        wl.dfs["pages"].select(parse_page_cols(html).alias("p"), links_col(html).alias("l")) \
            .write.format("noop").mode("overwrite").save()
        pages_per_s = len(wl.inputs.pages) / (time.perf_counter() - t0)
    except (ImportError, AttributeError) as e:
        absent["parse"] = f"spider_spark.parse functions unavailable: {e}"
    return compile_s, pages_per_s


# ----------------------------------------------------------------- run
def run(args, run_dir: Path) -> dict:
    wl = WORKLOADS[args.workload](args.seed)
    spark = None
    setup_cpu, setup_wall = [], []
    for k in range(N_SETUPS):
        c0, t0 = busy_s(), time.perf_counter()
        if spark is not None:
            wl.teardown()
            spark.stop()
        spark = start_spark(run_dir)
        wl.setup(spark)
        setup_cpu.append(busy_s() - c0)
        setup_wall.append(time.perf_counter() - t0)
    c0, t0 = busy_s(), time.perf_counter()
    warm_key = wl.warmup(spark, run_dir / "warmup")
    warmup_cpu, warmup_wall = busy_s() - c0, time.perf_counter() - t0
    shutil.rmtree(run_dir / "warmup", ignore_errors=True)
    log(f"{wl.name}: set-ups {[round(s, 2) for s in setup_wall]} s wall, "
        f"{[round(s, 2) for s in setup_cpu]} s CPU; "
        f"warm-up {warmup_wall:.2f} s wall, {warmup_cpu:.2f} s CPU")
    wl.prepare_check()

    attempted = failed = 0
    errors: list[str] = []
    runs = []
    keys = set()

    def measured(k: int, tracer=None):
        nonlocal attempted, failed
        workdir = run_dir / f"call{k}"
        try:
            r = wl.call(spark, workdir, tracer=tracer)
        except Exception:
            log(traceback.format_exc())
            attempted += 1
            failed += 1
            errors.append(f"call {k} raised")
            shutil.rmtree(workdir, ignore_errors=True)
            return None
        attempted += wl.n_ops(r)
        errs = wl.check(r, controls=(k == 0))
        errors.extend(f"call {k}: {e}" for e in errs)
        keys.add(wl.result_key(r))
        if len(keys) > 1:
            errors.append(f"call {k}: result differs from an earlier call of this run")
        if wl.warm_key(r) != warm_key:
            errors.append(f"call {k}: result differs from the warm-up's")
        return r, workdir

    t_start = time.perf_counter()
    call_s = []
    while True:
        t0 = time.perf_counter()
        out = measured(len(runs))
        if out is None:
            break
        r, workdir = out
        shutil.rmtree(workdir, ignore_errors=True)
        runs.append(r)
        call_s.append(time.perf_counter() - t0)
        log(f"{wl.name}: call {len(runs)} wall {r.wall_s:.3f} s, CPU {r.cpu_s:.3f} s, "
            f"ops CPU {[round(x, 3) for x in wl.ops(r)]} s")
        if time.perf_counter() - t_start + statistics.median(call_s) > args.seconds:
            break

    metrics: dict = {}
    if runs and args.trace:
        tracer = Tracer(spark)
        out = measured(len(runs), tracer)
        if out is not None:
            r, workdir = out
            errors.extend(tracer.nesting_errors())
            untraced = statistics.median(x.cpu_s for x in runs)
            values, absent = layer_metrics(wl, tracer, r, untraced, workdir, spark)
            shutil.rmtree(workdir, ignore_errors=True)
            metrics = {n: {"value": v, "unit": PER_LAYER[n]} for n, v in values.items()}
            for layer, why in sorted(absent.items()):
                log(f"{wl.name}: layer {layer} absent: {why}")
            trace_file = WORK / "traces" / f"{wl.name}-seed{args.seed}-{os.getpid()}.json"
            trace_file.parent.mkdir(parents=True, exist_ok=True)
            trace_file.write_text(json.dumps(
                {"workload": wl.name, "seed": args.seed, "absent": absent,
                 "metrics": values, "spans": tracer.dump()}, indent=1))
            log(f"{wl.name}: trace written to {trace_file.relative_to(ROOT)}")
    elif runs:
        ops = [wl.ops(r) for r in runs]
        med = statistics.median
        values = {
            "setup_s": med(setup_cpu) + warmup_cpu,
            "cpu_s": med(r.cpu_s for r in runs),
            "work_per_cpu_s": med(wl.work(r) / r.cpu_s for r in runs),
            "round_cpu_p50_s": med(med(o) for o in ops),
            "round_cpu_max_s": med(max(o) for o in ops),
            "bytes_per_item": med(wl.out_bytes(r) / wl.work(r) for r in runs),
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}

    if errors:
        for e in errors[:30]:
            log(f"{wl.name}: FAILED CHECK {e}")
        failed = attempted
    return {"correct": not errors and bool(metrics), "attempted": max(1, attempted),
            "failed": failed, "metrics": metrics}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measure repeated calls for about this long (at least one call)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "spider_spark" / "__init__.py").is_file():
        log(f"no spider_spark package next to {HERE.name}/: run from a full checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    run_dir = WORK / f"run-{os.getpid()}"
    for d in ("tmp", "spark-local", "warehouse"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    tempfile.tempdir = str(run_dir / "tmp")
    try:
        import spider_spark
        if Path(spider_spark.__file__).resolve().parent != ROOT / "spider_spark":
            log(f"spider_spark imported from {spider_spark.__file__}, not this checkout")
            return 2
        result = run(args, run_dir)
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
