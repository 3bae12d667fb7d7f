"""Repository benchmark: end-to-end KG and curation runs on seeded inputs.

    python3 perfbench/run.py --workload kg_web --seed 1 --seconds 5 --trace 0

Run from the repository root. One run sets up a Spark session and the
seeded inputs three times (setup_s is the median), runs the workload once
cold, then one (kg_web) or three (curate) untimed warm-up runs, then at
least three times and until --seconds have passed (wall_s is the median
of those), checks every output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the run also replays the job layer by layer (event log,
per-phase actions, single-process loop replay, a local[1] leg) and the
metrics are the per-layer ones. The line before the last is a report with
every measured value, the checks, the Spark job counts and host facts.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import traceback
from dataclasses import dataclass
from time import perf_counter as clock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the gated end-to-end metrics; cold_wall_s, peak_rss_mb and triples_per_s
# are reported beside them (see perfbench/README.md for why not gated)
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s"}
# wall_s is the median of a fixed count of runs after the workload's
# warm-up runs, so it sits at the same point of the warm-up curve in every
# run (--seconds is set below what these runs take)
WARM_RUNS = 3
MAX_WARM = 12
SETUPS = 3
ORACLE_SAMPLE = 150
DUCKDB_SAMPLE = 300
REPLAY_SAMPLE = 2000


def parse_args(argv):
    from inputs import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_env(work: str) -> dict:
    """Session settings for this host, set through the environment the
    program already reads (session.py stays untouched)."""
    cpus = os.cpu_count() or 1
    driver_gb = max(1, min(4, int(mem_total_gb() // 6)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        # python workers must import fastie_spark from any cwd
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    })
    return {"cpus": cpus, "driver_mem": f"{driver_gb}g"}


def cpu_ticks() -> tuple:
    """(all, steal) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]


def host_facts(settings: dict) -> dict:
    import pyarrow
    import pyspark

    return {"nproc": os.cpu_count(), "mem_total_gb": round(mem_total_gb(), 2),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": platform.python_version(), **settings}


def spark_conf(work: str, eventlog_dir: str | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


@dataclass
class Ctx:
    spark: object
    wl: object
    vocab: object
    rows: list
    poison: set
    pages: object
    linker: object
    edges: object
    docs: object


def setup(wl, seed: int, work: str, master: str, conf: dict) -> Ctx:
    """Session start, input generation + write + read, linker and alias
    tables: everything a run needs before its first job."""
    from fastie_spark.fixtures import (
        build_alias_edges,
        build_linker_dict,
        build_vocab,
    )
    from fastie_spark.session import get_spark, local_df
    from inputs import (
        EDGES_SCHEMA,
        LINKER_SCHEMA,
        N_FILES,
        generate_pages,
        write_pages,
    )
    from pyspark.sql import functions as F

    spark = get_spark(master=master, app_name=f"perfbench-{wl.name}",
                      extra_conf=conf)
    vocab = build_vocab()
    rows, poison = generate_pages(vocab, seed)
    path = os.path.join(work, "pages")
    shutil.rmtree(path, ignore_errors=True)
    write_pages(rows, path, N_FILES)
    pages = spark.read.parquet(path)
    linker = local_df(spark, build_linker_dict(vocab), LINKER_SCHEMA)
    edges = local_df(spark, build_alias_edges(vocab)[0], EDGES_SCHEMA)
    docs = pages.select(
        F.xxhash64("url").alias("doc_id"),
        F.substring_index(F.substring_index("url", "/", 3), "//", -1)
        .alias("source"),
        "lang", "text",
    )
    return Ctx(spark, wl, vocab, rows, poison, pages, linker, edges, docs)


def job_ids(spark) -> set:
    """Ids of every job the context has seen (after the listener bus has
    delivered all pending events)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def run_job(ctx: Ctx, out_dir: str) -> dict:
    """The timed unit: input to committed result."""
    if ctx.wl.kind == "kg":
        from fastie_spark.kg_job import run_kg_job

        return run_kg_job(ctx.spark, ctx.pages, ctx.vocab, ctx.linker,
                          ctx.edges, out_dir=out_dir, snapshot_id="bench",
                          n_buckets=8, repartition=False)
    from fastie_spark.textops import curate_verdict, release_caches

    try:
        curate_verdict(ctx.docs).write.mode("overwrite").parquet(out_dir)
    finally:
        release_caches()
    return {}


def check_job(ctx: Ctx, out_dir: str, res: dict) -> tuple:
    import verify

    if ctx.wl.kind == "kg":
        return verify.kg_output(ctx.spark, out_dir, res)
    return verify.curate_output(ctx.spark, out_dir, len(ctx.rows))


class Runner:
    """Times job repetitions in one session and checks each one."""

    def __init__(self, ctx: Ctx, work: str, mon=None):
        self.ctx = ctx
        self.work = work
        self.mon = mon            # PeakRss: one memory peak per job
        # dicts: wall_s, jobs, fails, n_triples, peak_mb
        self.reps: list = []
        self.digest = None
        self.last_out = None

    def rep(self) -> dict:
        i = len(self.reps)
        out = os.path.join(self.work, f"out{i}")
        shutil.rmtree(out, ignore_errors=True)
        before = job_ids(self.ctx.spark)
        r = {"wall_s": None, "jobs": None, "fails": [], "peak_mb": None}
        if self.mon:
            self.mon.take_window_mb()
        try:
            t = clock()
            res = run_job(self.ctx, out)
            r["wall_s"] = clock() - t
            r["jobs"] = len(job_ids(self.ctx.spark) - before)
            if self.reps and r["jobs"] != self.reps[0]["jobs"]:
                # the job-count pin: every run of a workload runs as many
                # Spark jobs as the first
                r["fails"].append(f"{r['jobs']} Spark jobs, first run "
                                  f"{self.reps[0]['jobs']}")
            r["n_triples"] = res.get("n_triples")
            fails, digest = check_job(self.ctx, out, res)
            r["fails"] += fails
            if self.digest is None:
                self.digest = digest
            elif digest != self.digest:
                r["fails"].append(f"output digest {digest} != {self.digest}")
        except Exception:
            r["fails"].append(traceback.format_exc(limit=3))
        if self.mon:
            r["peak_mb"] = self.mon.take_window_mb()
        self.reps.append(r)
        if self.last_out and self.last_out != out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        return r

    def warm(self, seconds: float, min_reps: int) -> None:
        t0 = clock()
        n = 0
        while n < min_reps or (clock() - t0 < seconds and n < MAX_WARM):
            self.rep()
            n += 1


def one_time_checks(ctx: Ctx, seed: int, last_out: str) -> tuple:
    """Oracle parity of a seeded sample (kg) or DuckDB parity of a seeded
    document sample (curate). Returns (failures, report dict)."""
    import numpy as np

    import verify

    rng = np.random.default_rng((seed, 0x0AC1E))
    if ctx.wl.kind == "kg":
        idx = rng.choice(len(ctx.rows), size=ORACLE_SAMPLE, replace=False)
        sample = [ctx.rows[i] for i in sorted(idx.tolist())]
        fails, poison_rows = verify.oracle_extraction(
            ctx.spark, ctx.pages, ctx.vocab, sample, ctx.poison,
            os.path.join(last_out, "provenance"))
        return fails, {"oracle_sample": len(sample),
                       "poison_pages": len(ctx.poison),
                       "poison_rows": poison_rows}
    from pyspark.sql import functions as F

    ids = ctx.docs.select("doc_id").toPandas()["doc_id"].tolist()
    pick = sorted(rng.choice(ids, size=DUCKDB_SAMPLE, replace=False).tolist())
    pdf = ctx.docs.filter(F.col("doc_id").isin(pick)).toPandas()
    return verify.curate_duckdb(ctx.spark, pdf), {"duckdb_sample": len(pdf)}


def untraced(args, wl, work) -> dict:
    from procmon import PeakRss

    master = f"local[{os.cpu_count() or 1}]"
    conf = spark_conf(work, None)
    t_run = clock()
    with PeakRss() as mon:
        setups, ctx = [], None
        for _ in range(SETUPS):
            if ctx is not None:
                ctx.spark.stop()
            t = clock()
            ctx = setup(wl, args.seed, work, master, conf)
            setups.append(clock() - t)
        runner = Runner(ctx, work, mon)
        t_jobs = clock()
        runner.rep()                       # cold: first job in this session
        for _ in range(wl.warmup_runs):
            runner.rep()
        runner.warm(args.seconds, WARM_RUNS)
    t_checks = clock()
    fails, extra = one_time_checks(ctx, args.seed, runner.last_out)
    ctx.spark.stop()
    extra["timeline_s"] = {"setup": t_jobs - t_run, "jobs": t_checks - t_jobs,
                           "checks_and_stop": clock() - t_checks}
    return summarize(wl, runner, setups, fails, extra)


def summarize(wl, runner: Runner, setups, once_fails, extra) -> dict:
    reps = runner.reps
    ok = [r for r in reps if not r["fails"]]
    warm = [r for r in reps[1 + wl.warmup_runs:] if not r["fails"]]
    failed = len(reps) - len(ok) + (1 if once_fails else 0)
    if not warm or reps[0]["fails"]:
        raise RuntimeError("no successful cold and warm run: "
                           + json.dumps([r["fails"] for r in reps])
                           + json.dumps(once_fails))
    wall = statistics.median(r["wall_s"] for r in warm)
    e2e = {
        "setup_s": statistics.median(setups),
        "wall_s": wall,
        "docs_per_s": len(runner.ctx.rows) / wall,
    }
    jobs = [r["jobs"] for r in reps]
    report = {
        "workload": wl.name,
        "n_docs": len(runner.ctx.rows),
        "metrics": {
            **{k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
            "cold_wall_s": {"value": reps[0]["wall_s"], "unit": "s"},
            # the cold job's peak, what a one-shot spark-submit peaks at
            "peak_rss_mb": {"value": reps[0]["peak_mb"], "unit": "MB"},
        },
        "job_peaks_mb": [r["peak_mb"] for r in reps],
        "failed_frac": failed / len(reps),
        "setup_walls_s": setups,
        "walls_s": [r["wall_s"] for r in reps],
        "spark_jobs_per_run": jobs,
        "spark_jobs_repeat": len(set(jobs)) == 1,
        "failures": [f for r in reps for f in r["fails"]] + once_fails,
        "digest": runner.digest,
        **extra,
    }
    if wl.kind == "kg":
        n_tri = reps[-1]["n_triples"]
        report["n_triples"] = n_tri
        report["metrics"]["triples_per_s"] = {"value": n_tri / wall,
                                              "unit": "1/s"}
    return {"report": report, "e2e": e2e, "attempted": len(reps),
            "failed": min(failed, len(reps))}


def _phase_metrics(stats: dict, names, prefix: str) -> dict:
    import eventlog

    st = eventlog.summary(stats, names)
    return {f"{prefix}.{k}": st[k] for k in (
        "jobs", "task_max_s", "task_median_s", "shuffle_write_bytes",
        "spill_bytes")}


def traced(args, wl, work) -> dict:
    """Per-layer run: untraced reference walls, the per-phase replay under
    the event log, the single-process loop replay, the stream leg (kg) and
    a local[1] leg. Layers the workload does not run report 0."""
    import eventlog
    import layers
    import numpy as np

    from procmon import PeakRss

    cpus = os.cpu_count() or 1
    ev_dir = os.path.join(work, "eventlog")
    ctx = setup(wl, args.seed, work, f"local[{cpus}]",
                spark_conf(work, ev_dir))
    with PeakRss() as mon:
        runner = Runner(ctx, work, mon)
        runner.rep()
        runner.warm(0, min_reps=2)
    fails, extra = one_time_checks(ctx, args.seed, runner.last_out)
    untraced_wall = statistics.median(r["wall_s"] for r in runner.reps[1:])
    m = dict.fromkeys(layers.PER_LAYER, 0)
    sc = ctx.spark.sparkContext
    out = os.path.join(work, "trace_out")
    if wl.kind == "kg":
        ph = layers.kg_phases(ctx.spark, ctx, out)
        for name, p in ph.items():
            m[f"{name}.wall_s"] = p["wall_s"]
            m[f"{name}.rows_out"] = p["rows_out"]
        m["linking.link_rate"] = ph["linking"]["link_rate"]
        m["cc.rows_in"] = ph["cc"]["rows_in"]
        phase_sum = sum(p["wall_s"] for p in ph.values())
        stream, stream_fails = layers.stream_leg(ctx, work, args.seed)
        m.update(stream)
        fails += stream_fails
    else:
        probe = layers.CcProbe(sc)
        sc.setJobDescription("textops.curate")
        t = clock()
        with probe.installed("textops.curate"):
            run_job(ctx, out)
        phase_sum = clock() - t
        sc.setJobDescription(None)
        m.update({"cc.wall_s": probe.wall_s, "cc.rows_in": probe.rows_in,
                  "cc.rows_out": probe.rows_out})
    app_id = sc.applicationId
    ctx.spark.stop()

    stats = eventlog.phase_stats(eventlog.find_log(ev_dir, app_id))
    if wl.kind == "kg":
        for name in layers.PHASES:
            m.update(_phase_metrics(stats, [name], name))
        ex = eventlog.summary(stats, ["extract"])
        m["extract.py_bytes_in"] = ex["py_bytes_in"]
        m["extract.py_bytes_out"] = ex["py_bytes_out"]
        rng = np.random.default_rng((args.seed, 0x1A7E))
        k = min(REPLAY_SAMPLE, len(ctx.rows))
        sample = [ctx.rows[i] for i in
                  sorted(rng.choice(len(ctx.rows), k, replace=False).tolist())]
        loop, loop_fails = layers.loop_layers(ctx.vocab, sample, ctx.poison)
        m.update(loop)
        fails += loop_fails
    else:
        m.update(_phase_metrics(stats, ["textops.curate", "cc"],
                                "textops.curate"))
        m.update(_phase_metrics(stats, ["cc"], "cc"))
    m["trace.phase_sum_s"] = phase_sum
    m["trace.untraced_wall_s"] = untraced_wall
    m["trace.overhead_s"] = phase_sum - untraced_wall
    m["jobs_per_run"] = runner.reps[-1]["jobs"]
    m["cold_wall_s"] = runner.reps[0]["wall_s"]
    m["peak_rss_mb"] = runner.reps[0]["peak_mb"]
    if wl.kind == "kg":
        m["triples_per_s"] = runner.reps[-1]["n_triples"] / untraced_wall

    # scaling leg: the same workload on one core, warm wall vs local[nproc]
    one = setup(wl, args.seed, work, "local[1]", spark_conf(work, None))
    leg = Runner(one, work)
    leg.rep()
    leg.rep()
    one.spark.stop()
    m["scaling.eff_1_to_n"] = leg.reps[-1]["wall_s"] / (cpus * untraced_wall)

    if set(m) != set(layers.PER_LAYER):
        raise RuntimeError("per-layer metrics out of sync: "
                           f"{sorted(set(m) ^ set(layers.PER_LAYER))}")
    reps = runner.reps + leg.reps
    failed = sum(1 for r in reps if r["fails"]) + (1 if fails else 0)
    fails += [f for r in reps for f in r["fails"]]
    report = {"workload": wl.name, "per_layer": m, "failures": fails,
              "spark_jobs_per_run": [r["jobs"] for r in runner.reps], **extra}
    return {"report": report, "per_layer": m, "attempted": len(reps),
            "failed": min(failed, len(reps))}


def stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it: it exits when its
    stdin closes, and it takes the Python worker daemon with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import fastie_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    import layers
    from inputs import WORKLOADS

    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        settings = configure_env(work)
        ticks0 = cpu_ticks()
        out = (traced if args.trace else untraced)(args, wl, work)
        ticks1 = cpu_ticks()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    out["report"]["host"] = host_facts(settings)
    # share of the host's CPU time taken by other guests during the run: on
    # a shared VM, the main cause of run-to-run spread
    out["report"]["host"]["cpu_steal_frac"] = (
        (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1))
    out["report"]["seed"] = args.seed
    print(json.dumps(out["report"], default=str))
    metrics = (
        {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in out["e2e"].items()}
        if not args.trace else
        {k: {"value": v, "unit": layers.PER_LAYER[k]} for k, v in
         out["per_layer"].items()}
    )
    print(json.dumps({"correct": out["failed"] == 0,
                      "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
