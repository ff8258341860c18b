#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client driving the engine on
local[3] through its public functions.

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 1 --trace 0

Each run generates its own input from --seed into a private directory
under the checkout (removed at exit), starts a session, writes the layout,
makes one cold pass and one warm-up pass over the workload's stages, then
repeats warm passes until --seconds have passed (at least
MIN_WARM_PASSES), and finally checks
every stage's output outside the timed region. The last stdout line is one
JSON object: end-to-end metrics with --trace 0, per-layer metrics from a
separately traced run with --trace 1. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field, replace  # noqa: E402
from pathlib import Path  # noqa: E402
from typing import Callable  # noqa: E402

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(REPO))

import checks  # noqa: E402
import gen  # noqa: E402
from spans import (Spans, descendants, dir_bytes,  # noqa: E402
                   parse_event_log, peak_rss_mb, proc_cpu_s, work_cpu_s)

from setsm_postprocessing_python_spark.operators.knn import knn_join_blocked  # noqa: E402
from setsm_postprocessing_python_spark.plans import queries as Q  # noqa: E402
from setsm_postprocessing_python_spark.plans import queries_ext as QX  # noqa: E402
from setsm_postprocessing_python_spark.session import get_spark  # noqa: E402
from setsm_postprocessing_python_spark.sources.bucketed import (  # noqa: E402
    activate_bucketed_pages, deactivate_bucketed_pages, ensure_bucketed_pages)
from setsm_postprocessing_python_spark.sources.pages import (  # noqa: E402
    bucketed_pages_active, geocoded_pages)
from tests.oracle_compare import assert_frames_match  # noqa: E402

import __spark_entry__  # noqa: E402

# The host has 4 cores: three run tasks, the fourth is left to the driver
# and the Arrow Python workers. 2g of driver heap fits a 15 GB host shared
# with other tenants, with room for the workers.
CORES = 3
DRIVER_MEMORY = "2g"
# A pass's CPU keeps falling pass after pass as the JIT warms up, so the
# measured passes are a fixed count: under a time budget a slow host
# would sample earlier, costlier passes.
MIN_WARM_PASSES = 3
LAYOUT_BUCKETS = 8

# Wall times on a shared host drift 30-40% between runs minutes apart
# (the hypervisor steals CPU); CPU seconds leave steal time out, so the
# gated time metrics, setup_s included, are the work's CPU seconds
# (spans.work_cpu_s), and the wall times are printed beside them and
# reported per layer.
END_TO_END = {
    "setup_s": "s", "cold_pass_cpu_s": "s", "pass_cpu_s": "s",
    "pages_per_cpu_s": "pages/s", "peak_rss_mb": "MB",
    "stored_bytes_per_page": "bytes",
}


ORACLE_SQL = __spark_entry__.oracle_sql()


def _knn(spark, sf):
    return knn_join_blocked(geocoded_pages(spark, sf), k=3, ring=1,
                            use_stored_block=bucketed_pages_active(spark, sf))


@dataclass(frozen=True)
class Workload:
    """A workload's input shape and stages; why each exists is in
    BENCHMARK.json and README.md."""
    params: gen.Params
    layout: bool
    stages: dict[str, Callable]
    # stage -> DuckDB SQL whose result must match the stage's output
    oracles: dict[str, str] = field(default_factory=dict)
    # stage -> check(output, input dir) returning what is wrong
    exact: dict[str, Callable] = field(default_factory=dict)


WORKLOADS = {
    "spatial_join": Workload(
        params=gen.Params(pages=30_000),
        layout=True,
        stages={"tile_assign_pip": Q.q_tile_assign,
                "knn": _knn,
                "ring_density": Q.q_ring_density},
        oracles={"tile_assign_pip": ORACLE_SQL["q_tile_assign"],
                 "knn": checks.KNN_TWIN,
                 "ring_density": ORACLE_SQL["q_ring_density"]}),
    "dedup_ann": Workload(
        params=gen.Params(pages=12_000, exact_dup_share=0.3,
                          near_dup_share=0.1, vectors=1_600, vec_group=4),
        layout=False,
        stages={"near_dup": QX.q_near_dup,
                "ann_lsh": QX.q_ann_lsh},
        oracles={"near_dup": ORACLE_SQL["q_near_dup"]},
        # vec_group 4 = k + 1: every vector's top 3 are its copies
        exact={"ann_lsh": checks.ann_exact}),
}
ALL_STAGES = [s for w in WORKLOADS.values() for s in w.stages]
STAGE_PARTS = {"build_s": "s", "plan_s": "s", "exec_s": "s",
               "jobs_build": "count", "shuffle_bytes": "bytes",
               "task_skew": "ratio"}
# Per-layer metrics of the layer table that no workload can measure within
# the run-time budget (perfbench/README.md, "What was left out, and why").
NOT_MEASURED = (
    "pipeline.P.*, resume.P.*: no pipeline_resume workload, one run_pipeline "
    "alone took 35-59 s; strip_assembly_host.*: operators.merge added ~28 s "
    "to a run; tile_counts, mask_filter, dedup_exact, fingerprint, ann_dedup: "
    "stages dropped for time")
PER_LAYER = {
    "session.start_s": "s", "sources.input_gen_s": "s",
    "sources.layout_write_s": "s", "sources.layout_bytes": "bytes",
    **{f"{s}.{p}": u for s in ALL_STAGES for p, u in STAGE_PARTS.items()},
    "cache.persisted_after": "count",
    "jvm.cold_cpu_s": "s", "jvm.pass_cpu_s": "s",
    "wall.setup_s": "s", "wall.cold_pass_s": "s", "wall.pass_p50_s": "s",
    "wall.pages_per_s": "pages/s", "trace.pages_per_s": "pages/s",
    "trace.overhead": "ratio",
}


def collect_sink(df):
    """(rows as pandas, digest) of one output, computed once."""
    df = df.persist()
    try:
        return df.toPandas(), checks.digest(df)
    finally:
        df.unpersist()


class Runner:
    """One workload run: holds the session, the counters and the spans."""

    def __init__(self, wl: Workload, spark, sf: str, spans: Spans,
                 jvm_pid: int):
        self.wl, self.spark, self.sf, self.spans = wl, spark, sf, spans
        self.jvm_pid = jvm_pid
        self.attempted = 0
        self.failed = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED {what}", file=sys.stderr, flush=True)

    def call(self, stage: str, sink, traced: bool):
        """Build the stage's plan and run it into `sink`. Traced calls,
        whose sink is always the digest, split it into spans under their
        own job groups: build (the operator call and the digest query over
        it), plan (that query's executedPlan, a lazy val the collect then
        reuses) and exec (the collect)."""
        self.attempted += 1
        fn = self.wl.stages[stage]
        try:
            if not traced:
                return sink(fn(self.spark, self.sf))
            with self.spans.span(stage, kind="stage"):
                with self.spans.span(f"{stage}.build", kind="build", stage=stage):
                    q = checks.digest_query(fn(self.spark, self.sf))
                with self.spans.span(f"{stage}.plan", kind="plan", stage=stage):
                    q._jdf.queryExecution().executedPlan()
                with self.spans.span(f"{stage}.exec", kind="exec", stage=stage):
                    return checks.read_digest(q)
        except Exception:  # a failed stage is counted, the run goes on
            self.fail(f"{stage}: {traceback.format_exc(limit=3)}")
            return None

    def run_pass(self, sink, traced: bool) -> tuple[float, float, float, dict]:
        """(wall s, work CPU s, JVM CPU s, {stage: sink result}) of one
        pass."""
        out = {}
        c, j = work_cpu_s(self.jvm_pid), proc_cpu_s([self.jvm_pid])
        t = time.perf_counter()
        with self.spans.span("pass", kind="pass", traced=traced):
            for stage in self.wl.stages:
                out[stage] = self.call(stage, sink, traced)
        wall = time.perf_counter() - t
        return (wall, work_cpu_s(self.jvm_pid) - c,
                proc_cpu_s([self.jvm_pid]) - j, out)

    def check(self, stage: str, cold, digests: list) -> None:
        """The stage's output, collected on the cold pass, matches its
        DuckDB twin or its exact answer; every pass's digest is equal and
        counts the collected rows."""
        self.attempted += 1
        try:
            if cold is None or any(d is None for d in digests):
                raise AssertionError("no output to check: the stage failed")
            if len(set(digests)) != 1 or digests[0][0] != len(cold):
                raise AssertionError(f"digests differ across passes: "
                                     f"{set(digests)}, cold rows {len(cold)}")
            sql = self.wl.oracles.get(stage)
            if sql is not None:
                assert_frames_match(_Collected(cold),
                                    checks.duckdb_twin(sql, self.sf), stage)
            exact = self.wl.exact.get(stage)
            if exact is not None:
                bad = exact(cold, self.sf)
                if bad:
                    raise AssertionError("; ".join(bad))
        except Exception:
            self.fail(f"check {stage}: {traceback.format_exc(limit=3)}")


class _Collected:
    """A collected output in the shape assert_frames_match reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def session_conf(tmp: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # get_spark puts shuffle files on /dev/shm; a run reads and writes
        # only inside its checkout, so they go to the run directory
        "spark.local.dir": str(tmp / "local"),
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        # a fixed-size heap: peak RSS then does not depend on when the
        # collector chose to grow it. Compiler threads that never exit
        # keep their CPU out of the work's (spans.work_cpu_s).
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={tmp / 'jtmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (tmp / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{tmp / 'eventlog'}",
                     "spark.eventLog.rolling.enabled": "true",
                     # no zstd reader here: keep the log plain JSON lines
                     "spark.eventLog.compress": "false"})
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and its Python workers."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if _alive(p)]
        time.sleep(0.1)
    for p in kids:
        os.kill(p, 9)


def _alive(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spans: Spans, log: dict[str, dict]) -> dict[str, float]:
    """Per-stage medians over the traced passes, from spans + event log."""
    per: dict[tuple[str, str], list[float]] = {}
    for r in spans.records:
        if r.get("kind") not in ("build", "plan", "exec"):
            continue
        s, k = r["stage"], r["kind"]
        ev = log.get(f"span:{r['id']}", {})
        per.setdefault((s, f"{k}_s"), []).append(r["end"] - r["start"])
        if k == "build":
            per.setdefault((s, "jobs_build"), []).append(ev.get("jobs", 0))
        if k == "exec":
            per.setdefault((s, "shuffle_bytes"), []).append(
                ev.get("shuffle_bytes", 0))
            per.setdefault((s, "task_skew"), []).append(
                ev.get("task_skew", 1.0))
    return {f"{s}.{p}": median_or_zero(per.get((s, p), []))
            for s in ALL_STAGES for p in STAGE_PARTS}


def self_time_table(spans: Spans) -> list[str]:
    """Self time summed by layer: setup parts, and per stage the operator
    build, Catalyst plan, execution, and the benchmark's own glue."""
    selfs = spans.self_times()
    tot: dict[str, float] = {}
    for r in spans.records:
        key = {"build": "operators (build)", "plan": "catalyst (plan)",
               "exec": "execution", "stage": "benchmark glue",
               "pass": "benchmark glue" if r.get("traced")
               else "untraced passes"}.get(r.get("kind"), r["name"])
        tot[key] = tot.get(key, 0.0) + selfs[r["id"]]
    return [f"  {k:<24} {v:9.3f} s" for k, v in sorted(tot.items())]


def run(args) -> int:
    wl = WORKLOADS[args.workload]
    params = wl.params
    if args.scale != 1.0:
        # whole duplicate groups, which ann_exact relies on
        vectors = int(params.vectors * args.scale / params.vec_group)
        params = replace(params, pages=max(200, int(params.pages * args.scale)),
                         vectors=vectors * params.vec_group)
    traced = bool(args.trace)
    tmp = REPO / ".perfbench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    # Python workers import the engine by package name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(REPO)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    try:
        return _run(args, wl, params, traced, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, wl: Workload, params: gen.Params, traced: bool,
         tmp: Path) -> int:
    spans = Spans()
    spark = None
    try:
        with spans.span("sources.input_gen", kind="setup") as s_gen:
            sf = str(gen.generate(tmp / "input", params, args.seed))
        with spans.span("session.start", kind="setup") as s_sess:
            spark = get_spark(parallelism=CORES, app_name="perfbench",
                              extra_conf=session_conf(tmp, traced))
        if traced:
            spans.sc = spark.sparkContext
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle
                      .current().pid())
        r = Runner(wl, spark, sf, spans, jvm_pid)
        layout_bytes = 0
        with spans.span("sources.layout_write", kind="setup") as s_lay:
            if wl.layout:
                ensure_bucketed_pages(spark, sf, str(tmp / "layout"),
                                      table="perfbench_pages",
                                      n_buckets=LAYOUT_BUCKETS)
                activate_bucketed_pages(spark, "perfbench_pages", sf)
        if wl.layout:
            layout_bytes = dir_bytes(tmp / "layout")
        # without a layout the stored bytes are the generated input's
        stored = layout_bytes or sum(
            (Path(sf) / f).stat().st_size
            for f in ("documents.parquet", "embeddings.parquet"))

        # cold pass: the first pass in the fresh session. It collects each
        # output to the driver (the one-shot user's sink) for the checks,
        # and digests it like every warm pass does.
        cold_s, cold_cpu, cold_jvm, cold = r.run_pass(collect_sink,
                                                      traced=False)
        # one more warm-up pass: a pass's CPU settles by the third pass of
        # a session (the second still read 10-25% above the third)
        *_, settle = r.run_pass(checks.digest, traced=False)

        region_start = time.perf_counter()
        setup_s = work_cpu_s(jvm_pid)
        setup_wall = region_start - T_START
        warm: list[float] = []
        warm_cpu: list[float] = []
        warm_jvm: list[float] = []
        kinds: list[bool] = []
        digests = {stage: [cold[stage] and cold[stage][1], settle[stage]]
                   for stage in wl.stages}
        # traced runs interleave traced and untraced passes in the order
        # T U U T, so the tracing overhead is measured within one session
        # and a trend across passes falls on both sides equally
        min_passes = 4 if traced else MIN_WARM_PASSES
        while (len(warm) < min_passes
               or time.perf_counter() - region_start < args.seconds):
            kind = traced and len(warm) % 4 in (0, 3)
            dt, dc, dj, out = r.run_pass(checks.digest, traced=kind)
            warm_cpu.append(dc)
            warm_jvm.append(dj)
            for stage, d in out.items():
                digests[stage].append(d)
            warm.append(dt)
            kinds.append(kind)
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        rss = peak_rss_mb(jvm_pid, worker_slots=CORES)
        QX.release_caches()

        for stage in wl.stages:
            r.check(stage, cold[stage] and cold[stage][0], digests[stage])
        if wl.layout:
            deactivate_bucketed_pages(spark)
    finally:
        if spark is not None:
            stop_spark(spark)

    n = params.pages * len(wl.stages)
    untraced = [x for x, k in zip(warm, kinds) if not k]
    shown = {"wall.setup_s": setup_wall,
             "jvm.cold_cpu_s": cold_jvm,
             "jvm.pass_cpu_s": statistics.median(warm_jvm),
            "wall.cold_pass_s": cold_s,
            "wall.pass_p50_s": statistics.median(untraced),
            "wall.pages_per_s": n * len(untraced) / sum(untraced)}
    e2e = {"setup_s": setup_s, "cold_pass_cpu_s": cold_cpu,
           "pass_cpu_s": statistics.median(warm_cpu),
           "pages_per_cpu_s": n / statistics.median(warm_cpu),
           "peak_rss_mb": rss,
           "stored_bytes_per_page": stored / params.pages}
    print(f"workload {args.workload} seed {args.seed}: {params.pages} pages, "
          f"{len(wl.stages)} stages, {len(warm)} warm passes, wall "
          f"{[round(x, 3) for x in warm]} s, CPU "
          f"{[round(x, 3) for x in warm_cpu]} s; setup: " + ", ".join(
              f"{x['name']} {x['end'] - x['start']:.2f} s"
              for x in spans.records if x.get("kind") == "setup"))
    for k, v in {**e2e, **shown}.items():
        print(f"  {k:<24} {v:14.4f} {END_TO_END.get(k) or PER_LAYER[k]}")
    print(f"  {'error_rate':<24} {r.failed / r.attempted:14.4f} ratio "
          f"({r.failed} of {r.attempted} operations)")
    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if traced:
        log = parse_event_log(tmp / "eventlog")
        t_pps = [x for x, k in zip(warm, kinds) if k]
        layer = {
            "session.start_s": s_sess["end"] - s_sess["start"],
            "sources.input_gen_s": s_gen["end"] - s_gen["start"],
            "sources.layout_write_s": s_lay["end"] - s_lay["start"],
            "sources.layout_bytes": layout_bytes,
            **layer_metrics(spans, log),
            "cache.persisted_after": persisted,
            **shown,
            "trace.pages_per_s": n * len(t_pps) / sum(t_pps),
        }
        layer["trace.overhead"] = (layer["wall.pages_per_s"]
                                   / layer["trace.pages_per_s"] - 1.0)
        for rec in spans.records:
            rec["events"] = log.get(f"span:{rec['id']}")
        out = REPO / ".perfbench_out" / f"spans-{args.workload}-{args.seed}.json"
        spans.dump(out)
        print(f"not measured: {NOT_MEASURED}")
        print(f"self time by layer (spans in {out.relative_to(REPO)}):")
        print("\n".join(self_time_table(spans)))
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in PER_LAYER.items()}
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}))
    return 0 if r.failed == 0 else 1


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the tests' smoke runs)")
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
