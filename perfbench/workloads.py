"""The benchmark's workloads and the run that measures one of them.

A run is one process holding one driver JVM at ``local[CORES]``:

1. launch the JVM and generate the seeded input parquet (not timed);
2. set up ``SETUPS`` times: ``session.get_spark`` + a small query (+ the
   stream's preloaded graph and initial labels); ``setup_s`` is the median;
3. measure the last session for ``--seconds`` (at least one job or one
   open-loop pass);
4. with ``--trace 1``, repeat 2-3 with the event log on and every job
   tagged with its layer;
5. stop the JVM and verify every written result against the oracles.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sbm_communitydetection_spark.operators.components import connected_components
from sbm_communitydetection_spark.operators.extract import (
    actor_id,
    extract_edges,
    extract_graph,
    reply_edges,
    tool_edges,
)
from sbm_communitydetection_spark.operators.label_propagation import label_propagation
from sbm_communitydetection_spark.operators.pagerank import pagerank
from sbm_communitydetection_spark.operators.triangles import triangle_count
from sbm_communitydetection_spark.plans.iterate import unpersist_checkpoint
from sbm_communitydetection_spark.streaming.stream_driver import stream_community_detection

from . import oracles
from .engine import Engine
from .inputs import conv_id, generate_input, parquet_glob
from .openloop import ArrivalSchedule, OpenLoopResult, run_open_loop
from .spans import LAYER_UNITS, LAYERS, Tracer, layer_metrics, parse_event_log, tasks_by_group

CORES = min(4, os.cpu_count() or 1)
HEAP = "3g"  # driver heap; local mode runs every task inside this JVM
SETUPS = 5
PR_ITERS = 10
LPA_ITERS = 5
STREAM_SUPERSTEPS = 3  # stream_community_detection's supersteps_per_batch default
SBM = {"p_in": 0.9, "p_out": 0.1}


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch" or "stream"
    gen: dict  # generate_transcripts arguments; for a stream, m is the preload
    ops: tuple[str, ...] = ()  # batch layers after extract, in order
    broadcast_rows_threshold: int = 250_000  # pagerank / lpa argument
    rate: float = 0.0  # stream: offered conversations per second
    freshness_limit_s: float = 0.0  # stream: a slower conversation is a failed operation

    def stream_total(self, seconds: float) -> int:
        return max(1, int(self.rate * seconds))

    def gen_args(self, seconds: float) -> dict:
        g = {**SBM, **self.gen}
        if self.kind == "stream":
            g["m"] = self.gen["m"] + self.stream_total(seconds)
        return g


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "transcripts_etl",
            "batch",
            {"n": 200, "k": 10, "m": 60_000, "max_exchanges": 8},
            ops=("pagerank",),
        ),
        Workload(
            "graph_analytics",
            "batch",
            {"n": 5_000, "k": 100, "m": 12_500, "max_exchanges": 2},
            ops=("pagerank", "lpa", "components", "triangles"),
            # the 250k default scaled with the graph (1/80 of a 400k-agent
            # graph), so PageRank and LPA take the shuffle path
            broadcast_rows_threshold=3_125,
        ),
        Workload(
            "stream_refresh",
            "stream",
            {"n": 5_000, "k": 20, "m": 10_000, "max_exchanges": 4},
            rate=400.0,
            freshness_limit_s=30.0,
        ),
    )
}


@dataclass
class Phase:
    """What one session measured: job records (batch) or the open loop (stream)."""

    tracer: Tracer
    jobs: list[dict] = field(default_factory=list)
    stream: OpenLoopResult | None = None
    out_dir: str = ""  # stream: final edges and labels
    errors: list[str] = field(default_factory=list)
    event_log: str | None = None
    peak_rss_mb: float = 0.0
    setup_s: list[float] = field(default_factory=list)
    get_spark_s: list[float] = field(default_factory=list)
    # stream, per micro-batch, from the oracle: directed edge rows after it,
    # turns it read, raw reply + tool edge rows it extracted
    batch_edges: list[int] = field(default_factory=list)
    batch_turns: list[int] = field(default_factory=list)
    batch_raw_edges: list[int] = field(default_factory=list)


# --------------------------------------------------------------------------
# batch workloads
# --------------------------------------------------------------------------


def batch_job(spark: SparkSession, wl: Workload, tr: Tracer, src: str, out: str) -> dict:
    """extract → the workload's operators → result parquet. Each layer
    materializes its own output inside its span."""
    pr_steps: list[dict] = []
    lpa_steps: list[dict] = []
    tables = {}
    first_span = len(tr.spans)
    with tr.span("job"):
        with tr.span("extract"):
            vertices, edges = extract_graph(spark.read.parquet(src))
            vertices = vertices.localCheckpoint(eager=True)
            edges = edges.localCheckpoint(eager=True)
        with tr.span("pagerank"):
            tables["ranks"] = pagerank(
                spark,
                edges,
                vertices,
                tolerance=-1.0,
                max_iterations=PR_ITERS,
                broadcast_rows_threshold=wl.broadcast_rows_threshold,
                collect_metrics=pr_steps,
            )
        if "lpa" in wl.ops:
            with tr.span("lpa"):
                res = label_propagation(
                    spark,
                    edges,
                    max_iterations=LPA_ITERS,
                    variant="plain",
                    tolerance=-1.0,
                    broadcast_rows_threshold=wl.broadcast_rows_threshold,
                )
                tables["labels"] = res.state
                lpa_steps = res.metrics
        if "components" in wl.ops:
            with tr.span("components"):
                tables["components"] = connected_components(spark, edges).localCheckpoint(eager=True)
        if "triangles" in wl.ops:
            with tr.span("triangles"):
                tables["triangles"] = triangle_count(edges).localCheckpoint(eager=True)
        with tr.span("sink"):
            for name, df in tables.items():
                df.write.parquet(os.path.join(out, name))
    for df in [vertices, edges, *tables.values()]:
        unpersist_checkpoint(df)
    spans = {s.name: s.wall for s in tr.spans[first_span:]}
    return {
        "out": out,
        "job_s": spans["job"],
        "pagerank_s": spans["pagerank"],
        "lpa_s": spans.get("lpa", 0.0),
        "pr_steps": [m["wall_sec"] for m in pr_steps],
        "lpa_steps": [m["wall_sec"] for m in lpa_steps],
    }


def measure_batch(spark, wl: Workload, phase: Phase, src: str, out_root: str, seconds: float) -> None:
    """Run the job back to back until ``seconds`` have passed (at least once)."""
    t0 = time.perf_counter()
    while True:
        out = os.path.join(out_root, f"job{len(phase.jobs) + len(phase.errors)}")
        try:
            phase.jobs.append(batch_job(spark, wl, phase.tracer, src, out))
        except Exception as exc:  # a failed job is a failed operation
            phase.errors.append(f"{type(exc).__name__}: {exc}")
        if time.perf_counter() - t0 >= seconds:
            return


# --------------------------------------------------------------------------
# stream workload
# --------------------------------------------------------------------------


def preload(spark: SparkSession, wl: Workload, src: str):
    """The stream's starting state, both materialized: the preload
    conversations' edge table, and labels that put each agent in its
    planted block (tools start as singletons)."""
    turns = spark.read.parquet(src).filter(F.col("conv_id") < conv_id(wl.gen["m"]))
    edges = extract_edges(turns).localCheckpoint(eager=True)
    truth = spark.read.parquet(os.path.join(os.path.dirname(src), "truth")).select(
        actor_id(F.col("actor_key")).alias("id"), "label"
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .join(F.broadcast(truth), "id", "left")
        .select("id", F.coalesce("label", "id").alias("label"))
        .localCheckpoint(eager=True)
    )
    return edges, labels


def measure_stream(spark, wl: Workload, phase: Phase, src: str, out: str, seconds: float, state) -> None:
    tr = phase.tracer
    base = wl.gen["m"]
    cur = {"edges": state[0], "labels": state[1]}

    def micro_batch(b: int, lo: int, hi: int) -> None:
        with tr.span("micro_batch"):
            with tr.span("extract"):
                turns = spark.read.parquet(src).filter(
                    (F.col("conv_id") >= conv_id(base + lo)) & (F.col("conv_id") < conv_id(base + hi))
                )
                raw = (
                    reply_edges(turns)
                    .unionByName(tool_edges(turns))
                    .withColumn("edge_seq", F.lit(b).cast("long"))
                    .localCheckpoint(eager=True)
                )
            with tr.span("stream_driver"):
                res = stream_community_detection(
                    spark, raw, n_batches=1, initial_edges=cur["edges"], initial_labels=cur["labels"]
                )
        for df in (raw, cur["edges"], cur["labels"]):
            unpersist_checkpoint(df)
        cur["edges"], cur["labels"] = res.edges, res.labels

    phase.stream = run_open_loop(ArrivalSchedule(wl.rate, wl.stream_total(seconds)), micro_batch)
    with tr.span("sink"):
        cur["edges"].write.parquet(os.path.join(out, "edges"))
        cur["labels"].write.parquet(os.path.join(out, "labels"))
    phase.out_dir = out


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


def _setup(engine: Engine, wl: Workload, src: str, event_log_dir: str | None) -> tuple[float, float, object]:
    """One set-up in the running JVM: (wall, get_spark wall, stream state or None)."""
    t0 = time.perf_counter()
    spark = engine.start(event_log_dir)
    t1 = time.perf_counter()
    tr = Tracer("setup", spark.sparkContext if event_log_dir else None)
    with tr.span("setup"):
        spark.range(1000).selectExpr("sum(id)").collect()
        state = preload(spark, wl, src) if wl.kind == "stream" else None
    return time.perf_counter() - t0, t1 - t0, state


def run(wl: Workload, seed: int, seconds: float, trace: bool, root: str) -> dict:
    """Measure one workload; returns the raw record the report is made from.

    One JVM serves the whole run: it generates the input, then each pass
    sets up SETUPS times and measures its last session. ``trace`` adds a
    second pass, identical except that its measured session writes the
    event log and tags jobs with span names."""
    _remove_stale_work_dirs(root)
    work = os.path.join(root, f"run-{os.getpid()}")
    engine = Engine(work, CORES, HEAP)
    rec: dict = {"workload": wl.name, "seed": seed, "seconds": seconds, "trace": trace}
    try:
        try:
            t0 = time.perf_counter()
            engine.start()
            rec["launch_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            inp = os.path.join(work, "input")
            generate_input(engine.spark, inp, seed, wl.gen_args(seconds), wl.kind == "stream")
            src = os.path.join(inp, "transcripts")
            rec["input_s"] = time.perf_counter() - t0
            engine.stop()
            if trace:
                # the first pass sits where an untraced run measures; the
                # overhead compares the next two, both in a warmer JVM
                phases = [_pass(engine, wl, src, seconds, n, n != "warm") for n in ("traced", "warm", "traced-warm")]
            else:
                phases = [_pass(engine, wl, src, seconds, "untraced", False)]
        finally:
            engine.shutdown()
        rec["phases"] = phases
        t_verify = time.perf_counter()
        verify(wl, src, engine.work_dir, phases, rec)
        rec["verify_s"] = time.perf_counter() - t_verify
        if trace:
            rec["layers"] = traced_metrics(wl, phases, rec)
            write_trace(root, wl, seed, phases[0], rec)
    finally:
        engine.cleanup()
    return rec


def _remove_stale_work_dirs(root: str) -> None:
    """Delete work directories left by runs that were killed."""
    for name in os.listdir(root) if os.path.isdir(root) else []:
        if not name.startswith("run-"):
            continue
        try:
            os.kill(int(name[4:]), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def _pass(engine: Engine, wl: Workload, src: str, seconds: float, name: str, traced: bool) -> Phase:
    """Set up SETUPS times in the running JVM and measure the last session."""
    setup_s, get_spark_s = [], []
    log_dir = os.path.join(engine.work_dir, "eventlog", name) if traced else None
    for i in range(SETUPS):
        last = i == SETUPS - 1
        wall, gs, state = _setup(engine, wl, src, log_dir if last else None)
        setup_s.append(wall)
        get_spark_s.append(gs)
        if last:
            phase = _measure(engine, wl, src, seconds, name, traced, state)
        engine.stop()
    phase.setup_s, phase.get_spark_s = setup_s, get_spark_s
    if log_dir is not None:
        logs = os.listdir(log_dir)
        phase.event_log = os.path.join(log_dir, logs[0]) if len(logs) == 1 else None
    return phase


def _measure(engine: Engine, wl: Workload, src: str, seconds: float, name: str, traced: bool, state) -> Phase:
    spark = engine.spark
    phase = Phase(Tracer(f"{wl.name}-{name}", spark.sparkContext if traced else None))
    out = os.path.join(engine.work_dir, "out", name)
    engine.reset_peak_rss()
    if wl.kind == "batch":
        measure_batch(spark, wl, phase, src, out, seconds)
    else:
        measure_stream(spark, wl, phase, src, out, seconds, state)
    phase.peak_rss_mb = engine.peak_rss_mb()
    return phase


# --------------------------------------------------------------------------
# verification and metrics (after the JVM is gone)
# --------------------------------------------------------------------------


def _absorbed_filter(wl: Workload, res: OpenLoopResult, upto: int) -> str:
    """SQL predicate selecting the preload plus every conversation that one
    of the first ``upto`` micro-batches absorbed successfully."""
    parts = [f"conv_id < '{conv_id(wl.gen['m'])}'"]
    for b in res.batches[:upto]:
        if b.error is None:
            lo, hi = conv_id(wl.gen["m"] + b.lo), conv_id(wl.gen["m"] + b.hi)
            parts.append(f"(conv_id >= '{lo}' AND conv_id < '{hi}')")
    return " OR ".join(parts)


def verify(wl: Workload, src: str, work: str, phases: list[Phase], rec: dict) -> None:
    """Check each written result against the oracles; sets rec['errors'],
    rec['attempted'], rec['failed'] and the oracle sizes the metrics need."""
    tmp = os.path.join(work, "duckdb")
    os.makedirs(tmp, exist_ok=True)
    con = oracles.connect(CORES, "2GB", tmp)
    try:
        check = _verify_batch if wl.kind == "batch" else _verify_stream
        rec["attempted"], rec["failed"], rec["errors"] = check(con, wl, parquet_glob(src), phases, rec)
    finally:
        con.close()


def _verify_batch(con, wl: Workload, glob: str, phases: list[Phase], rec: dict):
    rec["edges"] = oracles.register_oracle_edges(con, glob)
    rec["turns"] = con.execute(f"SELECT COUNT(*) FROM read_parquet('{glob}')").fetchone()[0]
    rec["convs"] = wl.gen["m"]
    want = {"ranks": oracles.oracle_pagerank(con, PR_ITERS)}
    if "lpa" in wl.ops:
        want["labels"] = oracles.oracle_labels(con, LPA_ITERS)
    if "components" in wl.ops:
        want["components"] = oracles.oracle_components(con)
    if "triangles" in wl.ops:
        want["triangles"] = oracles.oracle_triangles(con)
    checks = {
        "ranks": oracles.check_pagerank,
        "labels": oracles.check_labels,
        "components": oracles.check_components,
        "triangles": oracles.check_triangles,
    }
    attempted = failed = 0
    errors: list[str] = []
    for ph in phases:
        attempted += len(ph.jobs) + len(ph.errors)
        failed += len(ph.errors)
        errors.extend(ph.errors)
        for job in ph.jobs:
            errs = [
                e for name, w in want.items() if (e := checks[name](w, pq.read_table(os.path.join(job["out"], name))))
            ]
            failed += bool(errs)
            errors.extend(errs)
    return attempted, failed, errors


def _verify_stream(con, wl: Workload, glob: str, phases: list[Phase], rec: dict):
    attempted = failed = 0
    errors: list[str] = []
    for ph in phases:
        res = ph.stream
        attempted += sum(b.hi - b.lo for b in res.batches)
        late = sum(f > wl.freshness_limit_s for f in res.freshness)
        failed += res.failed + late
        errors.extend(b.error for b in res.batches if b.error)
        # directed edge rows after each micro-batch (the throughput metric);
        # the last leaves the oracle table of everything absorbed in place
        ph.batch_edges = [
            oracles.register_oracle_edges(con, glob, _absorbed_filter(wl, res, k + 1))
            for k in range(len(res.batches))
        ]
        err = oracles.check_edges(con, pq.read_table(os.path.join(ph.out_dir, "edges")))
        if err is None:
            err = _check_stream_labels(con, pq.read_table(os.path.join(ph.out_dir, "labels")))
        if err is not None:
            errors.append(err)
            failed += sum(b.hi - b.lo for b in res.batches if b.error is None) - late
        ph.batch_turns, ph.batch_raw_edges = _stream_batch_counts(con, glob, wl, res)
    return attempted, failed, errors


def _check_stream_labels(con, labels) -> str | None:
    con.register("got_labels", labels.select(["id"]))
    try:
        missing, extra = con.execute(
            """SELECT
    (SELECT COUNT(*) FROM (SELECT DISTINCT src FROM edges EXCEPT SELECT id FROM got_labels)),
    (SELECT COUNT(*) FROM (SELECT id FROM got_labels EXCEPT SELECT DISTINCT src FROM edges))"""
        ).fetchone()
        dup = con.execute("SELECT COUNT(*) - COUNT(DISTINCT id) FROM got_labels").fetchone()[0]
    finally:
        con.unregister("got_labels")
    if missing or extra or dup:
        return f"stream labels: {missing} vertices unlabeled, {extra} labels for unknown ids, {dup} duplicates"
    return None


def _stream_batch_counts(con, glob: str, wl: Workload, res: OpenLoopResult) -> tuple[list[int], list[int]]:
    """Per micro-batch: turns read and raw reply + tool edge rows emitted."""
    turns, raw = [], []
    for b in res.batches:
        lo, hi = conv_id(wl.gen["m"] + b.lo), conv_id(wl.gen["m"] + b.hi)
        n, convs, tools = con.execute(
            f"SELECT COUNT(*), COUNT(DISTINCT conv_id), COUNT(tool) FROM read_parquet('{glob}') "
            f"WHERE conv_id >= '{lo}' AND conv_id < '{hi}'"
        ).fetchone()
        turns.append(n)
        raw.append(n - convs + tools)
    return turns, raw


def _q(values: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def end_to_end(wl: Workload, rec: dict) -> dict[str, float]:
    """The end-to-end metrics of an untraced run (see README.md for definitions)."""
    ph = rec["phases"][0]
    out = {"setup_s": statistics.median(ph.setup_s), "peak_rss_mb": ph.peak_rss_mb}
    if wl.kind == "batch":
        walls = [j["job_s"] for j in ph.jobs]
        fresh = np.repeat(walls, rec["convs"])
        supersteps = PR_ITERS + (LPA_ITERS if "lpa" in wl.ops else 0)
        iter_wall = sum(j["pagerank_s"] + j["lpa_s"] for j in ph.jobs)
        out["job_s"] = statistics.median(walls)
        out["pr_lpa_edges_per_s"] = rec["edges"] * supersteps * len(ph.jobs) / iter_wall
        rec["samples"] = {"job_s": len(walls), "freshness": len(fresh)}
    else:
        res = ph.stream
        walls = ph.tracer.walls("micro_batch")
        driver = ph.tracer.walls("stream_driver")
        fresh = res.freshness
        ok = [k for k, b in enumerate(res.batches) if b.error is None]
        out["job_s"] = statistics.median(walls)
        out["pr_lpa_edges_per_s"] = (
            sum(ph.batch_edges[k] for k in ok) * STREAM_SUPERSTEPS / sum(driver) if driver else 0.0
        )
        rec["samples"] = {"job_s": len(walls), "freshness": len(fresh)}
    out["freshness_p50_s"] = _q(fresh, 50)
    out["freshness_p99_s"] = _q(fresh, 99)
    return out


STREAM_LAYER_METRICS = (
    "stream_driver.batch_s_p50",
    "stream_driver.batch_convs_p50",
    "stream_driver.backlog_max_convs",
    "stream_driver.busy_ratio",
    "stream.generator_lag_s",
)


def traced_metrics(wl: Workload, phases: list[Phase], rec: dict) -> dict[str, float]:
    """Per-layer numbers from the first traced phase, per job (batch) or per
    micro-batch (stream); layers the workload does not run read 0."""
    traced, warm, traced_warm = phases
    out: dict[str, float] = {}
    log = parse_event_log(traced.event_log) if traced.event_log else None
    rec["tasks_by_group"] = tasks_by_group(log) if log else {}
    if wl.kind == "batch":
        per = len(traced.jobs)
        job_name = "job"
    else:
        per = len(traced.stream.batches)
        job_name = "micro_batch"
    for layer in LAYERS:
        vals = layer_metrics(log, traced.tracer.spans, layer, per) if log else {k: 0.0 for k in LAYER_UNITS}
        out.update({f"{layer}.{k}": v for k, v in vals.items()})
    pr_steps = [s for j in traced.jobs for s in j["pr_steps"]]
    lpa_steps = [s for j in traced.jobs for s in j["lpa_steps"]]
    out["pagerank.superstep_p50_s"] = _q(pr_steps, 50)
    out["lpa.superstep_p50_s"] = _q(lpa_steps, 50)
    out["iterate.supersteps"] = (len(pr_steps) + len(lpa_steps)) / max(per, 1)
    if wl.kind == "batch":
        out["extract.turns_in"] = float(rec["turns"])
        out["extract.edges_out"] = float(rec["edges"])
        stream = dict.fromkeys(STREAM_LAYER_METRICS, 0.0)
    else:
        res = traced.stream
        out["extract.turns_in"] = statistics.mean(traced.batch_turns)
        out["extract.edges_out"] = statistics.mean(traced.batch_raw_edges)
        stream = {
            "stream_driver.batch_s_p50": _q(traced.tracer.walls("micro_batch"), 50),
            "stream_driver.batch_convs_p50": _q([b.hi - b.lo for b in res.batches], 50),
            "stream_driver.backlog_max_convs": float(max(b.backlog for b in res.batches)),
            "stream_driver.busy_ratio": sum(b.end - b.start for b in res.batches) / res.wall_s,
            "stream.generator_lag_s": res.generator_lag_s,
        }
    out.update(stream)
    out["session.launch_s"] = rec["launch_s"]
    out["session.get_spark_s"] = statistics.median(traced.get_spark_s)
    out["trace.job_s"] = statistics.median(traced.tracer.walls(job_name))
    out["trace.overhead_s"] = statistics.median(traced_warm.tracer.walls(job_name)) - statistics.median(
        warm.tracer.walls(job_name)
    )
    return out


def write_trace(root: str, wl: Workload, seed: int, phase: Phase, rec: dict) -> None:
    """Spans and per-layer metrics of the traced phase, written at exit."""
    d = os.path.join(root, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{wl.name}-s{seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": wl.name,
                "seed": seed,
                "spans": phase.tracer.dump(),
                "layers": rec["layers"],
                "tasks_by_group": rec["tasks_by_group"],
            },
            f,
            indent=1,
        )
    rec["trace_file"] = path
