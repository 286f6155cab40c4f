"""Tests of the benchmark itself: inputs, oracles, open loop, attribution.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import oracles  # noqa: E402
from perfbench.openloop import ArrivalSchedule, run_open_loop  # noqa: E402
from perfbench.report import END_TO_END_UNITS, layer_units  # noqa: E402
from perfbench.spans import Tracer, layer_metrics, parse_event_log, tasks_by_group  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
TINY = {"n": 24, "k": 3, "m": 60, "p_in": 0.9, "p_out": 0.1, "max_exchanges": 3}


# --------------------------------------------------------------------------
# metric names
# --------------------------------------------------------------------------


def test_metric_names_are_well_formed_and_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == END_TO_END_UNITS
    assert per_layer == layer_units()
    for name in [*e2e, *per_layer, *(w["name"] for w in spec["workloads"])]:
        assert NAME.fullmatch(name), name
        assert len(name) <= 64


# --------------------------------------------------------------------------
# oracles (no Spark)
# --------------------------------------------------------------------------


@pytest.fixture()
def con(tmp_path):
    c = oracles.connect(2, "512MB", str(tmp_path))
    # two triangles sharing edge (1, 2) plus a separate edge (7, 8)
    und = [(1, 2, 3), (2, 3, 1), (1, 3, 2), (2, 4, 1), (1, 4, 5), (7, 8, 2)]
    rows = und + [(d, s, w) for s, d, w in und]
    c.register("e", pa.table({"src": [r[0] for r in rows], "dst": [r[1] for r in rows], "weight": [r[2] for r in rows]}))
    c.execute("CREATE TABLE edges AS SELECT src::BIGINT AS src, dst::BIGINT AS dst, weight::BIGINT AS weight FROM e")
    yield c
    c.close()


def _table(ids, name, vals) -> pa.Table:
    return pa.table({"id": pa.array(ids, pa.int64()), name: vals})


def test_pagerank_check_accepts_oracle_and_rejects_perturbed_rank(con):
    ids, ranks = want = oracles.oracle_pagerank(con, 10)
    assert abs(ranks.sum() - 1.0) < 1e-12
    order = np.random.default_rng(0).permutation(len(ids))
    assert oracles.check_pagerank(want, _table(ids[order], "rank", ranks[order])) is None
    bad = ranks.copy()
    bad[2] *= 1 + 1e-4
    assert "pagerank" in oracles.check_pagerank(want, _table(ids, "rank", bad))
    assert oracles.check_pagerank(want, _table(ids[1:], "rank", ranks[1:])) is not None


def test_labels_components_triangles_checks(con):
    want_l = oracles.oracle_labels(con, 5)
    assert oracles.check_labels(want_l, _table(*want_l[:1], "label", want_l[1])) is None
    flipped = want_l[1].copy()
    flipped[0] = 12345
    assert oracles.check_labels(want_l, _table(want_l[0], "label", flipped)) is not None

    ids, comp = want_c = oracles.oracle_components(con)
    assert dict(zip(ids.tolist(), comp.tolist())) == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}
    assert oracles.check_components(want_c, _table(ids, "component", comp)) is None
    assert oracles.check_components(want_c, _table(ids, "component", np.where(ids == 8, 8, comp))) is not None

    assert oracles.oracle_triangles(con) == 2
    assert oracles.check_triangles(2, pa.table({"triangles": [2]})) is None
    assert oracles.check_triangles(2, pa.table({"triangles": [3]})) is not None


def test_edge_check_rejects_dropped_edge_and_doubled_weights(con):
    got = con.execute("SELECT src, dst, weight FROM edges").fetch_arrow_table()
    assert oracles.check_edges(con, got) is None
    assert oracles.check_edges(con, got.slice(1)) is not None
    doubled = got.set_column(2, "weight", pa.compute.multiply(got["weight"], 2))
    assert oracles.check_edges(con, doubled) is not None


def test_oracle_edges_from_raw_transcripts(tmp_path):
    """Reply links follow turn order inside a conversation; tool turns link
    to the tool actor; self-replies vanish; both directions carry the sum."""
    turns = pa.table(
        {
            "conv_id": ["c1", "c1", "c1", "c2", "c2", "c3"],
            "turn_idx": pa.array([1, 0, 2, 0, 1, 0], pa.int32()),
            "role": ["b", "a", "a", "a", "a", "b"],
            "tool": [None, "t", None, None, None, None],
            "text": [""] * 6,
        }
    )
    pq.write_table(turns, tmp_path / "t.parquet")
    c = oracles.connect(1, "256MB", str(tmp_path))
    assert oracles.register_oracle_edges(c, str(tmp_path / "*.parquet")) == 4
    a, b, t = oracles.spark_xxhash64(["a", "b", "tool:t"])
    got = {(s, d): w for s, d, w in c.execute("SELECT * FROM edges").fetchall()}
    assert got == {(a, b): 2, (b, a): 2, (a, t): 1, (t, a): 1}
    c.close()


def test_xxhash64_known_vectors():
    # XXH64 reference values for the empty input and "abc" with seed 0
    assert oracles.spark_xxhash64([""], seed=0)[0] == np.uint64(0xEF46DB3751D8E999).astype(np.int64)
    assert oracles.spark_xxhash64(["abc"], seed=0)[0] == np.uint64(0x44BC2CF5AD770999).astype(np.int64)


# --------------------------------------------------------------------------
# open loop (fake clock, no Spark)
# --------------------------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self) -> float:
        return self.now

    def sleep(self, dt: float) -> None:
        self.now += dt


def _open_loop(batch_cost: float):
    clock = FakeClock()
    sched = ArrivalSchedule(rate=100.0, total=300)
    before = [sched.due(i) for i in range(sched.total)]
    seen = []

    def process(b, lo, hi):
        seen.append((lo, hi))
        clock.sleep(batch_cost)

    res = run_open_loop(sched, process, clock=clock, sleep=clock.sleep)
    assert [sched.due(i) for i in range(sched.total)] == before
    assert seen[0][0] == 0 and seen[-1][1] == sched.total
    assert all(a[1] == b[0] for a, b in zip(seen, seen[1:]))
    assert len(res.freshness) == sched.total and res.failed == 0
    return res, seen


def test_slow_batches_grow_freshness_not_the_schedule():
    fast, fast_batches = _open_loop(0.05)
    slow, slow_batches = _open_loop(1.0)
    assert np.median(slow.freshness) > 5 * np.median(fast.freshness)
    assert max(slow.freshness) >= 1.0
    # the same arrivals, absorbed in fewer, larger batches
    assert len(slow_batches) < len(fast_batches)
    assert max(b.backlog for b in slow.batches) > max(b.backlog for b in fast.batches)


def test_failed_batch_counts_its_conversations():
    clock = FakeClock()
    sched = ArrivalSchedule(rate=10.0, total=20)

    def process(b, lo, hi):
        clock.sleep(0.5)
        if b == 1:
            raise RuntimeError("boom")

    res = run_open_loop(sched, process, clock=clock, sleep=clock.sleep)
    bad = res.batches[1]
    assert bad.error and res.failed == bad.hi - bad.lo
    assert len(res.freshness) + res.failed == sched.total


# --------------------------------------------------------------------------
# Spark: inputs, id parity, job-group attribution
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def engine(tmp_path_factory):
    from perfbench.engine import Engine

    eng = Engine(str(tmp_path_factory.mktemp("work")), cores=2, heap="1g")
    eng.start()
    yield eng
    eng.shutdown()


def _read_sorted(path: str) -> pa.Table:
    return pq.read_table(path).sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])


def test_same_seed_gives_identical_input(engine, tmp_path):
    from perfbench.inputs import generate_input

    a = generate_input(engine.spark, str(tmp_path / "a"), 7, TINY, stream=True)
    b = generate_input(engine.spark, str(tmp_path / "b"), 7, TINY, stream=True)
    c = generate_input(engine.spark, str(tmp_path / "c"), 8, TINY, stream=True)
    ta, tb, tc = (_read_sorted(os.path.join(p, "transcripts")) for p in (a, b, c))
    assert ta.num_rows > 0 and ta.equals(tb)
    assert not ta.equals(tc)
    assert pq.read_table(os.path.join(a, "truth")).sort_by("actor_key").equals(
        pq.read_table(os.path.join(b, "truth")).sort_by("actor_key")
    )


def test_oracle_ids_and_edges_match_the_engine(engine, tmp_path):
    from pyspark.sql import functions as F

    from perfbench.inputs import generate_input
    from sbm_communitydetection_spark.operators.extract import extract_edges

    d = generate_input(engine.spark, str(tmp_path), 3, TINY)
    src = os.path.join(d, "transcripts")
    keys = [r[0] for r in engine.spark.read.parquet(src).select("role").distinct().collect()] + ["tool:tool_00"]
    want = engine.spark.createDataFrame([(k,) for k in keys], "k string").select(F.xxhash64("k").alias("h"))
    assert sorted(oracles.spark_xxhash64(keys).tolist()) == sorted(r.h for r in want.collect())

    extract_edges(engine.spark.read.parquet(src)).write.parquet(str(tmp_path / "edges"))
    c = oracles.connect(1, "256MB", str(tmp_path))
    oracles.register_oracle_edges(c, os.path.join(src, "*.parquet"))
    assert oracles.check_edges(c, pq.read_table(tmp_path / "edges")) is None
    c.close()


def test_layer_task_counts_sum_to_the_run_total(engine, tmp_path):
    from sbm_communitydetection_spark.operators.pagerank import pagerank

    log_dir = str(tmp_path / "eventlog")
    engine.stop()
    spark = engine.start(log_dir)  # a traced session, as in a --trace 1 run
    tr = Tracer("t", spark.sparkContext)
    with tr.span("job"):
        with tr.span("extract"):
            edges = spark.createDataFrame([(i, (i + 1) % 30, 1) for i in range(30)], "src long, dst long, weight long")
            edges = edges.unionByName(edges.selectExpr("dst as src", "src as dst", "weight")).localCheckpoint(eager=True)
        with tr.span("pagerank"):
            pagerank(spark, edges, tolerance=-1.0, max_iterations=3).count()
        with tr.span("sink"):
            edges.write.parquet(str(tmp_path / "out"))
    engine.stop()  # closes the event log
    logs = os.listdir(log_dir)
    assert len(logs) == 1
    log = parse_event_log(os.path.join(log_dir, logs[0]))
    by_group = tasks_by_group(log)
    assert sum(by_group.values()) == len(log.tasks) > 0
    assert "unassigned" not in by_group
    for layer in ("extract", "pagerank", "sink"):
        m = layer_metrics(log, tr.spans, layer, per=1)
        assert m["tasks"] == by_group[layer] > 0
        assert m["jobs"] >= 1 and 0 <= m["driver_idle_s"] <= m["wall_s"]
    assert sum(layer_metrics(log, tr.spans, g, per=1)["tasks"] for g in by_group) == len(log.tasks)
