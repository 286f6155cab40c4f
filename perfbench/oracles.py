"""Independent oracles for the benchmark's output verification.

Everything here runs outside the timed region, on the parquet the engine
read and the parquet it wrote, without Spark: DuckDB re-derives the edge
table from the raw transcripts and numpy / SQL recompute each algorithm.

Vertex ids are Spark's ``xxhash64(actor_key)`` (seed 42), so the oracle
recomputes them with a vectorized XXH64 over the key bytes rather than
trusting the engine's id column.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pyarrow as pa

from sbm_communitydetection_spark.functions.sql_oracles import (
    lpa_unrolled_sql,
    triangle_count_sql,
)

_P1 = np.uint64(11400714785074694791)
_P2 = np.uint64(14029467366897019727)
_P3 = np.uint64(1609587929392839161)
_P4 = np.uint64(9650029242287828579)
_P5 = np.uint64(2870177450012600261)
SPARK_HASH_SEED = 42
TOOL_PREFIX = "tool:"


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxh64_fixed(buf: np.ndarray, seed: int) -> np.ndarray:
    """XXH64 of each row of an (n, L) uint8 array, L < 32."""
    n, length = buf.shape
    h = np.full(n, (seed + int(_P5) + length) % (1 << 64), dtype=np.uint64)
    p = 0
    while p + 8 <= length:
        k = np.ascontiguousarray(buf[:, p : p + 8]).view("<u8").ravel()
        k = _rotl(k * _P2, 31) * _P1
        h = _rotl(h ^ k, 27) * _P1 + _P4
        p += 8
    if p + 4 <= length:
        k = np.ascontiguousarray(buf[:, p : p + 4]).view("<u4").ravel().astype(np.uint64)
        h = _rotl(h ^ (k * _P1), 23) * _P2 + _P3
        p += 4
    while p < length:
        h = _rotl(h ^ (buf[:, p].astype(np.uint64) * _P5), 11) * _P1
        p += 1
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def spark_xxhash64(keys: list[str], seed: int = SPARK_HASH_SEED) -> np.ndarray:
    """int64 ids equal to Spark's ``xxhash64(key)`` for each UTF-8 key shorter than 32 bytes."""
    raw = [k.encode("utf-8") for k in keys]
    out = np.empty(len(raw), dtype=np.int64)
    by_len: dict[int, list[int]] = {}
    for i, b in enumerate(raw):
        if len(b) >= 32:
            raise ValueError(f"actor key too long for the oracle hash: {keys[i]!r}")
        by_len.setdefault(len(b), []).append(i)
    with np.errstate(over="ignore"):
        for length, idx in by_len.items():
            if length == 0:
                buf = np.zeros((len(idx), 0), dtype=np.uint8)
            else:
                buf = np.frombuffer(b"".join(raw[i] for i in idx), dtype=np.uint8).reshape(-1, length)
            out[idx] = _xxh64_fixed(buf, seed).view(np.int64)
    return out


def connect(threads: int, memory_limit: str, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET memory_limit = '{memory_limit}'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def register_oracle_edges(
    con: duckdb.DuckDBPyConnection, transcripts_glob: str, conv_filter: str = "TRUE"
) -> int:
    """Create table ``edges(src, dst, weight)``: the symmetrized, summed,
    self-loop-free reply ∪ tool edge table of the matching conversations,
    derived from the raw transcripts. Returns its row count."""
    src = f"(SELECT conv_id, turn_idx, role, tool FROM read_parquet('{transcripts_glob}') WHERE {conv_filter})"
    keys = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT role FROM {src} UNION SELECT DISTINCT '{TOOL_PREFIX}' || tool FROM {src} "
            "WHERE tool IS NOT NULL"
        ).fetchall()
    ]
    ids = pa.table({"key": keys, "id": spark_xxhash64(keys)})
    con.register("actor_ids", ids)
    # raw edges are materialized first: with the src <> dst filter in the
    # same query the optimizer turns it into a join condition between the
    # two id lookups and builds a near-cross product
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE raw_edges AS
WITH t AS {src},
r AS (SELECT role, LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev FROM t)
SELECT a.id AS src, b.id AS dst FROM r
JOIN actor_ids a ON a.key = r.role JOIN actor_ids b ON b.key = r.prev
WHERE r.prev IS NOT NULL
UNION ALL
SELECT a.id, b.id FROM t
JOIN actor_ids a ON a.key = t.role JOIN actor_ids b ON b.key = '{TOOL_PREFIX}' || t.tool
WHERE t.tool IS NOT NULL"""
    )
    con.execute(
        """CREATE OR REPLACE TABLE edges AS
WITH loopless AS (SELECT src, dst FROM raw_edges WHERE src <> dst)
SELECT src, dst, COUNT(*)::BIGINT AS weight
FROM (SELECT src, dst FROM loopless UNION ALL SELECT dst AS src, src AS dst FROM loopless)
GROUP BY src, dst"""
    )
    con.execute("DROP TABLE raw_edges")
    con.unregister("actor_ids")
    return con.execute("SELECT COUNT(*) FROM edges").fetchone()[0]


def _edge_arrays(con: duckdb.DuckDBPyConnection):
    t = con.execute("SELECT src, dst, weight FROM edges").fetch_arrow_table()
    src = t["src"].to_numpy()
    dst = t["dst"].to_numpy()
    w = t["weight"].to_numpy().astype(np.float64)
    ids = np.unique(np.concatenate([src, dst]))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst), w


def _by_id(ids: np.ndarray, got_ids: np.ndarray, got_vals: np.ndarray, what: str):
    """Align an engine result (id → value) to the oracle's sorted id array."""
    if len(got_ids) != len(ids) or len(np.unique(got_ids)) != len(got_ids):
        return None, f"{what}: {len(got_ids)} rows for {len(ids)} oracle vertices"
    order = np.argsort(got_ids)
    if not np.array_equal(got_ids[order], ids):
        return None, f"{what}: vertex ids differ from the oracle's"
    return got_vals[order], None


def oracle_pagerank(con, iterations: int, damping: float = 0.85) -> tuple[np.ndarray, np.ndarray]:
    """Fixed-iteration power iteration over ``edges`` (symmetric, so no
    dangling mass): (sorted ids, ranks)."""
    ids, s, d, w = _edge_arrays(con)
    n = len(ids)
    out_w = np.bincount(s, weights=w, minlength=n)
    frac = w / out_w[s]
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        r = (1.0 - damping) / n + damping * np.bincount(d, weights=r[s] * frac, minlength=n)
    return ids, r


def check_pagerank(want: tuple[np.ndarray, np.ndarray], got: pa.Table, rtol: float = 1e-6) -> str | None:
    ids, ranks = want
    vals, err = _by_id(ids, got["id"].to_numpy(), got["rank"].to_numpy(), "pagerank")
    if err:
        return err
    if not np.allclose(vals, ranks, rtol=rtol, atol=0.0):
        worst = int(np.argmax(np.abs(vals - ranks) / ranks))
        return f"pagerank: id {ids[worst]} rank {vals[worst]!r} != oracle {ranks[worst]!r}"
    return None


def materialized(ctes: str) -> str:
    """Mark each top-level CTE of an unrolled oracle chain MATERIALIZED:
    every superstep reads the previous one twice, so inlining them would
    grow the plan as 2^iterations."""
    return re.sub(r"(?m)^(\w+) AS \(", r"\1 AS MATERIALIZED (", ctes)


def oracle_labels(con, iterations: int) -> tuple[np.ndarray, np.ndarray]:
    """Plain synchronous LPA by the unrolled-SQL oracle: (sorted ids, labels)."""
    t = con.execute(f"WITH {materialized(lpa_unrolled_sql(iterations))}").fetch_arrow_table().sort_by("id")
    return t["id"].to_numpy(), t["label"].to_numpy()


def check_labels(want: tuple[np.ndarray, np.ndarray], got: pa.Table) -> str | None:
    ids, labels = want
    vals, err = _by_id(ids, got["id"].to_numpy(), got["label"].to_numpy(), "lpa")
    if err:
        return err
    bad = int(np.count_nonzero(vals != labels))
    return f"lpa: {bad} labels differ from the unrolled-SQL oracle" if bad else None


def oracle_components(con) -> tuple[np.ndarray, np.ndarray]:
    """(sorted ids, min id of each vertex's component) by min-label
    propagation with pointer jumping."""
    ids, s, d, _ = _edge_arrays(con)
    parent = np.arange(len(ids))
    while True:
        nxt = parent.copy()
        np.minimum.at(nxt, s, parent[d])
        nxt = nxt[nxt]
        if np.array_equal(nxt, parent):
            return ids, ids[parent]
        parent = nxt


def check_components(want: tuple[np.ndarray, np.ndarray], got: pa.Table) -> str | None:
    ids, comp = want
    vals, err = _by_id(ids, got["id"].to_numpy(), got["component"].to_numpy(), "components")
    if err:
        return err
    bad = int(np.count_nonzero(vals != comp))
    return f"components: {bad} vertices in a different component than the oracle's" if bad else None


def oracle_triangles(con) -> int:
    return con.execute(f"WITH {materialized(triangle_count_sql())}").fetchone()[0]


def check_triangles(want: int, got: pa.Table) -> str | None:
    n = got["triangles"].to_pylist()
    return None if n == [want] else f"triangles: {n} != oracle [{want}]"


def check_edges(con, got: pa.Table) -> str | None:
    """The engine's accumulated edge table equals ``edges`` row for row, weights included."""
    con.register("got_edges", got.select(["src", "dst", "weight"]))
    try:
        extra, missing = con.execute(
            """SELECT
    (SELECT COUNT(*) FROM (SELECT src, dst, weight FROM got_edges EXCEPT ALL SELECT src, dst, weight FROM edges)),
    (SELECT COUNT(*) FROM (SELECT src, dst, weight FROM edges EXCEPT ALL SELECT src, dst, weight FROM got_edges))"""
        ).fetchone()
    finally:
        con.unregister("got_edges")
    if extra or missing:
        return f"edges: {extra} rows not in the oracle table, {missing} oracle rows missing"
    return None
