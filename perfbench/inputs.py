"""Seeded transcript inputs, generated at the start of every run into the
run's work directory.

Generation runs in the run's JVM before any timed set-up and is excluded
from every metric; the engine only ever reads the parquet. Inputs are not
cached, so every run does the same work in the same order whether or not
its seed has been seen before.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sbm_communitydetection_spark.sources.transcripts import generate_transcripts


def conv_id(i: int) -> str:
    """The transcript ``conv_id`` of the conversation with edge sequence ``i``."""
    return f"c{i:09d}"


def generate_input(spark: SparkSession, path: str, seed: int, gen: dict, stream: bool = False) -> str:
    """Write ``<path>/transcripts`` and return ``path``.

    ``gen`` holds ``generate_transcripts`` arguments (n, k, m, p_in, p_out,
    max_exchanges). For a ``stream`` input the rows are written in
    (conv_id, turn_idx) order, so that a conv_id range read prunes files
    and row groups, and ``<path>/truth(actor_key, label)`` holds the planted
    block of every agent."""
    turns, truth, _ = generate_transcripts(spark, seed=seed, **gen)
    if stream:
        turns = turns.orderBy("conv_id", "turn_idx")
        truth.select(
            F.format_string("agent_%06d", F.col("id")).alias("actor_key"), F.col("label").cast("long")
        ).write.parquet(os.path.join(path, "truth"))
    turns.write.parquet(os.path.join(path, "transcripts"))
    return path


def parquet_glob(path: str) -> str:
    return os.path.join(path, "*.parquet")
