"""Streaming fleet poll: the reference's cron-like poll cycle as a stream.

The reference's operating model (SURVEY.md §2.7): every pipeline run is one
micro-batch that re-polls the whole fleet and overwrites per-device state.
Structured Streaming expresses the schedule natively — a ``rate`` source
emits one tick per poll interval; each tick fans out to the (broadcast)
fleet inventory; the same probe loop as the batch fetch stage
(`sources/fetch.py::probe`) probes devices partition-parallel with
offline-defaults; results flow to the last-value-wins state sink
(`streaming/sink.py`) or any downstream windowed aggregation.

This replaces the candidate "DataSourceV2 device-poll source" from
SURVEY.md §4 with pure composition — rate source + broadcast join + Python
stage — no custom connector needed, and every piece is independently
testable in batch.

Scale: ticks are one row each; the fan-out join is a broadcast of the
fleet dimension; concurrency per micro-batch = shuffle partitions × rows
per partition, so a 100k-device fleet polls with whatever parallelism the
cluster has, not one device at a time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.fetch import Transport, probe


def poll_ticks(spark: SparkSession, interval_seconds: int = 60) -> DataFrame:
    """One row per poll cycle (streaming): a 1 Hz rate source filtered to
    whole-interval seconds. Tests inject their own ticks frame instead."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .filter(F.col("timestamp").cast("long") % interval_seconds == 0)
        .select(
            F.col("timestamp").alias("poll_ts"),
            (F.col("timestamp").cast("long") / interval_seconds)
            .cast("long")
            .alias("cycle_ts"),
        )
    )


def fleet_poll_stream(
    ticks: DataFrame,
    fleet: DataFrame,
    ip_col: str,
    transport: Transport,
    result_schema: str,
    offline_default: dict,
    max_retries: int = 2,
) -> DataFrame:
    """tick × fleet → partition-parallel probe → typed result stream.

    ``fleet`` is a static (batch) DataFrame — Spark broadcasts it into every
    micro-batch (stream-static join). The probe is sources/fetch.py's:
    retries, never drops a row, offline default on error. Output rows are
    the probe result plus the tick's ``poll_ts``.
    """
    fanout = ticks.select("poll_ts").crossJoin(
        F.broadcast(fleet.select(F.col(ip_col).alias("ip")))
    )
    return probe(
        fanout, transport, f"poll_ts timestamp, {result_schema}", offline_default,
        max_retries=max_retries,
    )
