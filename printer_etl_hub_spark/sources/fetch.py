"""Partition-parallel device fetch stage (reference S7-S10 + §2.7 semantics).

The reference polls each device sequentially (one printer at a time,
`cli/command.py:44-74`); fleet latency is the sum of timeouts. Here fetches
run partition-parallel through ``mapInPandas``: each Python worker reuses one
transport session per partition, applies timeout/retry, and NEVER drops a
row — errors produce the reference's offline-default payload
(`plugins/tonerFinder/toner_hp.py:89-93`: exception ⇒ offline + empty result).

Transports are injected callables, so tests (and this container, which has no
SNMP/HTTP devices) run against canned payloads while production wires real
clients. Fetches must be idempotent: Spark retries tasks.

Scale: the input frame is filtered BEFORE this stage (predicate pushdown is
ours to guarantee around a Python stage — SURVEY.md §4); repartition to
(fleet_size / desired_concurrency) so each task holds a bounded number of
in-flight connections.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: transport: (ip, opts) -> payload dict. Raise on failure.
Transport = Callable[[str, dict], dict]


def probe(
    df: DataFrame,
    transport: Transport,
    schema: str,
    offline_default: dict,
    opts: dict | None = None,
    max_retries: int = 2,
) -> DataFrame:
    """Run ``transport`` once per row of ``df``'s ``ip`` column,
    partition-parallel, Arrow-batched — the one probe loop behind both the
    batch fetch and the streaming poll.

    Each partition gets its own copy of ``opts`` as the transport's session
    state. A probe that still raises after ``max_retries`` retries yields
    ``offline_default`` (the row never drops). Every input column is carried
    through; payload keys win over input columns of the same name, and
    ``schema`` aligns the output to its columns by name.
    """
    opts = dict(opts or {})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        session_opts = dict(opts)  # per-partition "session" (reused across rows)
        for pdf in batches:
            payloads = []
            for ip in pdf["ip"]:
                payload = None
                for _ in range(max_retries + 1):
                    try:
                        payload = transport(ip, session_opts)
                        break
                    except Exception:
                        continue
                payloads.append(dict(offline_default) if payload is None else payload)
            out = pd.DataFrame(payloads, index=pdf.index)
            yield pd.concat([pdf.drop(columns=out.columns, errors="ignore"), out], axis=1)

    return df.mapInPandas(run, schema=schema)


def fetch_stage(
    df: DataFrame,
    ip_col: str,
    transport: Transport,
    result_schema: str,
    offline_default: dict,
    opts: dict | None = None,
    max_retries: int = 2,
) -> DataFrame:
    """Probe each distinct ``ip_col`` value once (see :func:`probe`).

    ``result_schema`` is typed ("ip string, ..."): the transport's dict is
    aligned to the schema columns by name. Errors after ``max_retries``
    yield ``offline_default`` (row never drops).
    """
    src = df.select(F.col(ip_col).cast("string").alias("ip")).distinct()
    return probe(src, transport, result_schema, offline_default, opts, max_retries)


def probe_per_group(
    df: DataFrame,
    group_col: str,
    ip_col: str,
    existing_col: str,
    transport: Transport,
    result_schema: str,
    offline_default: dict,
    opts: dict | None = None,
) -> DataFrame:
    """J7 group-representative probe: ONE network probe per group value.

    Reference: `plugins/tonerType/toner_type_snmp.py:60-94` — reuse any
    member's existing result; else probe one representative (first good IP by
    input order); broadcast the result to every group member.

    Relational rewrite: groupBy(group) → reuse/probe the tiny per-group frame
    → broadcast-join the result back on group. The expensive side effect runs
    |groups| times, not |rows| times — the fetch-dedup optimization the
    reference hand-rolled, expressed as aggregate + join.
    """
    reps = df.groupBy(group_col).agg(
        F.min_by(F.col(ip_col), F.col("seq")).alias("rep_ip")
        if "seq" in df.columns
        else F.min(ip_col).alias("rep_ip"),
        F.first(F.col(existing_col), ignorenulls=True).alias("existing"),
    )
    to_probe = reps.filter(F.col("existing").isNull()).select(group_col, "rep_ip")
    probed = fetch_stage(
        to_probe, "rep_ip", transport, result_schema, offline_default, opts
    ).withColumnRenamed("ip", "rep_ip")
    probed = to_probe.join(probed, "rep_ip", "left").drop("rep_ip")
    reused = reps.filter(F.col("existing").isNotNull()).select(group_col, "existing")
    return df.join(F.broadcast(probed), group_col, "left").join(
        F.broadcast(reused), group_col, "left"
    )
