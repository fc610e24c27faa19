"""The benchmark's workloads, each driven through the program's public
surface: registry query functions for ``queries``; the JSON inventory
store, the poll stream, the state sink and the fetch stage for
``poll_ingest``.

Every workload has the same shape: a cold pass in a fresh session, warm-up
passes, then a fixed number of measured passes. A pass runs every query
once (``queries``) or polls the whole fleet once and commits it
(``poll_ingest``). Outputs are checked after the timed region.
"""

from __future__ import annotations

import functools
import math
import os
import time

import pandas as pd

from perfbench.tracing import Tracer, dur, geomean, job_ids, median, stage_counters

_UNTRACED = Tracer("", enabled=False)

# The query workload: the reference ETL surface (the merge-upsert of
# inventory updates) and TPC-H shapes (scan-aggregate, six-way join),
# whose time is fixed per-query and per-job overhead at this size, plus
# one query per corpus operator module: text functions, exact dedup,
# embedding LSH, multimodal decode (a Python worker stage) and the
# iterative dup-cluster loop, which launches eager jobs inside its plan
# function.
QUERIES = (
    "q01_pricing_summary", "q13_merge_upsert", "q35_tpch_q5",
    "q23_dedup_exact", "q25_quality_score", "q32_embedding_lsh",
    "q33_multimodal_decode", "q72_dup_clusters",
)
#: Unmeasured passes (poll cycles) between the cold pass and the measured
#: window: the JVM is still compiling the hot paths then. A pass right
#: after the cold one runs 20-40% slower than later ones, the next ~5%;
#: poll cycles keep speeding up over the first five or six.
WARMUP_PASSES = 2
WARMUP_CYCLES = 6
#: The measured window is a whole number of passes (cycles) derived from
#: the run's seconds and these nominal lengths, so that every run of a
#: workload, on either side of a change, aggregates the same number of
#: samples: later passes are warmer, so a pass count that varied with
#: speed would move the median.
NOMINAL_PASS_S = 5.0
NOMINAL_CYCLE_S = 1.25


def sample_count(seconds: float, nominal: float) -> int:
    """Measured passes (cycles) for a run of ``seconds``: odd, so the
    median is one measured sample, and at least three."""
    return max(3, round(seconds / nominal)) | 1

#: Which operator or function module each corpus query spends its time
#: in (read off the query functions' calls); drives the operators.* and
#: functions.* per-layer times.
QUERY_LAYER = {
    "q23_dedup_exact": "operators.dedup",
    "q25_quality_score": "functions.text",
    "q32_embedding_lsh": "operators.similarity",
    "q33_multimodal_decode": "operators.multimodal",
    "q72_dup_clusters": "operators.components",
}


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = str(df[c].dtype)
        if kind.startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif kind.startswith("float"):
            df[c] = df[c].astype("float64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _cell_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows (order-free, exact values,
    NaN equal to NaN); otherwise the first difference found."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        for i, (x, y) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if not _cell_equal(x, y):
                return f"{c}[{i}]: {x!r} vs {y!r}"
    return None


class QueryWorkload:
    """Runs a list of registry queries; each execution clears the cache
    and flushes deferred releases first, like ``bench.py``, outside the
    timed region."""

    def __init__(self, spark, names, data_dir: str, tracer: Tracer):
        from printer_etl_hub_spark.plans import REGISTRY

        self.spark, self.names, self.data_dir, self.tracer = spark, names, data_dir, tracer
        self.specs = {n: REGISTRY[n] for n in names}
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}
        self.rows: dict[str, int] = {}
        self.results: dict[str, pd.DataFrame] = {}
        self.passes: list[dict[str, float]] = []  # warm: query → seconds
        self.traced: list[bool] = []
        self.cold_s = 0.0
        self.trace_split: dict[str, list[float]] = {}

    def _execute(self, name: str, collect: bool, traced: bool, pass_no: int):
        from printer_etl_hub_spark.plans.common import flush_pending_release

        spark, sc = self.spark, self.spark.sparkContext
        spark.catalog.clearCache()
        flush_pending_release()
        self.attempted += 1
        tr = self.tracer if traced else _UNTRACED
        t0 = time.perf_counter()
        try:
            with tr.span("bench.query", query=name, pass_no=pass_no):
                with tr.span("plans.build", sc, query=name, pass_no=pass_no):
                    df = self.specs[name].fn(spark, self.data_dir)
                with tr.span("plans.action", sc, query=name, pass_no=pass_no):
                    if collect:
                        out = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                        out = None
        except Exception as exc:  # one broken query must not end the run
            self.failed += 1
            self.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
            return None, None
        return time.perf_counter() - t0, out

    def cold_pass(self) -> None:
        """First pass in the fresh session. Results are collected to the
        driver, which materializes every column, for the oracle check."""
        total = 0.0
        for name in self.names:
            dt, out = self._execute(name, collect=True, traced=False, pass_no=0)
            if dt is not None:
                total += dt
                self.results[name] = out
                self.rows[name] = len(out)
        self.cold_s = total

    def warm(self, seconds: float, alternate_trace: bool) -> None:
        """Warm-up passes, then ``sample_count`` measured passes, every
        result fully materialized through a ``noop`` write. With
        ``alternate_trace`` two more passes run and every second one is
        traced, so two traced passes compare with three untraced."""
        for _ in range(WARMUP_PASSES):
            for name in self.names:
                self._execute(name, False, False, -1)
        for _ in range(sample_count(seconds, NOMINAL_PASS_S) + 2 * alternate_trace):
            traced = alternate_trace and len(self.passes) % 2 == 1
            times = {}
            for name in self.names:
                dt, _ = self._execute(name, False, traced, len(self.passes) + 1)
                if dt is not None:
                    times[name] = dt
            self.passes.append(times)
            self.traced.append(traced)

    def check(self) -> dict[str, str]:
        """Compare every cold-pass result with the query's DuckDB oracle on
        the same generated files. Returns query → reason for each mismatch."""
        import duckdb

        from printer_etl_hub_spark.tables import TABLE_NAMES

        bad = {}
        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data_dir, t)}.parquet'")
            for name, got in self.results.items():
                sql = self.specs[name].oracle_sql
                if sql is None:
                    bad[name] = "no oracle"
                    continue
                why = frame_mismatch(got, con.execute(sql).df())
                if why:
                    bad[name] = why
        finally:
            con.close()
        return bad

    # -- metrics ------------------------------------------------------------

    def _query_medians(self, passes) -> dict[str, float]:
        return {n: median([p[n] for p in passes if n in p]) for n in self.names
                if any(n in p for p in passes)}

    def detail(self) -> dict[str, str]:
        """Per-query rows for the report: median warm seconds and rows, and
        in a traced run the per-pass split and Spark job counts."""
        meds = self._query_medians(self.passes)
        out = {f"query {n}": f"{meds[n]:.4f} s rows={self.rows.get(n)}" + (
            " traced build/eager/action {:.4f}/{:.4f}/{:.4f} s"
            " jobs={:g} eager_jobs={:g} stages={:g}".format(*self.trace_split[n])
            if n in self.trace_split else "") for n in meds}
        out["passes"] = " ".join(f"{sum(p.values()):.3f}" for p in self.passes)
        return out

    def end_to_end(self) -> dict[str, tuple[float, int]]:
        """metric → (value, samples). pass_s is the sum of per-query median
        times: the median pass, with one slow query execution absorbed."""
        meds = self._query_medians(self.passes)
        n = len(self.passes)
        return {
            "cold_pass_s": (self.cold_s, 1),
            "pass_s": (sum(meds.values()), n),
            "query_geomean_s": (geomean(meds.values()), n),
        }

    def per_layer(self, cores: int) -> dict[str, float]:
        """Per-pass means over the traced warm passes."""
        sc = self.spark.sparkContext
        traced = [i + 1 for i, t in enumerate(self.traced) if t]
        k = len(traced)
        builds = [s for s in self.tracer.named("plans.build") if s["pass_no"] in traced]
        actions = [s for s in self.tracer.named("plans.action") if s["pass_no"] in traced]
        spans = builds + actions
        out = dict.fromkeys(
            ["plans.build_s", "plans.action_s", "execution.eager_s", "execution.eager_jobs"]
            + [f"{m}_s" for m in QUERY_LAYER.values()], 0.0)
        # query → build, eager, action seconds, jobs, eager jobs, stages
        split = self.trace_split = {n: [0.0] * 6 for n in self.names}
        for s in builds:
            eager_jobs = len(job_ids(sc, [s["group"]]))
            if eager_jobs:
                out["execution.eager_s"] += dur(s) / k
                out["execution.eager_jobs"] += eager_jobs / k
                split[s["query"]][1] += dur(s) / k
                split[s["query"]][4] += eager_jobs / k
            else:
                out["plans.build_s"] += dur(s) / k
                split[s["query"]][0] += dur(s) / k
        for s in actions:
            out["plans.action_s"] += dur(s) / k
            split[s["query"]][2] += dur(s) / k
        for s in spans:
            layer = QUERY_LAYER.get(s["query"])
            if layer:
                out[f"{layer}_s"] += dur(s) / k
        for n in self.names:
            q = stage_counters(sc, job_ids(sc, [s["group"] for s in spans if s["query"] == n]))
            split[n][3], split[n][5] = q["jobs"] / k, q["stages"] / k
        c = stage_counters(sc, job_ids(sc, [s["group"] for s in spans]))
        wall = sum(dur(s) for s in spans)
        rows = sum(self.rows.values())
        out.update({
            "session.jobs": c["jobs"] / k,
            "session.stages": c["stages"] / k,
            "session.tasks": c["tasks"] / k,
            "session.task_busy_frac": c["run_ms"] / 1000.0 / (wall * cores),
            "session.shuffle_read_bytes": c["shuffle_read_bytes"] / k,
            "session.shuffle_write_bytes": c["shuffle_write_bytes"] / k,
            "session.spill_bytes": c["spill_bytes"] / k,
            "session.gc_s": c["gc_ms"] / 1000.0 / k,
            "tables.input_bytes": c["input_bytes"] / k,
            "tables.input_rows": c["input_rows"] / k,
            "tables.rows_examined_per_result": c["input_rows"] / k / max(rows, 1),
            "plans.result_rows": float(rows),
        })
        untraced = [sum(p.values()) for p, t in zip(self.passes, self.traced) if not t]
        traced_walls = [sum(p.values()) for p, t in zip(self.passes, self.traced) if t]
        out["bench.trace_overhead_frac"] = median(traced_walls) / median(untraced) - 1.0
        return out


# --- poll_ingest ---------------------------------------------------------------

RESULT_SCHEMA = "ip string, status string, toner_pct int, pages bigint"
OFFLINE = {"status": "offline", "toner_pct": None, "pages": None}
DEAD_FRAC = 0.04  # devices that never answer: offline every cycle
FLAKY_FRAC = 0.10  # chance any one probe attempt times out


@functools.lru_cache(maxsize=None)
def _device(seed: int, ip: str) -> tuple[bool, int]:
    """Facts of a device that hold in every cycle: whether it never
    answers, and its page-count base. Cached in each Python worker, so a
    probe after the first cycle costs one or two md5 draws, and the cycle
    time is the program's rather than the simulated devices'."""
    from perfbench.datagen import md5_unit

    return md5_unit(seed, "dead", ip) < DEAD_FRAC, int(md5_unit(seed, "pages", ip) * 1000)


class FleetTransport:
    """Deterministic in-process device transport; it never sleeps.

    Whether a probe attempt fails, and what an answering device reports,
    is an md5 draw keyed by (seed, ip[, cycle, attempt]). The cycle is read
    once per partition from ``cycle_file``, which the driver rewrites
    before each tick; one cycle is in flight at a time. ``calls`` and
    ``answered`` are Spark accumulators.
    """

    def __init__(self, seed: int, cycle_file: str, calls, answered):
        self.seed, self.cycle_file = seed, cycle_file
        self.calls, self.answered = calls, answered

    def __call__(self, ip: str, opts: dict) -> dict:
        from perfbench.datagen import md5_unit

        if "cycle" not in opts:
            with open(self.cycle_file, encoding="ascii") as fh:
                opts["cycle"] = int(fh.read())
        cycle = opts["cycle"]
        attempt = opts[ip] = opts.get(ip, 0) + 1
        self.calls.add(1)
        dead, pages = _device(self.seed, ip)
        if dead:
            raise ConnectionRefusedError(ip)
        if md5_unit(self.seed, "flaky", ip, cycle, attempt) < FLAKY_FRAC:
            raise TimeoutError(ip)
        self.answered.add(1)
        return {
            "status": "online",
            "toner_pct": int(md5_unit(self.seed, "toner", ip, cycle) * 101),
            "pages": 1000 * cycle + pages,
        }


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class PollWorkload:
    """Closed-loop poll cycles: the next tick file is written only after
    the previous cycle's state commit returned."""

    def __init__(self, spark, fleet, good_ips, seed: int, work: str, tracer: Tracer):
        self.spark, self.fleet, self.seed, self.tracer = spark, fleet, seed, tracer
        self.good_ips = set(good_ips)
        self.ticks_dir = os.path.join(work, "ticks")
        self.state_dir = os.path.join(work, "state")
        self.ckpt_dir = os.path.join(work, "checkpoint")
        self.cycle_file = os.path.join(work, "cycle")
        os.makedirs(self.ticks_dir)
        sc = spark.sparkContext
        self.calls, self.answered = sc.accumulator(0), sc.accumulator(0)
        self.transport = FleetTransport(seed, self.cycle_file, self.calls, self.answered)
        self.devices = fleet.count()
        self.cycles: list[float] = []
        self.traced: list[bool] = []
        self.failed = 0
        self.attempted = 0
        self.cold_s = 0.0
        self.query = None
        self._trace_cycle = False
        self._cycle_span = None

    def _sink(self, batch_df, batch_id: int) -> None:
        from printer_etl_hub_spark.streaming.sink import merge_last_state

        tr = self.tracer if self._trace_cycle else _UNTRACED
        with tr.span("streaming.merge_last_state", parent=self._cycle_span, batch=batch_id):
            merge_last_state(batch_df.sparkSession, batch_df, self.state_dir,
                             "ip", "poll_ts", batch_id)

    def _tick(self, cycle: int) -> float:
        with open(self.cycle_file + ".tmp", "w", encoding="ascii") as fh:
            fh.write(str(cycle))
        os.replace(self.cycle_file + ".tmp", self.cycle_file)
        ts = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(1_767_225_600 + 60 * cycle))
        tmp = os.path.join(os.path.dirname(self.ticks_dir), "tick.tmp")
        with open(tmp, "w", encoding="ascii") as fh:
            fh.write(f'{{"poll_ts": "{ts}", "cycle_ts": {cycle}}}\n')
        tr = self.tracer if self._trace_cycle else _UNTRACED
        self.attempted += 1
        with tr.span("bench.cycle", cycle=cycle) as rec:
            self._cycle_span = rec.get("id")
            t0 = time.perf_counter()
            os.replace(tmp, os.path.join(self.ticks_dir, f"tick-{cycle:06d}.json"))
            try:
                self.query.processAllAvailable()
            except Exception:
                self.failed += 1
                raise
            return time.perf_counter() - t0

    def cold_pass(self) -> None:
        """Start the stream and run the first cycle."""
        from printer_etl_hub_spark.streaming.poll import fleet_poll_stream

        t0 = time.perf_counter()
        ticks = (self.spark.readStream.schema("poll_ts timestamp, cycle_ts long")
                 .option("maxFilesPerTrigger", 1).json(self.ticks_dir))
        out = fleet_poll_stream(ticks, self.fleet, "ip", self.transport,
                                RESULT_SCHEMA, OFFLINE)
        self.query = (out.writeStream.foreachBatch(self._sink)
                      .option("checkpointLocation", self.ckpt_dir).start())
        self._tick(0)
        self.cold_s = time.perf_counter() - t0

    def warm(self, seconds: float, alternate_trace: bool) -> None:
        for i in range(WARMUP_CYCLES):
            self._tick(i + 1)
        self.first_measured = WARMUP_CYCLES + 1
        self._calls0, self._answered0 = self.calls.value, self.answered.value
        self._jobs0 = set(job_ids(self.spark.sparkContext, [str(self.query.runId)]))
        for _ in range(sample_count(seconds, NOMINAL_CYCLE_S)):
            self._trace_cycle = alternate_trace and len(self.cycles) % 2 == 1
            self.cycles.append(self._tick(self.first_measured + len(self.cycles)))
            self.traced.append(self._trace_cycle)
        self._trace_cycle = False
        self._calls1, self._answered1 = self.calls.value, self.answered.value

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()

    def check(self) -> dict[str, str]:
        """The committed state must equal the last cycle recomputed in
        batch through the fetch stage, with one row per generated device
        that has a usable IP."""
        from printer_etl_hub_spark.sources.fetch import fetch_stage
        from printer_etl_hub_spark.streaming.sink import read_state

        state = read_state(self.spark, self.state_dir).toPandas()
        want = fetch_stage(self.fleet, "ip", self.transport, RESULT_SCHEMA, OFFLINE).toPandas()
        why = [f"{state['poll_ts'].nunique()} poll times"] if state["poll_ts"].nunique() != 1 else []
        why += [w for w in [frame_mismatch(state.drop(columns=["poll_ts"]), want)] if w]
        if len(state) != len(self.good_ips) or set(state["ip"]) != self.good_ips:
            why.append(f"{len(state)} rows for {len(self.good_ips)} good IPs")
        return {"final_state": "; ".join(why)} if why else {}

    def detail(self) -> dict[str, str]:
        return {"cycles": " ".join(f"{c:.3f}" for c in self.cycles),
                "devices_per_s": f"{self.devices / median(self.cycles):.1f} "
                                 f"({self.devices} devices / pass_s)"}

    def end_to_end(self) -> dict[str, tuple[float, int]]:
        """pass_s is the median cycle; query_geomean_s, the geometric mean
        of the cycles, also weighs the slow ones."""
        n = len(self.cycles)
        return {
            "cold_pass_s": (self.cold_s, 1),
            "pass_s": (median(self.cycles), n),
            "query_geomean_s": (geomean(self.cycles), n),
        }

    def poll_metrics(self) -> dict[str, float]:
        """Cycle statistics, state size and probe counts (every run)."""
        from perfbench.tracing import tail

        state = _tree_bytes(self.state_dir)
        with open(os.path.join(self.state_dir, "_CURRENT"), encoding="utf-8") as fh:
            live = _tree_bytes(os.path.join(self.state_dir, fh.read().split()[0]))
        value, rank = tail(self.cycles)
        calls = self._calls1 - self._calls0
        return {
            "streaming.cycle_tail_s": value,
            "streaming.cycle_tail_pct": rank,
            "streaming.state_disk_mb": state / 1e6,
            "streaming.space_amp": state / live,
            "streaming.bytes_written_per_cycle":
                (state + _tree_bytes(self.ckpt_dir)) / (self.first_measured + len(self.cycles)),
            "sources.probe_calls": calls / len(self.cycles),
            "sources.probe_success_frac": (self._answered1 - self._answered0) / calls,
        }

    def per_layer(self, cores: int) -> dict[str, float]:
        sc = self.spark.sparkContext
        n = len(self.cycles)
        jobs = [j for j in job_ids(sc, [str(self.query.runId)]) if j not in self._jobs0]
        c = stage_counters(sc, jobs)
        progress = [p for p in self.query.recentProgress
                    if p.batchId >= self.first_measured and "addBatch" in p.durationMs]
        overhead = [(p.durationMs["triggerExecution"] - p.durationMs["addBatch"]) / 1000.0
                    for p in progress]
        sinks = [dur(s) for s in self.tracer.named("streaming.merge_last_state")]
        out = {
            "session.jobs": c["jobs"] / n,
            "session.stages": c["stages"] / n,
            "session.tasks": c["tasks"] / n,
            "session.task_busy_frac": c["run_ms"] / 1000.0 / (sum(self.cycles) * cores),
            "session.shuffle_read_bytes": c["shuffle_read_bytes"] / n,
            "session.shuffle_write_bytes": c["shuffle_write_bytes"] / n,
            "session.spill_bytes": c["spill_bytes"] / n,
            "session.gc_s": c["gc_ms"] / 1000.0 / n,
            "streaming.sink_s": median(sinks),
            "streaming.trigger_overhead_s": median(overhead),
        }
        untraced = [x for x, t in zip(self.cycles, self.traced) if not t]
        traced = [x for x, t in zip(self.cycles, self.traced) if t]
        out["bench.trace_overhead_frac"] = median(traced) / median(untraced) - 1.0
        return out
