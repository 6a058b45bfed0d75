"""The ``dashboard`` workload and what every workload shares. A
workload takes a ``Ctx`` (session, seed, seconds, optional tracer, host
sampler, work directory), sets up, runs a closed loop of operations for
``ctx.seconds`` through the engine's public API, stops the host sampler,
then checks every result against the DuckDB oracle.

It returns a ``Result``: the end-to-end metrics of the result line, the
per-layer metrics (filled when tracing), the full record of the
workload's own metrics and input properties, and the operation counts.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb

from perfbench import gen, queries
from perfbench.trace import contention, median, tail

SETUP_REPS = 3
# untimed warm-up at the end of set-up, a fixed amount of work counted
# in set-up time: query latency keeps falling over the first refreshes
# of a cold JVM, and a cold curate pass takes 2-3x a warm one
WARMUP_REFRESHES = 5
WARMUP_PASSES = 2

# dashboard: one warehouse, built and compacted at set-up
DASH_POINTS = 60_000
DAYS = 2

# curate
CURATE_DOCS = 500


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    record: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    session_s: float
    tracer: object = None  # SparkTrace when --trace 1
    host: object = None    # HostSampler, stopped when the timed loop ends

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on standard error, with seconds since start."""
    print(f"perfbench: {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr)


class Ops:
    """Times operations, counts attempts and failures, and, when a
    tracer is set, records each operation's Spark trace."""

    def __init__(self, ctx: Ctx, res: Result):
        self.ctx, self.res = ctx, res
        self.traces: list[tuple[str, dict]] = []

    def run(self, name: str, fn):
        """Run ``fn`` as one operation; returns (output, seconds). An
        operation that produces rows returns ``(DataFrame, rows)``. A
        raised exception counts as a failed operation (output None)."""
        tr = self.ctx.tracer
        self.res.attempted += 1
        if tr is not None:
            tr.begin(name)
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.res.failed += 1
            out = None
        dt = time.perf_counter() - t0
        if tr is not None:
            has_rows = isinstance(out, tuple)
            rec = tr.end((out[0],) if has_rows else ())
            rec["op_ms"] = dt * 1e3
            rec["result_rows"] = len(out[1]) if has_rows else None
            self.traces.append((name, rec))
        return out, dt

    def fail(self, what: str) -> None:
        print(f"perfbench: wrong result: {what}", file=sys.stderr)
        self.res.failed += 1


# ------------------------------------------------------------ shared
def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


class Warehouse:
    """A Database over a warehouse directory, with the file accounting
    the ingest and maintenance layers report."""

    def __init__(self, ctx: Ctx, path: str):
        from talna_spark import Database

        self.ctx, self.path = ctx, path
        self.db = Database.open(ctx.spark, path)
        self.writes: list[dict] = []
        self.compaction: dict = {}
        self.points = 0

    def write(self, ops: Ops, events_dir: str, n_points: int):
        from talna_spark.ingest import read_series_dim
        from talna_spark.sources.events import points_from_events

        spark = self.ctx.spark
        before = _files(self.path)
        series0 = (
            read_series_dim(spark, self.path).count() if self.ctx.tracer else 0
        )
        _, dt = ops.run(
            "write_batch",
            lambda: self.db.write_batch(
                points_from_events(spark, events_dir), persist=False
            ) or True,
        )
        after = _files(self.path)
        new = {p: s for p, s in after.items() if p not in before}
        self.points += n_points
        self.writes.append({
            "s": dt, "files": len(new), "bytes": sum(new.values()),
            "series_new": (
                read_series_dim(spark, self.path).count() - series0
                if self.ctx.tracer else 0
            ),
        })
        return dt

    def compact(self, ops: Ops) -> float:
        before = _files(self.path)
        _, dt = ops.run("compact", lambda: self.db.compact() or True)
        after = _files(self.path)
        rewritten = sum(s for p, s in after.items() if p not in before)
        self.compaction = {
            "s": dt, "files_before": len(before), "files_after": len(after),
            "bytes_rewritten_per_live_byte": (
                rewritten / max(1, sum(after.values()))
            ),
        }
        return dt

    def bytes_per_point(self) -> float:
        return sum(_files(self.path).values()) / max(1, self.points)


class QueryLog:
    """Per-query bookkeeping: latency, the plan object ``to_df``
    returned (for plan reuse), results for the oracle, and — when
    tracing — the DSL front-end time and the series the filter selects."""

    def __init__(self, ctx: Ctx, ops: Ops):
        self.ctx, self.ops = ctx, ops
        self.lat: list[float] = []
        self.to_df_s: list[float] = []
        self.reused: list[bool] = []
        self.index_path: list[bool] = []
        self.dsl_s: list[float] = []
        self.series: dict[tuple, int] = {}
        self._plans: dict[tuple, object] = {}
        self.checks: list[tuple[dict, list, str]] = []  # (sig, rows, events dir)

    def run(self, db, wh_path: str, sig: dict, events_dir: str,
            timed: bool = True) -> float:
        """One query; ``timed=False`` (warm-up) keeps it out of the
        latency, plan-reuse and trace figures but still checks it."""
        from talna_spark.tag_index import has_tag_index

        key = _sig_key(sig)
        timing = {}

        def q():
            t0 = time.perf_counter()
            df = queries.build(db, sig).to_df()
            timing["to_df"] = time.perf_counter() - t0
            return df, df.collect()

        out, dt = self.ops.run("query", q)
        if timed:
            self.lat.append(dt)
        if out is None:
            return dt
        df, rows = out
        self.checks.append((sig, queries.rows_of(rows), events_dir))
        reused = self._plans.get(key) is df
        self._plans[key] = df
        if not timed:
            return dt
        self.to_df_s.append(timing["to_df"])
        self.reused.append(reused)
        self.index_path.append(has_tag_index(wh_path))
        if self.ctx.tracer is not None:
            self._trace_front_end(sig, wh_path, key)
        return dt

    def _trace_front_end(self, sig: dict, wh_path: str, key: tuple) -> None:
        from pyspark.sql import functions as F

        from talna_spark.dsl import compile_to_column, parse_filter_query
        from talna_spark.ingest import read_series_dim
        from talna_spark.tag_index import evaluate_postings, has_tag_index

        t0 = time.perf_counter()
        node = parse_filter_query(sig["flt"])
        compile_to_column(node, F.col("tags"))
        self.dsl_s.append(time.perf_counter() - t0)
        if key in self.series:
            return
        spark = self.ctx.spark
        if has_tag_index(wh_path):
            sel = evaluate_postings(spark, wh_path, sig["metric"], node)
        else:
            sel = (
                read_series_dim(spark, wh_path)
                .filter(F.col("metric") == sig["metric"])
                .filter(compile_to_column(node, F.col("tags")))
            )
        self.series[key] = sel.count()

    def verify(self, con) -> int:
        """Checks every query result against the oracle; returns the
        number of queries whose rows differ."""
        wrong = 0
        expected: dict[tuple, list] = {}
        for sig, got, events_dir in self.checks:
            key = (_sig_key(sig), events_dir)
            if key not in expected:
                con.sql(
                    "CREATE OR REPLACE VIEW events AS SELECT * FROM "
                    f"read_parquet('{events_dir}/events.parquet')"
                )
                expected[key] = queries.oracle_rows(con, events_dir, sig)
            if not queries.same(got, expected[key]):
                self.ops.fail(f"query {sig} over {events_dir}")
                wrong += 1
        return wrong

    def record(self, loop_s: float) -> dict:
        value, pct, beyond = tail(self.lat)
        return {
            "query_p50_ms": median(self.lat) * 1e3,
            "query_tail_ms": value * 1e3,
            "query_tail_percentile": pct,
            "query_tail_samples_beyond": beyond,
            "queries": len(self.lat),
            "queries_per_s": len(self.lat) / loop_s if loop_s else 0.0,
            "plan_reuse_share": _mean(self.reused),
        }

    def layers(self) -> dict:
        return {
            "dsl.parse_ms": _mean(self.dsl_s) * 1e3,
            "database.to_df_ms": _mean(self.to_df_s) * 1e3,
            "database.plan_reuse_ratio": _mean(self.reused),
            "tag_index.series_selected": _mean(self.series.values()),
            "tag_index.index_path_ratio": _mean(self.index_path),
        }


def _sig_key(sig: dict) -> tuple:
    return tuple(
        (k, tuple(v) if isinstance(v, (list, tuple)) else v)
        for k, v in sorted(sig.items())
    )


def spark_layers(traces: list[tuple[str, dict]]) -> dict:
    """Per-operation means of the Spark readings over every traced
    operation of the timed loop; Catalyst phases and rows scanned per
    result row over the operations that return rows."""
    recs = [r for _, r in traces]
    qrecs = [r for r in recs if r["result_rows"] is not None] or [{}]

    def m(k, rs=recs):
        return _mean(r.get(k, 0.0) for r in rs)

    return {
        "catalyst.analysis_ms": m("analysis_ms", qrecs),
        "catalyst.optimization_ms": m("optimization_ms", qrecs),
        "catalyst.planning_ms": m("planning_ms", qrecs),
        "spark.jobs": m("jobs"),
        "spark.stages": m("stages"),
        "spark.tasks": m("tasks"),
        "spark.executor_run_s": m("executor_run_s"),
        "spark.executor_cpu_s": m("executor_cpu_s"),
        "spark.jvm_gc_s": m("jvm_gc_s"),
        "spark.failed_tasks": float(sum(r["failed_tasks"] for r in recs)),
        "spark.job_wall_ms": m("job_wall_ms"),
        "spark.collect_ms": m("op_ms"),
        "sql.scan_rows": m("scan_rows"),
        "sql.scan_files": m("scan_files"),
        "sql.rows_per_result": (
            sum(r.get("scan_rows", 0.0) for r in qrecs)
            / max(1, sum(r.get("result_rows") or 0 for r in qrecs))
        ),
        "spark.input_bytes": m("input_bytes"),
        "spark.shuffle_read_bytes": m("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": m("shuffle_write_bytes"),
        "spark.spill_bytes": m("spill_bytes"),
    }


def _ingest_layers(writes: list[dict], compaction: dict) -> dict:
    return {
        "ingest.write_batch_s": _mean(w["s"] for w in writes),
        "ingest.files_written": _mean(w["files"] for w in writes),
        "ingest.bytes_written": _mean(w["bytes"] for w in writes),
        "ingest.series_new": _mean(w["series_new"] for w in writes),
        "maintenance.bytes_rewritten_per_live_byte": compaction.get(
            "bytes_rewritten_per_live_byte", 0.0
        ),
        "maintenance.files_before": float(compaction.get("files_before", 0)),
        "maintenance.files_after": float(compaction.get("files_after", 0)),
    }


def end_loop(ctx: Ctx, before: tuple[float, float]) -> dict:
    """Called when the timed loop ends. Stops the host sampler, so peak
    memory covers the session, set-up and loop but not the oracle check
    that follows, and returns the host contention over the loop for the
    record: a throttled run shows as such, not just as slow."""
    if ctx.host is not None:
        ctx.host.stop()
    now = contention()
    return {"loop_steal_s": now[0] - before[0],
            "loop_cpu_pressure_s": now[1] - before[1]}


def setup(ctx: Ctx, rep) -> tuple[float, list]:
    """Runs the set-up ``SETUP_REPS`` times; set-up time is the session
    start plus the median repetition. Returns (setup_s, outputs)."""
    walls, outs = [], []
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        outs.append(rep(r))
        walls.append(time.perf_counter() - t0)
        log(f"set-up {r}: {walls[-1]:.2f}s")
    return ctx.session_s + median(walls), outs


# ------------------------------------------------------------ dashboard
def dashboard(ctx: Ctx) -> Result:
    """Warehouse built and compacted at set-up; the loop refreshes a
    small fixed panel set round-robin, so nearly every call reuses a
    prepared plan."""
    res = Result()
    ops = Ops(ctx, res)

    def rep(r):
        events_dir = ctx.path(f"in{r}")
        props = gen.write_events(events_dir, ctx.seed, DASH_POINTS, DAYS)
        wh = Warehouse(ctx, ctx.path(f"wh{r}"))
        wh.write(ops, events_dir, props["points"])
        wh.compact(ops)
        return events_dir, props, wh

    setup_s, outs = setup(ctx, rep)
    events_dir, props, wh = outs[-1]
    panels = queries.dashboard_panels(DAYS)
    ql = QueryLog(ctx, ops)
    def refresh(timed: bool) -> float:
        t0 = time.perf_counter()
        for sig in panels:
            ql.run(wh.db, wh.path, sig, events_dir, timed=timed)
        return time.perf_counter() - t0

    # set-up ends with the panels' plans prepared and the JVM warm; the
    # warm-up refreshes count toward set-up time, so slower plan building
    # or first queries show there
    warm = [refresh(False) for _ in range(WARMUP_REFRESHES)]
    setup_s += sum(warm)
    log("warm-up: " + " ".join(f"{w:.2f}" for w in warm))
    setup_traces = len(ops.traces)
    # a unit of work is one refresh of the whole panel set: single-query
    # latencies cluster by panel, and a median between clusters jumps
    rounds: list[float] = []
    host0 = contention()
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < ctx.seconds:
        rounds.append(refresh(True))
    loop_s = time.perf_counter() - t0
    host = end_loop(ctx, host0)
    log(f"loop: {len(rounds)} refreshes")
    ql.verify(duckdb.connect())
    log("checked")
    rec = ql.record(loop_s)
    writes = [w.writes[0] for _, _, w in outs]
    rec.update(
        setup_s=setup_s,
        ingest_points_per_s=props["points"] / median(w["s"] for w in writes),
        compact_s=median(w.compaction["s"] for _, _, w in outs),
        bytes_per_point=wh.bytes_per_point(),
        inputs=dict(props, panels=len(panels), plan_cache_entries=256,
                    plan_reuse_share=rec["plan_reuse_share"]),
        refreshes=len(rounds),
        refresh_p50_ms=median(rounds) * 1e3,
        **host,
    )
    res.record = rec
    res.e2e = {
        "setup_s": setup_s,
        "op_p50_ms": rec["refresh_p50_ms"],
        "throughput_per_s": rec["queries_per_s"],
    }
    if ctx.tracer is not None:
        res.layers = {
            **ql.layers(),
            **spark_layers(ops.traces[setup_traces:]),
            **_ingest_layers(writes, wh.compaction),
        }
    return res
