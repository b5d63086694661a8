"""The workloads: what each generates, times and checks.

Each takes the engine through its public entry points only:

- ``QueryMix`` — ``queries.queries()[name](spark, dir)`` forced through
  the noop sink, in a long-lived (warm) session, as an analyst uses it;
- ``LakeLoad`` — one ``cli.run_pipeline`` (``Medallion``) and then one
  availableNow drain ``read_events_stream`` → ``tumbling_agg`` →
  ``stream_merge_sink`` (``StreamReplay``) in a fresh session, as the CLI
  or a scheduled job runs them: one load per process, so the op is cold.

``setup`` generates inputs and, for ``QueryMix``, runs the untimed
warm-up pass that also checks every query against its DuckDB oracle.
``op`` runs one timed op and returns its steps (empty: the runner uses
the op's Spark jobs) and whether its output checked out.  ``instrument``
and ``layers`` serve the traced run only.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

import gen
from spans import SparkJobs, Tracer

#: relational / time-series half and text half of the mix
QUERY_MIX = [
    "pricing_summary",
    "tumbling_windows",
    "char_entropy_filter",
    "containment_pairs",
]
LAKE_SCALE = 0.3  # ≈ 18K lineitem, 3K events, 150 documents

MEDALLION_MARKETS = 6000
STREAM_ROWS = 100_000
STREAM_FILES = 2


@dataclass
class OpResult:
    steps: list[float]
    ok: bool
    why: str = ""


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: Tracer
    jobs: SparkJobs
    failures: list[str] = field(default_factory=list)


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------- query_mix


def _canon(v):
    """Oracle comparison rules of ``tests/oracle_harness.py``: floats to 6
    decimals, NaN as a token, nested lists as tuples."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return out


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def oracle_matches(df, con, sql: str) -> str:
    """'' when the Spark frame equals the oracle's rows, else the reason."""
    s_cols, s_rows = df.columns, [tuple(r) for r in df.collect()]
    rel = con.execute(sql)
    d_cols = [c[0] for c in rel.description]
    d_rows = rel.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"{len(s_rows)} rows != {len(d_rows)}"
    for a, b in zip(_rows(s_cols, s_rows), _rows(d_cols, d_rows)):
        if not _close(a, b):
            return f"row {a} != {b}"
    return ""


class QueryMix:
    name = "query_mix"
    warm = True

    def __init__(self, ctx: Ctx, names: list[str] = QUERY_MIX, scale: float = LAKE_SCALE) -> None:
        from ra2_datalake_linaresjoan_spark import queries

        self.ctx = ctx
        self.names = names
        self.scale = scale
        self.lake = os.path.join(ctx.work, "lake")
        self.registry = queries.queries()
        self.oracle = queries.oracle_sql()
        self.input_rows = 0
        self.checks = 0

    def setup(self) -> None:
        import duckdb

        rows = gen.lake_tables(self.lake, self.ctx.seed, self.scale)
        self.input_rows = sum(rows.values())
        con = duckdb.connect()
        for t in rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.lake}/{t}.parquet')")
        # the warm-up pass: every query once, checked against its oracle
        for name in self.names:
            self.checks += 1
            try:
                why = oracle_matches(self.registry[name](self.ctx.spark, self.lake), con, self.oracle[name])
            except Exception as e:  # noqa: BLE001 — a raising query is a failed check
                why = f"raised {type(e).__name__}: {e}"
            if why:
                self.ctx.failures.append(f"{name}: {why}")
        con.close()
        # the JIT keeps speeding the mix up for several passes; a second
        # untimed pass flattens that slope before the timed passes start
        for name in self.names:
            self.registry[name](self.ctx.spark, self.lake).write.format("noop").mode("overwrite").save()

    def op(self, i: int) -> OpResult:
        spark, tr = self.ctx.spark, self.ctx.tracer
        steps = []
        # a fixed order: a seeded shuffle per pass moved the pass time by
        # about ±8% between seeds, twice what the seeded data moves it
        for name in self.names:
            t0 = time.perf_counter()
            with tr.span("queries.build", group=True):
                df = self.registry[name](spark, self.lake)
            with tr.span("spark.exec", group=True):
                if tr.active:
                    with tr.span("spark.plan"):
                        df._jdf.queryExecution().executedPlan()
                df.write.format("noop").mode("overwrite").save()
            steps.append(time.perf_counter() - t0)
        return OpResult(steps, True)

    def instrument(self) -> None:
        from pyspark.sql import DataFrameReader

        self.ctx.tracer.wrap(DataFrameReader, "parquet", "sources.read")

    def layers(self, op: int, js) -> dict[str, float]:
        tr = self.ctx.tracer
        return {
            "sources.reads": tr.calls(op, "sources.read"),
            "sources.read_s": tr.total(op, "sources.read"),
            "queries.build_s": tr.total(op, "queries.build"),
            "queries.build_jobs": js.by_group.get(tr.group("queries.build", op), 0),
            "spark.plan_s": tr.total(op, "spark.plan"),
            "spark.exec_s": tr.total(op, "spark.exec"),
        }


# ------------------------------------------------------------- medallion


class Medallion:
    def __init__(self, ctx: Ctx, n_markets: int = MEDALLION_MARKETS, break_refs: bool = False) -> None:
        self.ctx = ctx
        self.n_markets = n_markets
        self.break_refs = break_refs
        self.bronze_dir = os.path.join(ctx.work, "bronze")
        self.input_rows = 0

    def setup(self) -> None:
        b = gen.bronze(self.ctx.seed, self.n_markets, max(self.n_markets // 100, 20), max(self.n_markets // 500, 10))
        if self.break_refs:
            # the replicate-without-rewriting-references defect: event ids
            # get a copy suffix, the references markets embed do not
            b.events = [((r[0] + "_0") if r[0] else r[0],) + r[1:] for r in b.events]
        gen.write_bronze(b, self.bronze_dir)
        self.expected = b.expected
        self.input_rows = b.n_rows

    def op(self, i: int) -> OpResult:
        from ra2_datalake_linaresjoan_spark import cli

        spark = self.ctx.spark
        lake = os.path.join(self.ctx.work, f"lake{i}")
        frames = {e: spark.read.parquet(os.path.join(self.bronze_dir, e)) for e in ("markets", "events", "series")}
        with self.ctx.tracer.span("plans.run_pipeline", group=True):
            out = cli.run_pipeline(
                spark, frames["markets"], frames["events"], frames["series"],
                gold_path=os.path.join(lake, "gold"), silver_path=os.path.join(lake, "silver"),
            )
        self.lake = lake
        why = self.check(out)
        return OpResult([], not why, why)

    def check(self, out: dict) -> str:
        v = out["validation"]
        bad = {k: (v["counts"].get(k), n) for k, n in self.expected.items() if v["counts"].get(k) != n}
        if bad:
            return f"gold counts (got, expected): {bad}"
        if not all(v["uniqueness"].values()) or any(v["orphans"].values()):
            return f"validation: {v['uniqueness']} {v['orphans']}"
        n = sum(r["n_markets"] for r in out["summary"])
        if n != self.expected["dim_mercado_gaming"]:
            return f"summary counts {n} markets"
        return ""

    def instrument(self) -> None:
        from pyspark.sql import DataFrame, DataFrameReader

        from ra2_datalake_linaresjoan_spark import cli

        tr = self.ctx.tracer
        tr.wrap(DataFrameReader, "parquet", "sources.read")
        tr.wrap(DataFrame, "collect", "spark.collect")
        tr.wrap(cli, "build_gold", "plans.gold_build", group=True)
        tr.wrap(cli, "write_gold", "sources.gold_write", group=True)
        tr.wrap(cli, "validate_gold", "plans.validate", group=True)
        tr.wrap(cli, "volumetry_report", "plans.report", group=True)
        tr.wrap(cli, "gaming_summary", "plans.report", group=True)

    def layers(self, op: int, js) -> dict[str, float]:
        tr = self.ctx.tracer
        spans = tr.op_spans(op)
        run = [k for k, s in enumerate(tr.spans) if s.op == op and s.name == "plans.run_pipeline"]
        children = [s for s in spans if s.parent in run]
        # the summary collect fires inside run_pipeline; it belongs to the report
        summary_collect = sum(s.dur for s in children if s.name == "spark.collect")
        phases = ("plans.gold_build", "sources.gold_write", "plans.validate", "plans.report")
        silver = tr.total(op, "plans.run_pipeline") - sum(s.dur for s in children if s.name in phases) - summary_collect
        return {
            "sources.reads": tr.calls(op, "sources.read"),
            "sources.read_s": tr.total(op, "sources.read"),
            "plans.silver_s": silver,
            "plans.gold_build_s": tr.total(op, "plans.gold_build"),
            "sources.gold_write_s": tr.total(op, "sources.gold_write"),
            "sources.written_mb": _du_mb(self.lake),
            "plans.validate_s": tr.total(op, "plans.validate"),
            "plans.validate_jobs": js.by_group.get(tr.group("plans.validate", op), 0),
            "plans.report_s": tr.total(op, "plans.report") + summary_collect,
        }


# ---------------------------------------------------------- stream_replay

KEYS = ["window_start", "event_type"]


def batch_tumbling(table) -> dict[tuple[int, str], tuple[int, float]]:
    """Hourly (window_start µs, event_type) → (count, sum rounded to 4):
    the batch ``tumbling_agg`` over the same events, computed in numpy."""
    ts = table.column("ts").to_numpy().astype("int64")
    start = ts - ts % 3_600_000_000
    et = table.column("event_type").to_numpy(zero_copy_only=False)
    val = table.column("value").to_numpy()
    out: dict[tuple[int, str], list] = {}
    for s, e, v in zip(start.tolist(), et.tolist(), val.tolist()):
        acc = out.setdefault((s, e), [0, 0.0])
        acc[0] += 1
        acc[1] += v
    return {k: (n, round(t, 4)) for k, (n, t) in out.items()}


class StreamReplay:
    def __init__(self, ctx: Ctx, n_rows: int = STREAM_ROWS, n_files: int = STREAM_FILES, arrival: str = "ordered") -> None:
        self.ctx = ctx
        self.n_rows = n_rows
        self.n_files = n_files
        self.arrival = arrival
        self.src = os.path.join(ctx.work, "replay")
        self.input_rows = n_rows
        self.merge_mb: list[float] = []
        self.progress: list = []

    def setup(self) -> None:
        paths, table = gen.stream_files(self.src, self.ctx.seed, self.n_rows, self.n_files)
        if self.arrival == "ordered":
            gen.stamp_arrival(paths)
        elif self.arrival == "reversed":
            gen.stamp_arrival(paths[::-1])
        self.expected = batch_tumbling(table)

    def op(self, i: int) -> OpResult:
        from ra2_datalake_linaresjoan_spark.streaming import (
            read_events_stream,
            stream_merge_sink,
            tumbling_agg,
        )

        spark = self.ctx.spark
        out = os.path.join(self.ctx.work, f"table{i}")
        ck = os.path.join(self.ctx.work, f"checkpoint{i}")
        with self.ctx.tracer.span("streaming.drain"):
            q = stream_merge_sink(
                tumbling_agg(read_events_stream(spark, self.src, max_files_per_trigger=1)),
                out, KEYS, ck,
            )
            q.awaitTermination()
        if q.exception() is not None:
            return OpResult([], False, f"stream failed: {q.exception()}")
        self.progress = [p for p in q.recentProgress if p.numInputRows > 0]
        return OpResult([], *self.check(out))

    def dropped(self) -> int:
        return sum(
            so.numRowsDroppedByWatermark for p in self.progress for so in p.stateOperators
        )

    def check(self, out: str) -> tuple[bool, str]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self.dropped():
            return False, f"{self.dropped()} rows dropped by the watermark"
        t = pq.read_table(out)
        ws = t.column("window_start")  # INT96 or micros, tz-aware
        ws = ws.cast(pa.timestamp("us", tz=ws.type.tz)).cast(pa.int64()).to_pylist()
        got = {
            (w, e): (n, v)
            for w, e, n, v in zip(ws, t.column("event_type").to_pylist(),
                                  t.column("n_events").to_pylist(), t.column("total_value").to_pylist())
        }
        if got.keys() != self.expected.keys():
            return False, f"{len(got)} windows, expected {len(self.expected)}"
        for k, (n, v) in self.expected.items():
            gn, gv = got[k]
            if gn != n or not math.isclose(gv, v, rel_tol=1e-9, abs_tol=1e-6):
                return False, f"window {k}: got {(gn, gv)}, expected {(n, v)}"
        return True, ""

    def instrument(self) -> None:
        from ra2_datalake_linaresjoan_spark.streaming import foreach_sink

        tr = self.ctx.tracer

        def rewritten(_out, args, _kw):
            self.merge_mb.append(_du_mb(args[1]))

        tr.wrap(foreach_sink, "merge_upsert", "sources.merge", group=True, after=rewritten)

    def layers(self, op: int, js) -> dict[str, float]:
        tr = self.ctx.tracer
        dur = lambda key: _median(p.durationMs.get(key, 0) for p in self.progress)  # noqa: E731
        last = self.progress[-1].stateOperators if self.progress else []
        return {
            "streaming.latest_offset_ms": dur("latestOffset"),
            "streaming.plan_ms": dur("queryPlanning"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.commit_ms": dur("commitOffsets"),
            "sources.merge_s": tr.total(op, "sources.merge"),
            "sources.merge_rewrite_mb": _median(self.merge_mb),
            "streaming.state_rows": sum(so.numRowsTotal for so in last),
            "streaming.rows_dropped": self.dropped(),
        }


class LakeLoad:
    """The data engineers' load: the medallion batch, then the event
    stream's incremental drain into the same lake, in one fresh session
    (the two halves of one scheduled job).  Each half checks its own
    output; the op fails if either does."""

    name = "lake_load"
    warm = False

    def __init__(self, ctx: Ctx, **kw) -> None:
        self.parts = (
            Medallion(ctx, **{k: v for k, v in kw.items() if k in ("n_markets", "break_refs")}),
            StreamReplay(ctx, **{k: v for k, v in kw.items() if k in ("n_rows", "n_files", "arrival")}),
        )

    @property
    def input_rows(self) -> int:
        return sum(p.input_rows for p in self.parts)

    def setup(self) -> None:
        for p in self.parts:
            p.setup()

    def op(self, i: int) -> OpResult:
        results = [p.op(i) for p in self.parts]
        return OpResult([], all(r.ok for r in results), "; ".join(r.why for r in results if r.why))

    def instrument(self) -> None:
        for p in self.parts:
            p.instrument()

    def layers(self, op: int, js) -> dict[str, float]:
        out: dict[str, float] = {}
        for p in self.parts:
            out.update(p.layers(op, js))
        out["spark.exec_s"] = sum(js.durations)
        return out


WORKLOADS = {w.name: w for w in (QueryMix, LakeLoad)}
