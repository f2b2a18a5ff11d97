"""The benchmark's workloads: what each runs and how its outputs
are checked.

An op is one closed-loop operation: a registered query (build, then
execute through the noop sink), a streaming drain (the query call runs
an ``availableNow`` drain), or one daily run of the four-stage pipeline
on a fresh lake. ``run_op`` times the op's phases as spans; when
``collect`` is set (the unmeasured warm-up pass) it also returns the
op's output for checking.
"""

from __future__ import annotations

import os
import shutil
import string
from dataclasses import dataclass

import numpy as np
import pandas as pd

PIPELINE = "stock_pipeline_daily"


@dataclass(frozen=True)
class Workload:
    name: str  # its `why` is in BENCHMARK.json
    sf: float  # star-schema scale factor
    events_sf: float  # events scale factor (1.0 = 1 M events)
    ops: tuple[str, ...]
    pass_s: float  # nominal steady time of one pass over ops, local[4], s
    symbols: int = 0  # pipeline symbols per daily run
    periods: int = 0  # hourly bars per symbol


# Every op a workload lists runs in every pass and is checked; an op
# that fails on the generated inputs is counted in `failed`, never
# taken out of the mix. `stateful-drain` is not declared in
# BENCHMARK.json, whose workloads must run without a failing op: its one
# op returns a wrong `ewma` on these inputs (streaming/stateful.py's
# `_advance_stats` orders each Arrow batch of a group, not the group),
# so it exits 1 until the engine is fixed.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "lake-analytics",
            sf=0.15, events_sf=0.001,
            ops=("q6_forecast_revenue_change", "q1_pricing_summary",
                 "q21_sole_late_supplier"),
            pass_s=3.3,
        ),
        Workload(
            "etl-ingest",
            sf=0.001, events_sf=0.1,
            ops=(PIPELINE, "stream_dedup_exact"),
            pass_s=4.8, symbols=3, periods=250,
        ),
        Workload(
            "stateful-drain",
            sf=0.001, events_sf=0.1,
            ops=("stream_stateful_user_stats",),
            pass_s=3.3,
        ),
    )
}


def pipeline_symbols(w: Workload, seed: int) -> tuple[str, ...]:
    rng = np.random.default_rng(seed)
    letters = np.array(list(string.ascii_uppercase))
    syms: list[str] = []
    while len(syms) < w.symbols:
        s = "".join(letters[rng.integers(0, 26, 4)])
        if s not in syms:
            syms.append(s)
    return tuple(syms)


class OpRunner:
    """Runs ops against the engine's public entry points."""

    def __init__(self, spark, tracer, data_dir: str, lake_root: str,
                 w: Workload, seed: int):
        import __spark_entry__ as entry
        from big_data_pipeline_spark import pipeline

        self.spark, self.tracer, self.data_dir = spark, tracer, data_dir
        self.lake_root, self.w, self.seed = lake_root, w, seed
        self.queries = entry.queries()
        self.pipeline = pipeline
        self.symbols = pipeline_symbols(w, seed)
        self._lakes = 0

    def run_op(self, op: str, tag: str, collect: bool):
        """Run one op; return its output rows when ``collect``."""
        with self.tracer.span(f"{tag}/{op}", "op"):
            if op == PIPELINE:
                return self._pipeline(op, tag, collect)
            first = "drain" if op.startswith("stream_") else "build"
            with self.tracer.span(f"{tag}/{op}/{first}", first, f"{tag}/{op}/{first}"):
                df = self.queries[op](self.spark, self.data_dir)
            with self.tracer.span(f"{tag}/{op}/execute", "execute", f"{tag}/{op}/execute"):
                if collect:
                    return list(df.columns), [tuple(r) for r in df.collect()]
                df.write.mode("overwrite").format("noop").save()
        return None

    def _pipeline(self, op: str, tag: str, collect: bool):
        p = self.pipeline
        self._lakes += 1
        lake = os.path.join(self.lake_root, f"lake-{self._lakes}")
        cfg = p.PipelineConfig(base_dir=lake, symbols=self.symbols,
                               periods=self.w.periods, seed=self.seed)
        try:
            for stage in (p.ingest, p.transform, p.combine, p.predict):
                name = stage.__name__
                with self.tracer.span(f"{tag}/{op}/{name}", "pipeline", f"{tag}/{op}/{name}"):
                    stage(self.spark, cfg)
            if collect:
                df = self.spark.read.parquet(cfg.layer("predictions"))
                return list(df.columns), [tuple(r) for r in df.collect()]
        finally:
            shutil.rmtree(lake, ignore_errors=True)
        return None

    def fetch_stub_s(self) -> float:
        """Time of the ``synthetic_bars`` fetch stand-in for one daily run."""
        import time

        t = time.perf_counter()
        for s in self.symbols:
            self.pipeline.synthetic_bars(s, self.w.periods, self.seed)
        return time.perf_counter() - t


# ---------------------------------------------------------------- checks

def check_pipeline(cols, rows, symbols, periods: int, seed: int) -> str | None:
    """Predictions against a numpy ``lstsq`` fit of the generator's bars.

    Tolerance: 0.01 on ``predicted_close`` (one unit of its 2-decimal
    rounding) and 1e-4 + 1e-6*mse on ``mse`` (its 4-decimal rounding);
    ``last_date`` must match exactly."""
    from big_data_pipeline_spark.pipeline import synthetic_bars

    got = {r[cols.index("symbol")]: dict(zip(cols, r)) for r in rows}
    if sorted(got) != sorted(symbols):
        return f"symbols {sorted(got)} != {sorted(symbols)}"
    for s in symbols:
        bars = synthetic_bars(s, periods, seed)
        x = bars[[f"{m}_{s}" for m in ("Open", "High", "Low", "Close", "Volume")]].to_numpy(float)
        design = np.column_stack([np.ones(len(x)), x])
        y = x[1:, 3]
        coef, *_ = np.linalg.lstsq(design[:-1], y, rcond=None)
        pred = float(design[-1] @ coef)
        mse = float(np.mean((y - design[:-1] @ coef) ** 2))
        last = pd.Timestamp(bars["Datetime"].iloc[-1]).tz_convert("UTC").strftime("%Y-%m-%d %H:%M:%S")
        g = got[s]
        if abs(g["predicted_close"] - pred) > 0.01 + 1e-9:
            return f"{s}: predicted_close {g['predicted_close']} vs {pred:.6f}"
        if abs(g["mse"] - mse) > 1e-4 + 1e-6 * mse:
            return f"{s}: mse {g['mse']} vs {mse:.6f}"
        if g["last_date"] != last:
            return f"{s}: last_date {g['last_date']} vs {last}"
    return None


def check_query(name: str, cols, rows, duck, oracle_sql: dict) -> str | None:
    """Spark output against the query's DuckDB twin on the same inputs,
    compared with the canonical cell hashing of ``tools/check_oracle.py``."""
    import check_oracle as co

    if name not in oracle_sql:
        return "no DuckDB twin"
    rel = duck.sql(oracle_sql[name])
    dcols, drows = list(rel.columns), rel.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"rows {len(rows)} != {len(drows)}"
    if co._canon_rows(cols, rows)[1] != co._canon_rows(dcols, drows)[1]:
        return "values differ"
    return None
