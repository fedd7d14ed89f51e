"""The benchmark's two workloads.

``queries``: a seed-permuted closed loop over registry queries.  One
operation is ``QuerySpec.fn`` (plan construction, which may run Spark jobs),
Catalyst planning through ``executedPlan()``, and execution into Spark's
``noop`` sink.

``pipeline_requests``: a closed loop of ``run_pipeline`` requests over a
seeded market universe, against a store an initial backfill request filled.

Each workload object exposes ``setup()`` (the warm-up, returning each
operation's set-up latencies), ``passes(rng)`` (an endless iterator of passes,
each a list of ``(label, callable)``) and a check of the results.  Tracing
hooks are installed by ``instrument()`` and do nothing while the tracer is
disabled.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import sys
import time
from datetime import date, datetime, timedelta

import datagen

TABLES_SF = 0.01
TABLES_SEED = 42

#: the query mix: TPC-H shapes, windows, streaming drains, the Arrow codec
#: boundary and construction-heavy curation loops (see README.md)
QUERY_MIX = (
    "q5_region_revenue",
    "ts_features",
    "stream_sliding_counts",
    "minhash_lsh_pairs",
    "quality_classifier",
)
STREAM_QUERIES = ("stream_sliding_counts",)
WARM_PASSES = 2

PACKAGE = "multi_source_financial_data_pipeline_spark"


def ensure_tables(root: str) -> str:
    """Generate the query tables once per checkout; later runs reuse them."""
    out = os.path.join(root, ".perfbench", f"tables-sf{TABLES_SF}-seed{TABLES_SEED}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    datagen.write_tables(tmp, TABLES_SF, TABLES_SEED)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _wrap(tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        span = tracer.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.close(span)

    return traced


class QueryWorkload:
    def __init__(self, spark, tracer, tables: str):
        from multi_source_financial_data_pipeline_spark.plans.registry import QUERIES

        self.spark = spark
        self.tracer = tracer
        self.tables = tables
        self.specs = {n: QUERIES[n] for n in QUERY_MIX}
        self.last_df: dict = {}

    def instrument(self) -> None:
        """Time every ``sources.load_table`` call, wherever it was imported."""
        from multi_source_financial_data_pipeline_spark.sources import tables

        original = tables.load_table
        traced = _wrap(self.tracer, "sources.load_table", original)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE):
                if getattr(mod, "load_table", None) is original:
                    mod.load_table = traced

    def run_query(self, name: str):
        t = self.tracer
        with t.span("plans.build"):
            df = self.specs[name].fn(self.spark, self.tables)
        with t.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        with t.span("exec"):
            df.write.format("noop").mode("overwrite").save()
        self.last_df[name] = df
        return name

    def setup(self) -> dict[str, list[float]]:
        """``WARM_PASSES`` passes in mix order; returns each query's
        latencies, the cold one first.  After one pass the next still runs
        10-15% slower than the one after it (see README.md)."""
        lat = {name: [] for name in QUERY_MIX}
        for _ in range(WARM_PASSES):
            for name in QUERY_MIX:
                t0 = time.perf_counter()
                self.run_query(name)
                lat[name].append(time.perf_counter() - t0)
        return lat

    def passes(self, rng: random.Random):
        """Endless passes, each every query once in a seeded order."""
        while True:
            order = list(QUERY_MIX)
            rng.shuffle(order)
            yield [(name, functools.partial(self.run_query, name)) for name in order]

    def check(self) -> dict[str, str]:
        """Compare every query's last measured result with its stored oracle
        digest; returns ``{query: reason}`` for each mismatch."""
        import digests

        expected = digests.load_expected()
        if expected["tables"] != {"sf": TABLES_SF, "seed": TABLES_SEED}:
            return {n: "stored digests were made from other tables" for n in QUERY_MIX}
        bad = {}
        for name in QUERY_MIX:
            want = expected["digests"].get(name)
            df = self.last_df.get(name)
            if want is None or df is None:
                bad[name] = "no stored digest" if want is None else "never ran"
                continue
            got = digests.digest(df.toPandas())
            if got != want:
                bad[name] = f"rows {got['rows']} vs oracle {want['rows']}, digest differs"
        return bad


# -- pipeline_requests ----------------------------------------------------------

N_TICKERS = 40
N_DAYS = 520
UNIVERSE_START = date(2023, 1, 2)  # a Monday, as sources.synthetic assumes
TICKERS = tuple(f"T{i:03d}" for i in range(N_TICKERS))
STORED_DAYS = 260  # the backfill stores every ticker for days [0, 260)
REQUEST_TICKERS = 8
REQUEST_DAYS = 120
REQUEST_STEP = 60  # each window repeats the previous one's second half
BACKFILL = (TICKERS, 0, STORED_DAYS - 1)
TOLERANCE_PCT = 0.5


def bday(i: int) -> date:
    return UNIVERSE_START + timedelta(days=(i // 5) * 7 + i % 5)


def request_stream(rng: random.Random):
    """Endless seeded requests ``(tickers, day_lo, day_hi)``, all of one
    shape: ``REQUEST_TICKERS`` tickers over ``REQUEST_DAYS`` business days,
    of which the first ``REQUEST_STEP`` are already stored.  The seed deals
    the tickers into blocks; each block's window slides forward from the
    end of the backfill until the universe runs out, then the next block
    starts.  After twenty requests the seed deals again, and later windows
    repeat stored keys; a run makes far fewer."""
    while True:
        order = list(TICKERS)
        rng.shuffle(order)
        for b in range(0, N_TICKERS - REQUEST_TICKERS + 1, REQUEST_TICKERS):
            block = tuple(sorted(order[b:b + REQUEST_TICKERS]))
            start = STORED_DAYS - REQUEST_STEP
            while start + REQUEST_DAYS <= N_DAYS:
                yield block, start, start + REQUEST_DAYS - 1
                start += REQUEST_STEP


class PipelineWorkload:
    def __init__(self, spark, tracer, run_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.inputs = os.path.join(run_dir, "inputs")
        self.db_dir = os.path.join(run_dir, "db")
        self.out_dir = os.path.join(run_dir, "out")
        self.stored: set = set()
        self.offered = 0
        self.saved = 0
        self.mismatches: dict[str, str] = {}

    def generate(self) -> None:
        """Write the seeded universe with ``sources.synthetic`` and load an
        independent pandas copy for the checks (untimed)."""
        import pandas as pd

        from multi_source_financial_data_pipeline_spark.sources import synthetic

        tk = TICKERS
        start = UNIVERSE_START.isoformat()
        frames = {
            "market": synthetic.market_ohlcv(self.spark, tk, start, N_DAYS, seed=self.seed),
            "alt": synthetic.altsource_close(self.spark, tk, start, N_DAYS, seed=self.seed),
            "macro": synthetic.macro_series(self.spark, seed=self.seed),
        }
        for name, df in frames.items():
            df.write.mode("overwrite").parquet(os.path.join(self.inputs, name))
        read = lambda n: pd.read_parquet(os.path.join(self.inputs, n))  # noqa: E731
        market, alt = read("market"), read("alt")
        self.n_macro = len(read("macro"))
        market["date"] = pd.to_datetime(market["date"]).dt.date
        alt["date"] = pd.to_datetime(alt["date"]).dt.date
        self.market = market
        self.pairs = market[["ticker", "date", "close"]].merge(
            alt[["ticker", "date", "close"]], on=["ticker", "date"], suffixes=("_p", "_a")
        ).dropna(subset=["close_p", "close_a"])

    def instrument(self) -> None:
        """Wrap the stage and sink functions ``run_pipeline`` looks up at call
        time.  Cross-validation and macro are stages of several calls, so
        their spans open at the stage's first call and close after its
        last."""
        from multi_source_financial_data_pipeline_spark import pipeline
        from multi_source_financial_data_pipeline_spark.operators import crossval, series_stats
        from multi_source_financial_data_pipeline_spark.sources import sinks

        t = self.tracer
        compare, merge = crossval.compare_sources, crossval.merge_discrepancy_flags
        summary, append = series_stats.global_summary, sinks.append_first_request_wins

        def compare_sources(*args, **kwargs):
            t.open("pipeline.crossval")
            return compare(*args, **kwargs)

        def merge_discrepancy_flags(*args, **kwargs):
            try:
                return merge(*args, **kwargs)
            finally:
                t.close(t.current("pipeline.crossval"))

        def global_summary(*args, **kwargs):
            t.open("pipeline.macro")
            return summary(*args, **kwargs)

        def append_first_request_wins(df, path, key):
            macro = not path.endswith("market_data")
            span = t.open("sinks.append_macro" if macro else "sinks.append")
            try:
                return append(df, path, key)
            finally:
                t.close(span)
                if macro:
                    t.close(t.current("pipeline.macro"))

        pipeline.validate = _wrap(t, "pipeline.validate", pipeline.validate)
        pipeline.transform = _wrap(t, "pipeline.transform", pipeline.transform)
        crossval.compare_sources = compare_sources
        crossval.merge_discrepancy_flags = merge_discrepancy_flags
        series_stats.global_summary = global_summary
        sinks.append_first_request_wins = append_first_request_wins
        sinks.export_csv = _wrap(t, "sinks.export_csv", sinks.export_csv)
        sinks.write_json_report = _wrap(t, "sinks.report", sinks.write_json_report)
        sinks.append_ledger = _wrap(t, "sinks.ledger", sinks.append_ledger)

    def run_request(self, req, index: int):
        from pyspark.sql import functions as F

        from multi_source_financial_data_pipeline_spark.pipeline import PipelineConfig, run_pipeline

        tk, d0, d1 = req
        scan = lambda name: lambda s: s.read.parquet(  # noqa: E731
            os.path.join(self.inputs, name)
        ).filter(F.col("ticker").isin(list(tk)))
        cfg = PipelineConfig(
            tickers=list(tk),
            start_date=bday(d0).isoformat(),
            end_date=bday(d1).isoformat(),
            tolerance_pct=TOLERANCE_PCT,
            out_dir=self.out_dir,
            db_dir=self.db_dir,
        )
        return run_pipeline(
            self.spark, cfg,
            run_ts=datetime(2024, 1, 1, 12, 0, 0) + timedelta(seconds=index),
            market_source=scan("market"),
            alt_source=scan("alt"),
            macro_source=lambda s: s.read.parquet(os.path.join(self.inputs, "macro")),
        )

    def setup(self) -> dict[str, list[float]]:
        """The backfill request: pre-populates the store (and warms the JVM)."""
        t0 = time.perf_counter()
        result = self.run_request(BACKFILL, 0)
        lat = {"backfill": [time.perf_counter() - t0]}
        self.check(BACKFILL, result, "backfill")
        return lat

    def passes(self, rng: random.Random):
        """Endless passes of one seeded request each."""
        for i, req in enumerate(request_stream(rng), start=1):
            yield [(f"request-{i}", functools.partial(self._measured, req, i))]

    def _measured(self, req, index):
        return req, self.run_request(req, index)

    def expected(self, req) -> tuple[set, int]:
        tickers, d0, d1 = req
        tk = set(tickers)
        a, b = bday(d0), bday(d1)
        m = self.market
        win = m[m["ticker"].isin(tk) & (m["date"] >= a) & (m["date"] <= b)]
        keys = set(zip(win["ticker"], win["date"]))
        p = self.pairs
        p = p[p["ticker"].isin(tk) & (p["date"] >= a) & (p["date"] <= b)]
        diff_pct = ((p["close_p"] - p["close_a"]) / p["close_p"] * 100).abs()
        return keys, int((diff_pct > TOLERANCE_PCT).sum())

    def check(self, req, result, label: str) -> bool:
        """Saved-row and discrepancy counts against an independent count over
        the generated inputs; updates the known store contents."""
        keys, n_disc = self.expected(req)
        new = keys - self.stored
        report = result.validation_report["ticker_validation"]["cross_validation"]
        problems = []
        if result.saved_market_rows != len(new):
            problems.append(f"saved {result.saved_market_rows} rows, expected {len(new)}")
        if report.get("discrepancies") != n_disc:
            problems.append(f"{report.get('discrepancies')} discrepancies, expected {n_disc}")
        if result.saved_macro_rows != self.n_macro:
            problems.append(f"saved {result.saved_macro_rows} macro rows, expected {self.n_macro}")
        self.stored |= new
        self.offered += len(keys)
        self.saved += result.saved_market_rows
        if problems:
            self.mismatches[label] = "; ".join(problems)
        return not problems

    def bytes_on_disk(self) -> int:
        total = 0
        for d in (self.db_dir, self.out_dir):
            for base, _, files in os.walk(d):
                total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
        return total
