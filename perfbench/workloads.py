"""The four perfbench workloads.

Each workload loads its generated inputs in ``__init__`` (part of set-up,
together with any oracle it needs) and exposes one *pass* as a list of
queries. A query is a function of a tracer: it builds the tempo_spark
plan through ``tracer.call`` and runs the action, returning a result that
``outcome`` turns into an order-independent signature plus the verdict of
the workload's own output checks. Signatures must be identical on every
pass; the runner compares them with the warm-up's.
"""

from __future__ import annotations

import os
import random
from typing import Any, Callable

import duckdb
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, FloatType

from tempo_spark import IntervalsDF, TSDF
from tempo_spark.pipeline.prepare import prepare_corpus

from spans import BUILD, EAGER

Query = tuple[str, Callable[[Any], Any]]

#: decimals kept for float columns in digests: sums whose order depends on
#: shuffle arrival may differ in the last bits, which rounding absorbs
DIGEST_DECIMALS = 4


def digest(df: DataFrame) -> tuple[int, int]:
    """(row count, order-independent checksum over every column).

    ``count()`` alone would let Catalyst prune computed columns; hashing
    all of them keeps the whole plan in the measured action."""
    cols = [
        F.round(F.col(f"`{f.name}`"), DIGEST_DECIMALS).alias(f.name)
        if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    row = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.pmod(F.xxhash64(F.struct(*cols)), F.lit(1 << 30))), F.lit(0)),
    ).collect()[0]
    return int(row[0]), int(row[1])


def _parquet(inputs: str, name: str) -> str:
    return os.path.join(inputs, f"{name}.parquet")


class Workload:
    name: str
    input_rows: int
    #: untimed passes after the cold one, before measuring
    warm_passes = 6

    def queries(self) -> list[Query]:
        raise NotImplementedError

    def outcome(self, index: int, result) -> tuple[Any, bool]:
        """(signature, checks passed) for query ``index``'s result."""
        return result, True


class TicksAsof(Workload):
    """trades ⋈ quotes as-of per symbol → EMA → vwap("m") → TSDF.write."""

    name = "ticks_asof"
    warm_passes = 8
    table = "perfbench_ticks_vwap"
    # engine-neutral integer checksum of the (trade, matched quote) pairs
    PAIR_HASH = "(trade_id * 2654435761 + coalesce({qid}, -1)) % 4294967291"

    def __init__(self, spark, inputs: str, seed: int) -> None:
        self.spark = spark
        self.trades = spark.read.parquet(_parquet(inputs, "trades"))
        self.quotes = spark.read.parquet(_parquet(inputs, "quotes"))
        self.input_rows = sum(
            pq.read_metadata(_parquet(inputs, n)).num_rows for n in ("trades", "quotes")
        )
        with duckdb.connect() as con:
            self.oracle = tuple(int(v) for v in con.execute(f"""
                SELECT count(*), count(q.quote_id), sum({self.PAIR_HASH.format(qid='q.quote_id')})
                FROM read_parquet('{_parquet(inputs, "trades")}') t
                ASOF LEFT JOIN read_parquet('{_parquet(inputs, "quotes")}') q
                  ON t.symbol = q.symbol AND t.ts >= q.ts
            """).fetchone())

    def _pipeline(self, tr):
        trades = tr.call("tsdf", "TSDF", TSDF, self.trades, ts_col="ts", series_ids=["symbol"], kind=BUILD)
        quotes = tr.call("tsdf", "TSDF", TSDF, self.quotes, ts_col="ts", series_ids=["symbol"], kind=BUILD)
        joined = tr.call("operators.asof", "TSDF.asofJoin", trades.asofJoin, quotes, right_prefix="q")
        smooth = tr.call("tsdf", "TSDF.EMA", joined.EMA, "q_mid", window=20)
        bars = tr.call("tsdf", "TSDF.vwap", smooth.vwap, "m", volume_col="volume", price_col="ema_q_mid")
        tr.call("sources.io", "TSDF.write", bars.write, self.spark, self.table, kind=EAGER)
        return joined

    def queries(self) -> list[Query]:
        return [("asof_ema_vwap_write", self._pipeline)]

    def outcome(self, index, joined):
        written = digest(self.spark.read.table(self.table))
        pairs = joined.df.agg(
            F.count(F.lit(1)),
            F.count("q_quote_id"),
            F.sum(F.expr(self.PAIR_HASH.format(qid="q_quote_id"))),
        ).collect()[0]
        return written, tuple(int(v) for v in pairs) == self.oracle


class SensorGrid(Workload):
    """resample → interpolate → withRangeStats per device, plus
    make_disjoint over the devices' overlapping alarm intervals."""

    name = "sensor_grid"

    def __init__(self, spark, inputs: str, seed: int) -> None:
        self.readings = spark.read.parquet(_parquet(inputs, "readings"))
        self.alarms = spark.read.parquet(_parquet(inputs, "alarms"))
        self.input_rows = sum(
            pq.read_metadata(_parquet(inputs, n)).num_rows for n in ("readings", "alarms")
        )

    def _pipeline(self, tr):
        readings = tr.call("tsdf", "TSDF", TSDF, self.readings, ts_col="ts", series_ids=["device"], kind=BUILD)
        grid = tr.call("operators.resample", "TSDF.resample", readings.resample, "1 minute", "mean")
        filled = tr.call("operators.interpolation", "TSDF.interpolate", grid.interpolate, "linear")
        stats = tr.call(
            "tsdf", "TSDF.withRangeStats", filled.withRangeStats,
            colsToSummarize=["temp"], rangeBackWindowSecs=600,
        )
        alarms = tr.call(
            "intervals", "IntervalsDF", IntervalsDF, self.alarms, "start_ts", "end_ts", ["device"], kind=BUILD
        )
        disjoint = tr.call("intervals", "IntervalsDF.make_disjoint", alarms.make_disjoint)
        return digest(stats.df), digest(disjoint.df)

    def queries(self) -> list[Query]:
        return [("grid_and_alarms", self._pipeline)]


class CorpusPrepare(Workload):
    """prepare_corpus with the legacy bench.py b29 arguments."""

    name = "corpus_prepare"
    warm_passes = 1

    def __init__(self, spark, inputs: str, seed: int) -> None:
        self.docs = spark.read.parquet(_parquet(inputs, "docs"))
        self.input_rows = pq.read_metadata(_parquet(inputs, "docs")).num_rows
        planted = pq.read_table(_parquet(inputs, "planted")).to_pylist()
        self.exact_pairs = [(p["orig_id"], p["dup_id"]) for p in planted if p["kind"] == "exact"]

    def _prepared(self):
        return prepare_corpus(
            self.docs.select("doc_id", "text", "lang"),
            normalize=True,
            min_quality=0.2,
            max_dup_2gram_frac=0.5,
            exact_dedup=True,
            near_dedup_threshold=0.8,
            mix_group_col="lang",
            mix_shares={"en": 0.5, "de": 0.25, "es": 0.125, "fr": 0.125},
            pack_tokens=2048,
            n_shards=64,
        ).select("doc_id", "split", "pack_id", "shard_id")

    def _pipeline(self, tr):
        out = tr.call("pipeline.prepare", "prepare_corpus", self._prepared)
        return digest(out), out

    def queries(self) -> list[Query]:
        return [("prepare_corpus", self._pipeline)]

    def outcome(self, index, result):
        signature, out = result
        kept = {r[0] for r in out.select("doc_id").collect()}
        survivors = sum(1 for a, b in self.exact_pairs if a in kept and b in kept)
        return signature, survivors == 0


class AnalystQueries(Workload):
    """A seeded sequence of small TSDF queries over an in-memory frame."""

    name = "analyst_queries"
    KINDS = ("asof", "resample_interpolate", "range_stats", "ema", "slice", "bars")
    PER_KIND = 4
    SUBSET = 10

    def __init__(self, spark, inputs: str, seed: int) -> None:
        frame = pq.read_table(_parquet(inputs, "frame"))
        quotes = pq.read_table(_parquet(inputs, "quotes"))
        self.input_rows = frame.num_rows + quotes.num_rows
        self.base = TSDF(spark.createDataFrame(frame.to_pandas()), ts_col="ts", series_ids=["sid"])
        self.quotes = TSDF(spark.createDataFrame(quotes.to_pandas()), ts_col="ts", series_ids=["sid"])
        series = sorted(set(frame.column("sid").to_pylist()))
        ts = frame.column("ts").to_pylist()
        t_min, t_max = min(ts), max(ts)
        rng = random.Random(seed)
        plan = [k for k in self.KINDS for _ in range(self.PER_KIND)]
        rng.shuffle(plan)
        self.plan = []
        for kind in plan:
            subset = sorted(rng.sample(series, min(self.SUBSET, len(series))))
            start = t_min + (t_max - t_min) * rng.uniform(0.0, 0.5)
            self.plan.append((kind, {
                "subset": subset,
                "window": rng.choice((300, 600)),
                "lags": rng.choice((10, 20)),
                "start": start,
                "end": start + (t_max - t_min) * 0.25,
            }))

    def _query(self, kind: str, p: dict) -> Callable:
        def run(tr):
            if kind == "slice":
                sliced = tr.call("tsdf", "TSDF.between", self.base.between, p["start"], p["end"])
                out = tr.call("tsdf", "TSDF.latest", sliced.latest, 5)
                return digest(out.df)
            left = tr.call("tsdf", "TSDF.where", self.base.where, F.col("sid").isin(p["subset"]))
            if kind == "asof":
                out = tr.call("operators.asof", "TSDF.asofJoin", left.asofJoin, self.quotes, right_prefix="q")
            elif kind == "resample_interpolate":
                grid = tr.call("operators.resample", "TSDF.resample", left.resample, "1 minute", "mean")
                out = tr.call("operators.interpolation", "TSDF.interpolate", grid.interpolate, "linear")
            elif kind == "range_stats":
                out = tr.call(
                    "tsdf", "TSDF.withRangeStats", left.withRangeStats,
                    colsToSummarize=["value"], rangeBackWindowSecs=p["window"],
                )
            elif kind == "ema":
                out = tr.call("tsdf", "TSDF.EMA", left.EMA, "value", window=p["lags"])
            else:
                out = tr.call("operators.resample", "TSDF.calc_bars", left.calc_bars, "5 minutes", metricCols=["value"])
            return digest(out.df)

        return run

    def queries(self) -> list[Query]:
        return [(kind, self._query(kind, p)) for kind, p in self.plan]


WORKLOADS = {w.name: w for w in (TicksAsof, SensorGrid, CorpusPrepare, AnalystQueries)}
