"""Changepoint (operators/changepoint.py) + drawdown/winsorize
(operators/robust.py)."""

import datetime as dt
import math

import pytest

from tempo_spark import TSDF


def _mk(spark, vals, sym="a"):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (sym, base + dt.timedelta(seconds=i), None if v is None else float(v))
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "sym string, ts timestamp, v double")


def _py_changepoint(vals):
    from fractions import Fraction

    # exact-decimal sums like the operator: grid values are multiples of
    # 1e-6, sums accumulate exactly, ONE cast to double per sum
    yi = [math.floor(v * 1e6 + 0.5) for v in vals if v is not None]
    n = len(yi)
    tot = sum(yi)
    best = None
    run = 0
    for k in range(1, n):
        run += yi[k - 1]
        sl = float(Fraction(run, 10**6))
        sr = float(Fraction(tot - run, 10**6))
        ml, mr = sl / k, sr / (n - k)
        d = ml - mr
        score = (k * (n - k) / n) * (d * d)
        if best is None or score > best[0]:
            best = (score, k, ml, mr)
    return best


class TestChangepoint:
    def test_finds_planted_shift_exactly(self, spark):
        vals = [1.0] * 12 + [4.0] * 8
        t = TSDF(_mk(spark, vals), ts_col="ts", series_ids=["sym"])
        r = t.changepoint("v").collect()[0]
        assert (r.n_left, r.n) == (12, 20)
        assert (r.mean_left, r.mean_right) == (1.0, 4.0)
        # score = k(n-k)/n * d^2 = 12*8/20 * 9 = 43.2
        assert abs(r.score - 43.2) < 1e-12
        assert r.split_ts == dt.datetime(2024, 1, 1, 0, 0, 11)

    def test_matches_python_model_with_noise_and_nulls(self, spark):
        import random

        rng = random.Random(5)
        vals = [rng.uniform(0, 1) for _ in range(40)]
        vals += [rng.uniform(2, 3) for _ in range(25)]
        vals[7] = None  # null rows are excluded from the statistic
        t = TSDF(_mk(spark, vals), ts_col="ts", series_ids=["sym"])
        r = t.changepoint("v").collect()[0]
        score, k, ml, mr = _py_changepoint(vals)
        assert r.n_left == k and r.score == score
        assert r.mean_left == ml and r.mean_right == mr
        assert 38 <= r.n_left <= 40  # the shift sits at the planted seam

    def test_null_series_and_short_series(self, spark):
        base = dt.datetime(2024, 1, 1)
        rows = [
            (None, base + dt.timedelta(seconds=i), float(i)) for i in range(6)
        ] + [("b", base, 1.0)]  # 1 usable row: no split possible
        df = spark.createDataFrame(rows, "sym string, ts timestamp, v double")
        t = TSDF(df, ts_col="ts", series_ids=["sym"])
        got = {r.sym: r for r in t.changepoint("v").collect()}
        assert set(got) == {None}  # 'b' emits nothing; NULL key is real
        assert got[None].n == 6
        with pytest.raises(ValueError, match="value_col"):
            t.changepoint("nope")

    def test_no_series_ids(self, spark):
        vals = [0.0] * 5 + [10.0] * 5
        df = _mk(spark, vals).drop("sym")
        t = TSDF(df, ts_col="ts", series_ids=[])
        r = t.changepoint("v").collect()
        assert len(r) == 1 and r[0].n_left == 5
        assert "__cp_g" not in t.changepoint("v").columns


class TestDrawdown:
    def test_peak_and_drawdown(self, spark):
        vals = [10.0, 12.0, 8.0, 9.0, None, 15.0, 11.0]
        t = TSDF(_mk(spark, vals), ts_col="ts", series_ids=["sym"])
        rows = t.withDrawdown("v").df.orderBy("ts").collect()
        assert [r.peak for r in rows] == [10, 12, 12, 12, 12, 15, 15]
        assert [r.drawdown for r in rows] == [0, 0, 4, 3, None, 0, 4]
        assert abs(rows[2].drawdown_pct - 4 / 12) < 1e-12
        assert rows[4].drawdown_pct is None
        # zero peak: pct NULL, never a divide-by-zero
        t0 = TSDF(_mk(spark, [0.0, -1.0]), ts_col="ts", series_ids=["sym"])
        r0 = t0.withDrawdown("v").df.orderBy("ts").collect()
        assert r0[0].drawdown_pct is None and r0[1].drawdown == 1.0
        with pytest.raises(ValueError, match="reserved"):
            t.withDrawdown("v").withDrawdown("v")
        # module-level twin (with_drawdown) returns the same frame
        from tempo_spark.operators.robust import with_drawdown

        same = with_drawdown(t, "v").orderBy("ts").collect()
        assert [r.peak for r in same] == [r.peak for r in rows]


class TestWinsorize:
    def test_clips_to_series_percentiles(self, spark):
        vals = [float(i) for i in range(1, 11)]  # 1..10
        t = TSDF(_mk(spark, vals), ts_col="ts", series_ids=["sym"])
        rows = t.winsorize("v", 0.1, 0.9).df.orderBy("ts").collect()
        # interpolated p10 of 1..10 = 1.9, p90 = 9.1
        assert rows[0].v_wz == 1.9 and rows[-1].v_wz == 9.1
        assert rows[4].v_wz == 5.0  # interior untouched
        assert rows[0].v == 1.0  # raw column untouched

    def test_null_series_null_values_and_validation(self, spark):
        base = dt.datetime(2024, 1, 1)
        rows = [
            (sym, base + dt.timedelta(seconds=i), v)
            for sym in ("a", None)
            for i, v in enumerate([1.0, None, 100.0, 2.0, 3.0])
        ]
        df = spark.createDataFrame(rows, "sym string, ts timestamp, v double")
        t = TSDF(df, ts_col="ts", series_ids=["sym"])
        got = {}
        for r in t.winsorize("v", 0.0, 0.5).df.collect():
            got.setdefault(r.sym, []).append((r.v, r.v_wz))
        assert set(got) == {"a", None}
        nkey = lambda p: tuple(-1e18 if x is None else x for x in p)
        # NULL key is a real series: identical content, identical clips
        assert sorted(got["a"], key=nkey) == sorted(got[None], key=nkey)
        for v, wz in got["a"]:
            if v is None:
                assert wz is None
            else:
                assert wz <= 2.5  # p50 of (1,2,3,100) = 2.5
        with pytest.raises(ValueError, match="lower"):
            t.winsorize("v", 0.9, 0.1)
        # no series ids: global percentiles
        tg = TSDF(df.drop("sym"), ts_col="ts", series_ids=[])
        assert tg.winsorize("v", 0.0, 0.5).df.count() == 10


def _py_changepoints(vals, rounds, min_size=2, min_score=None):
    """Parallel binary segmentation model mirroring the operator exactly
    (exact decimal sums via integer micros + Fraction casts)."""
    from fractions import Fraction

    def best(seq):
        yi = [math.floor(v * 1e6 + 0.5) for v in seq]
        n = len(yi)
        tot = sum(yi)
        b = None
        run = 0
        for k in range(1, n):
            run += yi[k - 1]
            sl = float(Fraction(run, 10**6))
            sr = float(Fraction(tot - run, 10**6))
            ml, mr = sl / k, sr / (n - k)
            d = ml - mr
            score = (k * (n - k) / n) * (d * d)
            if b is None or score > b[0]:
                b = (score, k, ml, mr)
        return b

    segs = {0: [v for v in vals if v is not None]}
    offsets = {0: 0}
    out = []
    for rnd in range(rounds):
        nxt, nxtoff = {}, {}
        any_acc = False
        for sid in sorted(segs):
            seq = segs[sid]
            if len(seq) < 2:
                continue
            b = best(seq)
            if b is None:
                continue
            score, k, ml, mr = b
            ok = k >= min_size and (len(seq) - k) >= min_size
            if min_score is not None:
                ok = ok and score >= min_score
            if not ok:
                nxt[sid] = seq
                nxtoff[sid] = offsets[sid]
                continue
            any_acc = True
            out.append((rnd, sid, offsets[sid] + k - 1, k, len(seq), ml, mr, score))
            nxt[2 * sid + 1] = seq[:k]
            nxtoff[2 * sid + 1] = offsets[sid]
            nxt[2 * sid + 2] = seq[k:]
            nxtoff[2 * sid + 2] = offsets[sid] + k
        segs, offsets = nxt, nxtoff
        if not any_acc:
            break
    return out


class TestChangepoints:
    def test_two_planted_shifts_segment_exactly(self, spark):
        vals = [1.0] * 10 + [5.0] * 10 + [9.0] * 10
        t = TSDF(_mk(spark, vals), ts_col="ts", series_ids=["sym"])
        rows = sorted(
            t.changepoints("v", rounds=2).collect(),
            key=lambda r: (r.round, r.segment_id),
        )
        model = _py_changepoints(vals, 2)
        assert len(rows) == len(model)
        base = dt.datetime(2024, 1, 1)
        for r, (rnd, sid, pos, k, n, ml, mr, score) in zip(rows, model):
            assert (r.round, r.segment_id, r.n_left, r.n) == (rnd, sid, k, n)
            assert (r.mean_left, r.mean_right, r.score) == (ml, mr, score)
            assert r.split_ts == base + dt.timedelta(seconds=pos)
        # the two planted seams are both found
        seams = {r.split_ts for r in rows if r.round <= 1}
        assert base + dt.timedelta(seconds=9) in seams
        assert base + dt.timedelta(seconds=19) in seams

    def test_min_score_and_min_size_stop_recursion(self, spark):
        import random

        rng = random.Random(21)
        vals = [rng.uniform(0, 0.2) for _ in range(20)] + [
            5 + rng.uniform(0, 0.2) for _ in range(20)
        ]
        t = TSDF(_mk(spark, vals), ts_col="ts", series_ids=["sym"])
        # huge min_score: only the real seam passes, recursion dries up
        rows = t.changepoints("v", rounds=4, min_score=50.0).collect()
        assert len(rows) == 1 and rows[0].n_left == 20
        # min_size larger than any segment half: nothing accepted
        assert t.changepoints("v", rounds=2, min_size=30).count() == 0
        model = _py_changepoints(vals, 4, min_score=50.0)
        assert len(model) == 1 and model[0][3] == 20
        with pytest.raises(ValueError, match="rounds"):
            t.changepoints("v", rounds=0)
        with pytest.raises(ValueError, match="min_size"):
            t.changepoints("v", min_size=0)

    def test_multiseries_and_model_parity_deep(self, spark):
        import random

        rng = random.Random(31)
        base = dt.datetime(2024, 1, 1)
        rows = []
        series_vals = {}
        for sym in ("a", "b"):
            vals = []
            for level in (0.0, 3.0, 1.0, 6.0):
                vals += [level + rng.uniform(-0.2, 0.2) for _ in range(15)]
            series_vals[sym] = vals
            rows += [
                (sym, base + dt.timedelta(seconds=i), v)
                for i, v in enumerate(vals)
            ]
        df = spark.createDataFrame(rows, "sym string, ts timestamp, v double")
        t = TSDF(df, ts_col="ts", series_ids=["sym"])
        got = {}
        for r in t.changepoints("v", rounds=3, min_size=3).collect():
            got.setdefault(r.sym, []).append(
                (r.round, r.segment_id, r.n_left, r.n, r.score)
            )
        for sym in ("a", "b"):
            model = [
                (rnd, sid, k, n, score)
                for rnd, sid, pos, k, n, ml, mr, score in _py_changepoints(
                    series_vals[sym], 3, min_size=3
                )
            ]
            assert sorted(got[sym]) == sorted(model)


class TestReviewRegressionsR11:
    def test_changepoints_dup_ts_realized_segments_match_reported(self, spark):
        """Re-segmentation follows the SCORING order, so children stats
        observed in the next round match the reported n_left/n even when
        rows tie on timestamp (r11 review: ts-comparison sent both tied
        rows left)."""
        base = dt.datetime(2024, 1, 1)
        offs = [0, 1, 2, 2, 3, 4]  # ties at offset 2 straddle the seam
        vals = [100.0, 100.0, 100.0, 0.0, 0.0, 0.0]
        df = spark.createDataFrame(
            [("a", base + dt.timedelta(seconds=o), v)
             for o, v in zip(offs, vals)],
            "sym string, ts timestamp, v double",
        )
        t = TSDF(df, ts_col="ts", series_ids=["sym"])
        rows = {
            (r.round, r.segment_id): r
            for r in t.changepoints("v", rounds=2, min_size=1).collect()
        }
        r0 = rows[(0, 0)]
        assert (r0.n_left, r0.n) == (3, 6)
        assert (r0.mean_left, r0.mean_right) == (100.0, 0.0)
        # round-1 children must carry EXACTLY n_left / n - n_left rows
        child_ns = {
            sid: rows[(1, sid)].n for sid in (1, 2) if (1, sid) in rows
        }
        assert all(n == 3 for n in child_ns.values())
        # and each child is internally constant -> its split is a tie
        # between equal means (score 0) or filtered; either way no child
        # may report a mixed segment (mean_left != mean_right with a
        # non-trivial score)
        for sid in child_ns:
            r = rows[(1, sid)]
            assert r.score == 0.0

    def test_nan_values_behave_like_null(self, spark):
        nan = float("nan")
        vals = [10.0, nan, 5.0, 12.0]
        t = TSDF(_mk(spark, vals), ts_col="ts", series_ids=["sym"])
        # drawdown: NaN row gets NULL dd, the peak is NOT poisoned
        rows = t.withDrawdown("v").df.orderBy("ts").collect()
        assert [r.peak for r in rows] == [10.0, 10.0, 10.0, 12.0]
        assert rows[1].drawdown is None
        assert rows[2].drawdown == 5.0
        # winsorize: bounds fit on non-NaN values; NaN input -> NULL out
        wz = t.winsorize("v", 0.0, 0.5).df.orderBy("ts").collect()
        assert wz[1].v_wz is None
        assert all(
            r.v_wz is not None and r.v_wz <= 10.0
            for i, r in enumerate(wz) if i != 1
        )
        # changepoint / pairwiseCorr: no ANSI cast crash, NaN excluded
        cp = t.changepoint("v").collect()[0]
        assert cp.n == 3  # NaN row excluded like a NULL
        df2 = t.df.withColumn("v2", t.df.v * 2)
        pc = TSDF(df2, ts_col="ts", series_ids=["sym"]).pairwiseCorr(
            ["v", "v2"]
        ).collect()[0]
        assert pc.n_pairs == 3 and abs(pc.corr - 1.0) < 1e-9

    def test_forecast_reserved_guards(self, spark):
        import pyspark.sql.functions as F

        t = TSDF(
            _mk(spark, [1.0, 2.0]).withColumn("h", F.lit(1)),
            ts_col="ts", series_ids=["sym"],
        )
        with pytest.raises(ValueError, match="reserved"):
            t.forecast_naive("v", 2, "1 minute")
        t2 = TSDF(
            _mk(spark, [1.0, 2.0]).withColumn("yhat", F.lit(1.0)),
            ts_col="ts", series_ids=["sym"],
        )
        with pytest.raises(ValueError, match="reserved"):
            t2.forecast_naive("v", 2, "1 minute")

    def test_grid6_quantization_and_nan(self, spark):
        """functions.sql.grid6 — THE shared 1e-6 quantizer: hardened
        floor on reals, NULL for NULL and NaN inputs."""
        import pyspark.sql.functions as F

        from tempo_spark.functions.sql import grid6

        df = spark.createDataFrame(
            [(1.2345678,), (float("nan"),), (None,), (-1.9999996,)],
            "v double",
        )
        got = [r.g for r in df.select(grid6("v").alias("g")).collect()]
        assert got == [1.234568, None, None, -2.0]  # floor(x*1e6+.5)/1e6
        assert df.select(grid6(F.col("v") * 2).alias("g")).count() == 4


class TestSqlBuildQuoting:
    """r12 one-parse plan build: names with SQL metacharacters must
    round-trip through the quoted fragments (changepoint/_best_splits,
    with_drawdown, winsorize all render SQL text now)."""

    def test_quoted_names_match_plain(self, spark):
        vals = [1, 1, 2, 1, 9, 9, 8, 9, 1, 2, 1, 1]
        df = _mk(spark, vals)
        t = TSDF(df, ts_col="ts", series_ids=["sym"])
        odd = df.withColumnRenamed("sym", "key col").withColumnRenamed(
            "v", "va'l"
        )
        to = TSDF(odd, ts_col="ts", series_ids=["key col"])

        a = t.changepoints("v", rounds=2).orderBy("segment_id").collect()
        b = to.changepoints("va'l", rounds=2).orderBy("segment_id").collect()
        key = lambda r: (r.round, r.segment_id, r.split_ts, r.n_left,
                         r.n, r.mean_left, r.mean_right, r.score)
        assert [key(r) for r in a] == [key(r) for r in b]

        da = t.withDrawdown("v", out="dd x", out_pct="p`ct").df
        db = to.withDrawdown("va'l").df
        ra = [(r.peak, r["dd x"], r["p`ct"]) for r in da.orderBy("ts").collect()]
        rb = [(r.peak, r.drawdown, r.drawdown_pct) for r in db.orderBy("ts").collect()]
        assert ra == rb

        wa = t.winsorize("v", 0.1, 0.9, out="w z").df.orderBy("ts").collect()
        wb = to.winsorize("va'l", 0.1, 0.9).df.orderBy("ts").collect()
        assert [r["w z"] for r in wa] == [r["va'l_wz"] for r in wb]
