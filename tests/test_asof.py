import datetime as dt

import pytest

from tempo_spark import TSDF


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def trades_tsdf(trades):
    return TSDF(trades, ts_col="event_ts", series_ids=["symbol"])


@pytest.fixture(scope="module")
def quotes_tsdf(quotes):
    return TSDF(quotes, ts_col="event_ts", series_ids=["symbol"])


def _collect_map(df, ts_col="left_event_ts"):
    return {(r.symbol, str(r[ts_col])): r for r in df.collect()}


class TestAsofJoinDefault:
    def test_basic(self, trades_tsdf, quotes_tsdf):
        out = trades_tsdf.asofJoin(quotes_tsdf, left_prefix="left")
        assert out.df.count() == 8  # every left row survives
        rows = _collect_map(out.df)
        r = rows[("S1", "2020-08-01 00:01:12")]
        assert r.right_bid_pr == 348.10 and str(r.right_event_ts) == "2020-08-01 00:01:05"
        # trade before any quote → nulls
        r0 = rows[("S1", "2020-08-01 00:00:10")]
        assert r0.right_bid_pr is None or str(r0.right_event_ts) == "2020-08-01 00:00:01"

    def test_skip_nulls_true(self, trades_tsdf, quotes_tsdf):
        out = trades_tsdf.asofJoin(quotes_tsdf, left_prefix="left", skipNulls=True)
        rows = _collect_map(out.df)
        # S1 quote at 00:15:00 has null bid; skipNulls keeps the older bid
        r = rows[("S1", "2020-09-01 00:19:12")]
        assert r.right_bid_pr == 358.93
        assert r.right_ask_pr == 365.31

    def test_skip_nulls_false(self, trades_tsdf, quotes_tsdf):
        out = trades_tsdf.asofJoin(quotes_tsdf, left_prefix="left", skipNulls=False)
        rows = _collect_map(out.df)
        # genuine null bid on the latest quote must win
        r = rows[("S1", "2020-09-01 00:19:12")]
        assert r.right_bid_pr is None
        assert r.right_ask_pr == 365.31

    def test_equal_ts_right_visible(self, spark):
        left = TSDF(
            spark.createDataFrame(
                [("A", ts("2020-01-01 00:00:10"), 1.0)],
                "k string, event_ts timestamp, v double",
            ),
            series_ids=["k"],
        )
        right = TSDF(
            spark.createDataFrame(
                [("A", ts("2020-01-01 00:00:10"), 9.0)],
                "k string, event_ts timestamp, q double",
            ),
            series_ids=["k"],
        )
        out = left.asofJoin(right, left_prefix="left").df.collect()
        assert out[0].right_q == 9.0

    def test_tolerance(self, trades_tsdf, quotes_tsdf):
        # 10s tolerance: only joins where quote within 10s survive
        out = trades_tsdf.asofJoin(quotes_tsdf, left_prefix="left", tolerance=10)
        rows = _collect_map(out.df)
        assert rows[("S1", "2020-08-01 00:00:10")].right_bid_pr == 345.11  # 9s old
        assert rows[("S1", "2020-08-01 00:01:12")].right_bid_pr == 348.10  # 7s old
        # S1 trade at 00:19:12 vs latest quote 00:15:00 → 252s old → nulled
        assert rows[("S1", "2020-09-01 00:19:12")].right_ask_pr is None
        assert rows[("S1", "2020-09-01 00:19:12")].right_event_ts is None

    def test_tolerance_infinite_and_invalid(self, trades_tsdf, quotes_tsdf):
        # +inf is no band at all; NaN and -inf are rejected up front
        inf = trades_tsdf.asofJoin(quotes_tsdf, left_prefix="left", tolerance=float("inf"))
        none = trades_tsdf.asofJoin(quotes_tsdf, left_prefix="left")
        assert sorted(inf.df.collect()) == sorted(none.df.collect())
        for bad in (float("nan"), float("-inf")):
            with pytest.raises(ValueError, match="tolerance must be"):
                trades_tsdf.asofJoin(quotes_tsdf, left_prefix="left", tolerance=bad)
            with pytest.raises(ValueError, match="tolerance must be"):
                trades_tsdf.asofJoinMany({"q": quotes_tsdf}, tolerances={"q": bad})

    def test_sequence_col_tiebreak(self, spark):
        left = TSDF(
            spark.createDataFrame(
                [("A", ts("2020-01-01 00:00:10"), 1.0)],
                "k string, event_ts timestamp, v double",
            ),
            series_ids=["k"],
        )
        right = TSDF(
            spark.createDataFrame(
                [
                    ("A", ts("2020-01-01 00:00:10"), 1, 100.0),
                    ("A", ts("2020-01-01 00:00:10"), 2, 200.0),
                ],
                "k string, event_ts timestamp, seq_nb long, q double",
            ),
            series_ids=["k"],
            sequence_col="seq_nb",
        )
        out = left.asofJoin(right, left_prefix="left").df.collect()
        # highest sequence number at equal ts wins
        assert out[0].right_q == 200.0 and out[0].right_seq_nb == 2

    @pytest.mark.parametrize(
        "lseq_type, lseq", [("string", "x"), ("timestamp", ts("2020-01-02 00:00:00"))]
    )
    def test_sequence_col_tiebreak_left_seq_other_type(self, spark, lseq_type, lseq):
        # the left's own sequence_col must not share the right's tie-break
        # column: widened together, timestamp vs bigint fails analysis and
        # string vs bigint sorts '9' above '10'
        left = TSDF(
            spark.createDataFrame(
                [("A", ts("2020-01-01 00:00:10"), lseq, 1.0)],
                f"k string, event_ts timestamp, lseq {lseq_type}, v double",
            ),
            series_ids=["k"],
            sequence_col="lseq",
        )
        right = TSDF(
            spark.createDataFrame(
                [
                    ("A", ts("2020-01-01 00:00:10"), 10, 100.0),
                    ("A", ts("2020-01-01 00:00:10"), 9, 90.0),
                ],
                "k string, event_ts timestamp, seq_nb long, q double",
            ),
            series_ids=["k"],
            sequence_col="seq_nb",
        )
        back = left.asofJoin(right, left_prefix="left").df.collect()
        assert back[0].right_seq_nb == 10 and back[0].right_q == 100.0
        fwd = left.asofJoin(right, left_prefix="left", direction="forward")
        assert fwd.df.collect()[0].right_seq_nb == 9

    def test_mismatched_series_raises(self, trades_tsdf, spark):
        other = TSDF(
            spark.createDataFrame([("x", ts("2020-01-01 00:00:00"), 1.0)],
                                  "other string, event_ts timestamp, q double"),
            series_ids=["other"],
        )
        with pytest.raises(ValueError, match="series ids"):
            trades_tsdf.asofJoin(other)


class TestAsofJoinSkew:
    def test_partitioned_matches_default(self, trades_tsdf, quotes_tsdf):
        plain = trades_tsdf.asofJoin(quotes_tsdf, left_prefix="left").df
        skew = trades_tsdf.asofJoin(
            quotes_tsdf, left_prefix="left", tsPartitionVal=86400 * 45, fraction=0.5
        ).df
        p = {(r.symbol, str(r.left_event_ts), r.right_bid_pr) for r in plain.collect()}
        s = {(r.symbol, str(r.left_event_ts), r.right_bid_pr) for r in skew.collect()}
        # rows whose lookback falls outside the bracket may be null in skew mode;
        # but matched rows must agree
        assert s <= p | {(sym, t, None) for (sym, t, _) in p}

    def test_skipnulls_false_with_partition_raises(self, trades_tsdf, quotes_tsdf):
        with pytest.raises(ValueError, match="skip_nulls"):
            trades_tsdf.asofJoin(quotes_tsdf, skipNulls=False, tsPartitionVal=100)


class TestAsofJoinRange:
    def test_sql_join_opt_size_probe_switch(
        self, trades_tsdf, quotes_tsdf, monkeypatch, tmp_path
    ):
        """sql_join_opt picks the strategy from the Catalyst size estimate
        (reference: python/tempo/tsdf.py:787-795, 30 MiB cutoff): sides
        with KNOWN small sizes -> the range/broadcast plan; with the
        cutoff forced to 0 (every known size is 'big') the SAME call
        plans as the union-window strategy. Parquet-backed frames carry
        real sizeInBytes stats (in-memory relations report Long.Max and
        keep the user's explicit range request)."""
        import tempo_spark.operators.asof as asof_mod
        import tempo_spark.tsdf as tsdf_mod
        from tempo_spark.plans.inspect import formatted_plan

        trades_tsdf.df.write.parquet(str(tmp_path / "t"))
        quotes_tsdf.df.write.parquet(str(tmp_path / "q"))
        spark = trades_tsdf.df.sparkSession
        lt = TSDF(spark.read.parquet(str(tmp_path / "t")),
                  ts_col=trades_tsdf.ts_col, series_ids=trades_tsdf.series_ids)
        rt = TSDF(spark.read.parquet(str(tmp_path / "q")),
                  ts_col=quotes_tsdf.ts_col, series_ids=quotes_tsdf.series_ids)
        ranged = lt.asofJoin(rt, left_prefix="left", sql_join_opt=True).df
        monkeypatch.setattr(tsdf_mod, "SQL_JOIN_OPT_BROADCAST_BYTES", 0, raising=False)
        monkeypatch.setattr(asof_mod, "SQL_JOIN_OPT_BROADCAST_BYTES", 0)
        unioned = lt.asofJoin(rt, left_prefix="left", sql_join_opt=True).df
        # the union-window strategy is recognizable by its record-indicator
        # staging column; the range plan never builds it
        assert asof_mod._REC_IND in formatted_plan(unioned)
        assert asof_mod._REC_IND not in formatted_plan(ranged)

    def test_range_join_matches_default(self, trades_tsdf, quotes_tsdf):
        # range join attaches whole right ROWS — the union-path equivalent is
        # skipNulls=False (per-column forward-fill differs on null metrics)
        plain = trades_tsdf.asofJoin(quotes_tsdf, left_prefix="left", skipNulls=False).df
        ranged = trades_tsdf.asofJoin(quotes_tsdf, left_prefix="left", sql_join_opt=True).df
        p = sorted(
            (r.symbol, str(r.left_event_ts), r.right_bid_pr, r.right_ask_pr)
            for r in plain.collect()
        )
        q = sorted(
            (r.symbol, str(r.left_event_ts), r.right_bid_pr, r.right_ask_pr)
            for r in ranged.collect()
        )
        assert p == q


class TestAsofNanos:
    def test_double_ts(self, spark):
        from tempo_spark.functions.timestamps import parse_nanos_timestamp

        # NB: double epoch seconds resolve ~240ns at 2020-era epochs (same
        # bound as the reference's double-ts representation); test at µs scale
        left = spark.createDataFrame(
            [("A", "2020-01-01 00:00:10.123456500", 1.0)],
            "k string, event_ts string, v double",
        )
        right = spark.createDataFrame(
            [
                ("A", "2020-01-01 00:00:10.123455900", 8.0),
                ("A", "2020-01-01 00:00:10.123457100", 9.0),
            ],
            "k string, event_ts string, q double",
        )
        lt = TSDF(parse_nanos_timestamp(left, "event_ts"), series_ids=["k"])
        rt = TSDF(parse_nanos_timestamp(right, "event_ts"), series_ids=["k"])
        out = lt.asofJoin(rt, left_prefix="left").df.collect()
        # sub-µs ordering: the .4559 quote is the latest <= .4565
        assert out[0].right_q == 8.0


class TestAsofEdgeCases:
    def test_column_collision_raises(self, spark):
        # no prefixes + same value column name on both sides must error
        left = TSDF(
            spark.createDataFrame(
                [("A", ts("2020-01-01 00:00:10"), 1.0)],
                "k string, event_ts timestamp, v double",
            ),
            series_ids=["k"],
        )
        right = TSDF(
            spark.createDataFrame(
                [("A", ts("2020-01-01 00:00:05"), 2.0)],
                "k string, ts2 timestamp, v double",
            ),
            ts_col="ts2",
            series_ids=["k"],
        )
        with pytest.raises(ValueError, match="colliding"):
            left.asofJoin(right, left_prefix=None, right_prefix=None)

    def test_ts_dtype_mismatch_raises(self, spark):
        left = TSDF(
            spark.createDataFrame(
                [("A", ts("2020-01-01 00:00:10"), 1.0)],
                "k string, event_ts timestamp, v double",
            ),
            series_ids=["k"],
        )
        right = TSDF(
            spark.createDataFrame(
                [("A", 1577836805.0, 2.0)], "k string, event_ts double, q double"
            ),
            series_ids=["k"],
        )
        with pytest.raises(ValueError, match="incompatible"):
            left.asofJoin(right, left_prefix="l")

    def test_empty_right(self, spark):
        left = TSDF(
            spark.createDataFrame(
                [("A", ts("2020-01-01 00:00:10"), 1.0)],
                "k string, event_ts timestamp, v double",
            ),
            series_ids=["k"],
        )
        right = TSDF(
            spark.createDataFrame([], "k string, event_ts timestamp, q double"),
            series_ids=["k"],
        )
        out = left.asofJoin(right, left_prefix="l").df.collect()
        assert len(out) == 1 and out[0].right_q is None

    def test_null_lookback_warning_opt_in(self, spark, caplog):
        """check_null_lookback=True replays the reference's empty-lookback
        warning (reference python/tempo/tsdf.py:300-338) as an explicit
        opt-in action; default stays fully lazy."""
        import logging

        left = TSDF(
            spark.createDataFrame(
                [("A", ts("2020-01-01 00:00:10"), 1.0)],
                "k string, event_ts timestamp, v double",
            ),
            series_ids=["k"],
        )
        right = TSDF(
            spark.createDataFrame(
                [("A", ts("2020-06-01 00:00:00"), 9.0)],  # only AFTER left
                "k string, event_ts timestamp, q double",
            ),
            series_ids=["k"],
        )
        with caplog.at_level(logging.WARNING, logger="tempo_spark.tsdf"):
            out = left.asofJoin(
                right, left_prefix="l", check_null_lookback=True
            ).df.collect()
        assert out[0].right_q is None
        assert any("no values within the lookback" in r.message for r in caplog.records)
        # suppress flag mutes it
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger="tempo_spark.tsdf"):
            left.asofJoin(
                right, left_prefix="l",
                check_null_lookback=True, suppress_null_warning=True,
            ).df.collect()
        assert not caplog.records

    def test_null_lookback_wide_frame_caps_columns(self, spark, caplog):
        """On a very wide right the diagnostic agg caps at 64 columns and
        says so — a 1000-column agg is not an acceptable price for a
        warning aid."""
        import logging

        left = TSDF(
            spark.createDataFrame(
                [("A", ts("2020-01-01 00:00:10"), 1.0)],
                "k string, event_ts timestamp, v double",
            ),
            series_ids=["k"],
        )
        wide_cols = ", ".join(f"c{i} double" for i in range(100))
        right = TSDF(
            spark.createDataFrame(
                [("A", ts("2020-06-01 00:00:00"), *[None] * 100)],
                f"k string, event_ts timestamp, {wide_cols}",
            ),
            series_ids=["k"],
        )
        with caplog.at_level(logging.WARNING, logger="tempo_spark.tsdf"):
            left.asofJoin(right, left_prefix="l", check_null_lookback=True).df.collect()
        assert any("wide-frame cap" in r.message for r in caplog.records)
        # per-column warnings stop at the cap (64 value cols + ts col)
        col_warns = [r for r in caplog.records if "no values within" in r.message]
        assert 0 < len(col_warns) <= 64


class TestAsofDirections:
    @pytest.fixture(scope="class")
    def lr(self, spark):
        base = dt.datetime(2024, 1, 1)

        def at(s):
            return base + dt.timedelta(seconds=s)

        left = spark.createDataFrame(
            [("A", at(10), 1.0), ("A", at(20), 2.0), ("A", at(100), 3.0)],
            "k string, ts timestamp, lv double",
        )
        right = spark.createDataFrame(
            [("A", at(0), 10.0), ("A", at(15), 20.0), ("A", at(20), 30.0),
             ("A", at(25), 40.0)],
            "k string, ts timestamp, rv double",
        )
        return (
            TSDF(left, ts_col="ts", series_ids=["k"]),
            TSDF(right, ts_col="ts", series_ids=["k"]),
        )

    @staticmethod
    def _vals(out):
        return {
            r.left_ts.second + (r.left_ts.minute * 60): r.right_rv
            for r in out.df.collect()
        }

    def test_forward(self, lr):
        left, right = lr
        out = left.asofJoin(right, left_prefix="left", direction="forward")
        # t=10 -> first right >= 10 is t=15; t=20 -> same-ts right visible;
        # t=100 -> nothing ahead -> null
        assert self._vals(out) == {10: 20.0, 20: 30.0, 100: None}

    def test_nearest(self, lr):
        left, right = lr
        out = left.asofJoin(right, left_prefix="left", direction="nearest")
        # t=10: back t=0 (10s) vs fwd t=15 (5s) -> forward wins
        # t=20: same-ts -> distance 0 both ways -> backward tie-break
        # t=100: back t=25 only
        assert self._vals(out) == {10: 20.0, 20: 30.0, 100: 40.0}

    def test_nearest_tie_prefers_backward(self, spark):
        base = dt.datetime(2024, 1, 1)
        left = TSDF(
            spark.createDataFrame(
                [("A", base + dt.timedelta(seconds=10), 1.0)],
                "k string, ts timestamp, lv double",
            ),
            ts_col="ts", series_ids=["k"],
        )
        right = TSDF(
            spark.createDataFrame(
                [("A", base + dt.timedelta(seconds=5), 1.0),
                 ("A", base + dt.timedelta(seconds=15), 2.0)],
                "k string, ts timestamp, rv double",
            ),
            ts_col="ts", series_ids=["k"],
        )
        out = left.asofJoin(right, left_prefix="left", direction="nearest")
        assert out.df.collect()[0].right_rv == 1.0

    def test_forward_tolerance_abs_band(self, lr):
        left, right = lr
        out = left.asofJoin(
            right, left_prefix="left", direction="forward", tolerance=5
        )
        # t=10 -> fwd match at t=15 is within 5s; t=20 exact; t=100 null
        assert self._vals(out) == {10: 20.0, 20: 30.0, 100: None}
        out2 = left.asofJoin(
            right, left_prefix="left", direction="forward", tolerance=3
        )
        assert self._vals(out2) == {10: None, 20: 30.0, 100: None}

    def test_direction_validation(self, lr):
        left, right = lr
        with pytest.raises(ValueError):
            left.asofJoin(right, direction="sideways")
        with pytest.raises(ValueError):
            left.asofJoin(right, direction="forward", tsPartitionVal=100)
        with pytest.raises(ValueError):
            left.asofJoin(right, direction="nearest", sql_join_opt=True)

    def test_one_shuffle_nearest(self, lr):
        from tempo_spark.plans.inspect import count_exchanges

        left, right = lr
        out = left.asofJoin(right, left_prefix="left", direction="nearest")
        assert count_exchanges(out.df) == 1

    @pytest.mark.parametrize("direction", ["backward", "forward"])
    def test_one_shuffle_backward_forward(self, lr, direction):
        from tempo_spark.plans.inspect import count_exchanges

        left, right = lr
        out = left.asofJoin(right, left_prefix="left", direction=direction)
        assert count_exchanges(out.df) == 1


class TestAsofRangeBinned:
    """range_join_bin_seconds — the bucketized big×big rewrite: same
    results as the plain range join at every bin width, hash join in the
    plan even with no series ids (where the unbinned path degrades to a
    BroadcastNestedLoopJoin)."""

    def test_matches_plain_range_join(self, trades_tsdf, quotes_tsdf):
        plain = trades_tsdf.asofJoin(
            quotes_tsdf, left_prefix="left", sql_join_opt=True
        ).df
        key = lambda r: (r.symbol, str(r.left_event_ts), r.right_bid_pr, r.right_ask_pr)
        want = sorted(map(key, plain.collect()))
        for bins in (1.0, 37.0, 3600.0):
            binned = trades_tsdf.asofJoin(
                quotes_tsdf, left_prefix="left", sql_join_opt=True,
                range_join_bin_seconds=bins,
            ).df
            assert sorted(map(key, binned.collect())) == want, bins

    def test_no_nested_loop_without_series(self, spark):
        import datetime as dt

        mk = lambda rows: spark.createDataFrame(rows, "ts timestamp, v double")
        t0 = dt.datetime(2020, 1, 1)
        left = TSDF(
            mk([(t0 + dt.timedelta(seconds=s), float(s)) for s in (5, 65, 200)]),
            ts_col="ts", series_ids=[],
        )
        right_df = mk([(t0 + dt.timedelta(seconds=s), s * 10.0) for s in (0, 60, 120)])
        right = TSDF(right_df, ts_col="ts", series_ids=[])

        def plan(tsdf_out):
            return tsdf_out.df._jdf.queryExecution().executedPlan().toString()

        unbinned = left.asofJoin(right, left_prefix="l", sql_join_opt=True)
        binned = left.asofJoin(
            right, left_prefix="l", sql_join_opt=True, range_join_bin_seconds=60.0
        )
        assert "BroadcastNestedLoopJoin" in plan(unbinned)  # the degradation
        p = plan(binned)
        # the BIG join runs on the bin equi key (SortMergeJoin/HashJoin);
        # the only BNLJ left is the legitimate 1-row l_max broadcast cross
        big_join = [
            ln for ln in p.splitlines()
            if ("SortMergeJoin" in ln or "HashJoin" in ln) and "__tempo_bin" in ln
        ]
        assert big_join, p
        bnlj = [ln for ln in p.splitlines() if "BroadcastNestedLoopJoin" in ln]
        assert all("BuildRight, Cross" in ln for ln in bnlj), bnlj
        # and the values are right: 5->0, 65->60, 200->120 (open last interval)
        got = {r.l_v: r.right_v for r in binned.df.collect()}
        assert got == {5.0: 0.0, 65.0: 600.0, 200.0: 1200.0}

    def test_rights_after_all_lefts_and_empty_series(self, spark):
        import datetime as dt

        t0 = dt.datetime(2020, 1, 1)
        left = TSDF(
            spark.createDataFrame(
                [("A", t0 + dt.timedelta(seconds=30), 1.0)],
                "k string, ts timestamp, v double",
            ),
            ts_col="ts", series_ids=["k"],
        )
        # right rows AFTER every left (descending sequence guard) and a
        # series ("B") with no left rows at all (null l_max clamp)
        right = TSDF(
            spark.createDataFrame(
                [("A", t0, 10.0), ("A", t0 + dt.timedelta(seconds=3600), 99.0),
                 ("B", t0, 7.0)],
                "k string, ts timestamp, q double",
            ),
            ts_col="ts", series_ids=["k"],
        )
        out = left.asofJoin(
            right, left_prefix="l", sql_join_opt=True, range_join_bin_seconds=10.0
        ).df.collect()
        assert len(out) == 1 and out[0].right_q == 10.0

    def test_requires_range_join(self, trades_tsdf, quotes_tsdf):
        with pytest.raises(ValueError):
            trades_tsdf.asofJoin(quotes_tsdf, range_join_bin_seconds=60.0)


class TestAllowExactMatches:
    """allowExactMatches=False (pandas merge_asof parity): strict
    comparison in every direction and physical strategy."""

    def _lr(self, spark):
        t0 = dt.datetime(2020, 1, 1)
        sec = lambda s: t0 + dt.timedelta(seconds=s)
        left = TSDF(
            spark.createDataFrame(
                [("A", sec(10), 1.0), ("A", sec(20), 2.0), ("A", sec(35), 3.0)],
                "k string, ts timestamp, v double",
            ),
            ts_col="ts", series_ids=["k"],
        )
        right = TSDF(
            spark.createDataFrame(
                [("A", sec(10), 100.0), ("A", sec(20), 200.0), ("A", sec(30), 300.0)],
                "k string, ts timestamp, q double",
            ),
            ts_col="ts", series_ids=["k"],
        )
        return left, right

    def _vals(self, out):
        return {int(r.l_v): r.right_q for r in out.df.collect()}

    def test_backward_strict_union_window(self, spark):
        left, right = self._lr(spark)
        lax = self._vals(left.asofJoin(right, left_prefix="l"))
        assert lax == {1: 100.0, 2: 200.0, 3: 300.0}
        strict = self._vals(left.asofJoin(right, left_prefix="l", allowExactMatches=False))
        # equal-ts rights skipped: left@10 has nothing strictly earlier
        assert strict == {1: None, 2: 100.0, 3: 300.0}

    def test_strict_range_join_paths_match(self, spark):
        left, right = self._lr(spark)
        want = self._vals(left.asofJoin(right, left_prefix="l", allowExactMatches=False))
        ranged = self._vals(left.asofJoin(
            right, left_prefix="l", sql_join_opt=True, allowExactMatches=False
        ))
        binned = self._vals(left.asofJoin(
            right, left_prefix="l", sql_join_opt=True,
            range_join_bin_seconds=7.0, allowExactMatches=False,
        ))
        assert ranged == want and binned == want

    def test_strict_forward_and_nearest(self, spark):
        left, right = self._lr(spark)
        fwd = self._vals(left.asofJoin(
            right, left_prefix="l", direction="forward", allowExactMatches=False
        ))
        # left@10 -> right@20 (not the equal-ts 10); left@35 -> nothing ahead
        assert fwd == {1: 200.0, 2: 300.0, 3: None}
        near = self._vals(left.asofJoin(
            right, left_prefix="l", direction="nearest", allowExactMatches=False
        ))
        # left@10: candidates b=None f=20 -> 200; left@20: b=10 f=30 tie -> backward
        assert near == {1: 200.0, 2: 100.0, 3: 300.0}

    def test_strict_skew_path_matches_default(self, spark):
        left, right = self._lr(spark)
        want = self._vals(left.asofJoin(right, left_prefix="l", allowExactMatches=False))
        skew = self._vals(left.asofJoin(
            right, left_prefix="l", tsPartitionVal=60, allowExactMatches=False
        ))
        assert skew == want


class TestAsofJoinMany:
    def _frames(self, spark):
        t0 = dt.datetime(2020, 1, 1)
        sec = lambda s: t0 + dt.timedelta(seconds=s)
        left = TSDF(
            spark.createDataFrame(
                [("A", sec(10), 1.0), ("A", sec(25), 2.0), ("B", sec(10), 3.0)],
                "k string, ts timestamp, v double",
            ),
            ts_col="ts", series_ids=["k"],
        )
        r1 = TSDF(
            spark.createDataFrame(
                [("A", sec(5), 100.0), ("A", sec(20), 200.0)],
                "k string, ts timestamp, q double",
            ),
            ts_col="ts", series_ids=["k"],
        )
        r2 = TSDF(
            spark.createDataFrame(
                [("A", sec(10), 7.0), ("B", sec(4), 8.0)],
                "k string, ts timestamp, s double",
            ),
            ts_col="ts", series_ids=["k"],
        )
        return left, r1, r2

    def test_matches_chained_single_joins(self, spark):
        left, r1, r2 = self._frames(spark)
        many = left.asofJoinMany({"a": r1, "b": r2}).df
        chained = left.asofJoin(r1, right_prefix="a").asofJoin(r2, right_prefix="b").df
        key = lambda r: (r.k, str(r.ts), r.v, r.a_q, r.b_s,
                         None if r.a_ts is None else str(r.a_ts),
                         None if r.b_ts is None else str(r.b_ts))
        assert sorted(map(key, many.collect())) == sorted(map(key, chained.collect()))

    def test_one_shuffle_for_n_rights(self, spark):
        from tempo_spark.plans.inspect import count_exchanges

        left, r1, r2 = self._frames(spark)
        many = left.asofJoinMany({"a": r1, "b": r2}, strategy="union")
        chained = left.asofJoin(r1, right_prefix="a").asofJoin(r2, right_prefix="b")
        assert count_exchanges(many.df) == 1
        assert count_exchanges(chained.df) == 2  # the cost this op removes

    def test_auto_strategy_decision_and_equivalence(self, spark, tmp_path):
        """strategy='auto' (r8): sparse rights -> union, left-sized rights
        -> chain, decided from LAZY Catalyst size estimates (parquet scans
        carry stats; in-memory frames report Long.Max -> None -> union,
        the operator's native plan). Both strategies produce identical
        rows. The decision helper is pinned directly."""
        from tempo_spark.operators.asof import _pick_many_strategy

        left, r1, r2 = self._frames(spark)
        spark.range(100_000).selectExpr(
            "'A' as k",
            "timestamp'2020-01-01' + make_interval(0,0,0,0,0,0,id) as ts",
            "cast(id as double) as v",
        ).write.parquet(str(tmp_path / "big"))
        r1.df.write.parquet(str(tmp_path / "small"))
        big = TSDF(spark.read.parquet(str(tmp_path / "big")),
                   ts_col="ts", series_ids=["k"])
        small = TSDF(spark.read.parquet(str(tmp_path / "small")),
                     ts_col="ts", series_ids=["k"])
        # sparse rights: union; left-sized rights: chain
        assert _pick_many_strategy(big, {"a": small, "b": small}) == "union"
        assert _pick_many_strategy(small, {"a": big, "b": big}) == "chain"
        # no usable stats (in-memory frames) -> union, no eager job
        assert _pick_many_strategy(left, {"a": r1, "b": r2}) == "union"
        key = lambda r: (r.k, str(r.ts), r.v, r.a_q, r.b_s,
                         None if r.a_ts is None else str(r.a_ts),
                         None if r.b_ts is None else str(r.b_ts))
        for kw in ({}, {"skipNulls": False}, {"allowExactMatches": False}):
            u = left.asofJoinMany({"a": r1, "b": r2}, strategy="union", **kw).df
            c = left.asofJoinMany({"a": r1, "b": r2}, strategy="chain", **kw).df
            assert sorted(map(key, u.collect())) == sorted(map(key, c.collect())), kw
            assert sorted(u.columns) == sorted(c.columns)
        with pytest.raises(ValueError, match="strategy"):
            left.asofJoinMany({"a": r1}, strategy="nope")

    def test_strict_and_skipnulls(self, spark):
        left, r1, r2 = self._frames(spark)
        strict = {(r.k, str(r.ts)): r.b_s for r in left.asofJoinMany(
            {"a": r1, "b": r2}, allowExactMatches=False
        ).df.collect()}
        # B@10 matched r2 B@4 (earlier) but A@10's equal-ts r2 row is skipped
        assert strict[("A", "2020-01-01 00:00:10")] is None
        assert strict[("B", "2020-01-01 00:00:10")] == 8.0
        # skipNulls=False: a genuine null on the latest right row wins
        r1n = TSDF(
            left.df.sparkSession.createDataFrame(
                [("A", dt.datetime(2020, 1, 1, 0, 0, 5), 100.0),
                 ("A", dt.datetime(2020, 1, 1, 0, 0, 20), None)],
                "k string, ts timestamp, q double",
            ),
            ts_col="ts", series_ids=["k"],
        )
        loose = {str(r.ts): r.a_q for r in left.asofJoinMany(
            {"a": r1n}, skipNulls=False
        ).df.collect() if r.k == "A"}
        assert loose["2020-01-01 00:00:25"] is None  # null from the 00:20 row
        ffill = {str(r.ts): r.a_q for r in left.asofJoinMany(
            {"a": r1n}
        ).df.collect() if r.k == "A"}
        assert ffill["2020-01-01 00:00:25"] == 100.0

    def test_validation(self, spark):
        left, r1, r2 = self._frames(spark)
        with pytest.raises(ValueError, match="non-empty"):
            left.asofJoinMany({})
        other = TSDF(r1.df, ts_col="ts", series_ids=[])
        with pytest.raises(ValueError, match="series ids"):
            left.asofJoinMany({"a": other})
        seq = TSDF(r1.df.withColumn("sq", r1.df.q), ts_col="ts",
                   series_ids=["k"], sequence_col="sq")
        with pytest.raises(ValueError, match="sequence"):
            left.asofJoinMany({"a": seq})
        # a left value column named like a prefixed right column collides
        clash_left = TSDF(
            left.df.withColumn("a_q", left.df.v), ts_col="ts", series_ids=["k"]
        )
        with pytest.raises(ValueError, match="colliding"):
            clash_left.asofJoinMany({"a": r1})


class TestAsofJoinManyTolerances:
    def test_per_right_bands(self, spark):
        t0 = dt.datetime(2020, 1, 1)
        sec = lambda s: t0 + dt.timedelta(seconds=s)
        left = TSDF(
            spark.createDataFrame([("A", sec(100), 1.0)], "k string, ts timestamp, v double"),
            ts_col="ts", series_ids=["k"],
        )
        r1 = TSDF(
            spark.createDataFrame([("A", sec(95), 5.0)], "k string, ts timestamp, q double"),
            ts_col="ts", series_ids=["k"],
        )
        r2 = TSDF(
            spark.createDataFrame([("A", sec(10), 9.0)], "k string, ts timestamp, s double"),
            ts_col="ts", series_ids=["k"],
        )
        out = left.asofJoinMany(
            {"a": r1, "b": r2}, tolerances={"a": 10.0, "b": 30.0}
        ).df.collect()[0]
        assert out.a_q == 5.0                       # 5s old, within 10s
        assert out.b_s is None and out.b_ts is None  # 90s old, outside 30s
        # matching chained equivalent
        chained = left.asofJoin(r1, right_prefix="a", tolerance=10).asofJoin(
            r2, right_prefix="b", tolerance=30
        ).df.collect()[0]
        assert (out.a_q, out.b_s) == (chained.a_q, chained.b_s)

    def test_unknown_prefix_raises(self, spark):
        t0 = dt.datetime(2020, 1, 1)
        left = TSDF(
            spark.createDataFrame([("A", t0, 1.0)], "k string, ts timestamp, v double"),
            ts_col="ts", series_ids=["k"],
        )
        with pytest.raises(ValueError, match="unknown prefixes"):
            left.asofJoinMany({"a": left}, tolerances={"zz": 5.0})


class TestAsofManyReservedAndSql:
    def test_reserved_column_rejected(self, spark):
        t0 = dt.datetime(2020, 1, 1)
        left = TSDF(
            spark.createDataFrame(
                [("A", t0, 1.0, 2.0)],
                "k string, ts timestamp, v double, __tempo_cts double",
            ),
            ts_col="ts", series_ids=["k"],
        )
        with pytest.raises(ValueError, match="reserved"):
            left.asofJoinMany({"a": TSDF(
                spark.createDataFrame([("A", t0, 3.0)], "k string, ts timestamp, q double"),
                ts_col="ts", series_ids=["k"],
            )})


class TestPercentileNaming:
    def test_fractional_percentiles_distinct(self, spark):
        rows = [("A", ts("2020-01-01 00:00:01"), float(v)) for v in range(1, 9)]
        t = TSDF(
            spark.createDataFrame(rows, "k string, event_ts timestamp, v double"),
            ts_col="event_ts", series_ids=["k"],
        )
        out = t.withGroupedStats(freq="1 minute", percentiles=[0.12, 0.125]).df
        assert "p12_v" in out.columns and "p12_5_v" in out.columns
        r = out.collect()[0]
        assert r.p12_v != r.p12_5_v  # genuinely different quantiles
        with pytest.raises(ValueError, match="collide"):
            t.withGroupedStats(freq="1 minute", percentiles=[0.5, 0.5])
        with pytest.raises(ValueError, match="collide"):
            t.withRangeStats(rangeBackWindowSecs=60, percentiles=[0.9, 0.9]).df.collect()
