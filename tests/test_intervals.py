import datetime as dt

import pyspark.sql.functions as F

import pytest

from tempo_spark import IntervalsDF


def ts(s):
    return dt.datetime.fromisoformat(s)


def idf(spark, rows, schema="start_ts timestamp, end_ts timestamp, series_1 string, metric_1 int, metric_2 int"):
    return IntervalsDF(spark.createDataFrame(rows, schema), "start_ts", "end_ts", ["series_1"])


def collect_intervals(out):
    return sorted(
        (r.series_1, str(r.start_ts), str(r.end_ts), r.metric_1, r.metric_2)
        for r in out.df.collect()
    )


class TestProps:
    def test_columns(self, spark):
        i = idf(spark, [(ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "a", 1, 2)])
        assert i.interval_boundaries == ["start_ts", "end_ts"]
        assert i.structural_columns == ["start_ts", "end_ts", "series_1"]
        assert i.metric_columns == ["metric_1", "metric_2"]

    def test_missing_col_raises(self, spark):
        df = spark.createDataFrame([(1,)], "x int")
        with pytest.raises(ValueError):
            IntervalsDF(df, "start_ts", "end_ts", [])


class TestInitSeriesSpellings:
    """Reference constructor series spellings (reference:
    python/tests/intervals_tests.py test_init_series_str/
    comma_seperated_str/tuple/list/none/int)."""

    def _df(self, spark):
        return spark.createDataFrame(
            [(ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "a", "b", 1)],
            "start_ts timestamp, end_ts timestamp, series_1 string, series_2 string, metric_1 int",
        )

    def test_series_str(self, spark):
        i = IntervalsDF(self._df(spark), "start_ts", "end_ts", "series_1")
        assert i.series_ids == ["series_1"]

    def test_series_comma_separated_str(self, spark):
        i = IntervalsDF(self._df(spark), "start_ts", "end_ts", "series_1, series_2")
        assert i.series_ids == ["series_1", "series_2"]

    def test_series_tuple(self, spark):
        i = IntervalsDF(self._df(spark), "start_ts", "end_ts", ("series_1", "series_2"))
        assert i.series_ids == ["series_1", "series_2"]

    def test_series_list(self, spark):
        i = IntervalsDF(self._df(spark), "start_ts", "end_ts", ["series_1"])
        assert i.series_ids == ["series_1"]

    def test_series_none(self, spark):
        i = IntervalsDF(self._df(spark), "start_ts", "end_ts", None)
        assert i.series_ids == []

    def test_series_int_raises(self, spark):
        with pytest.raises(ValueError):
            IntervalsDF(self._df(spark), "start_ts", "end_ts", 5)

    def test_series_non_str_element_raises(self, spark):
        with pytest.raises(ValueError):
            IntervalsDF(self._df(spark), "start_ts", "end_ts", ["series_1", 7])

    def test_from_stacked_series_str(self, spark):
        long = spark.createDataFrame(
            [
                (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "a", "m1", 5),
                (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "a", "m2", 6),
            ],
            "start_ts timestamp, end_ts timestamp, series_1 string, mname string, mval int",
        )
        i = IntervalsDF.fromStackedMetrics(
            long, "start_ts", "end_ts", "series_1", "mname", "mval"
        )
        assert i.series_ids == ["series_1"]
        row = i.df.collect()[0]
        assert (row["m1"], row["m2"]) == (5, 6)


class TestMakeDisjoint:
    def test_disjoint_input_unchanged(self, spark):
        rows = [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "a", 1, None),
            (ts("2020-01-01 00:02:00"), ts("2020-01-01 00:03:00"), "a", 2, None),
        ]
        out = collect_intervals(idf(spark, rows).make_disjoint())
        assert out == [
            ("a", "2020-01-01 00:00:00", "2020-01-01 00:01:00", 1, None),
            ("a", "2020-01-01 00:02:00", "2020-01-01 00:03:00", 2, None),
        ]

    def test_overlap_complementary_metrics(self, spark):
        # two overlapping intervals with complementary nulls → 3 segments,
        # overlap carries both metrics
        rows = [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:02:00"), "a", 1, None),
            (ts("2020-01-01 00:01:00"), ts("2020-01-01 00:03:00"), "a", None, 5),
        ]
        out = collect_intervals(idf(spark, rows).make_disjoint())
        assert out == [
            ("a", "2020-01-01 00:00:00", "2020-01-01 00:01:00", 1, None),
            ("a", "2020-01-01 00:01:00", "2020-01-01 00:02:00", 1, 5),
            ("a", "2020-01-01 00:02:00", "2020-01-01 00:03:00", None, 5),
        ]

    def test_contained_interval(self, spark):
        # containment → 3-way split; the OUTER interval's non-null metrics
        # win even inside the overlap (reference containment branch,
        # python/tempo/intervals.py:835-871: the outer interval is the
        # overwriting child), and the cuts at the inner boundaries are
        # kept even though the payloads come out equal
        rows = [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:04:00"), "a", 1, 1),
            (ts("2020-01-01 00:01:00"), ts("2020-01-01 00:02:00"), "a", 9, None),
        ]
        out = collect_intervals(idf(spark, rows).make_disjoint())
        assert out == [
            ("a", "2020-01-01 00:00:00", "2020-01-01 00:01:00", 1, 1),
            ("a", "2020-01-01 00:01:00", "2020-01-01 00:02:00", 1, 1),
            ("a", "2020-01-01 00:02:00", "2020-01-01 00:04:00", 1, 1),
        ]
        # the inner interval's conflicting value is overwritten (the
        # reference loses it too); its presence only forces the cuts

    def test_identical_boundaries_merge(self, spark):
        rows = [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "a", 1, None),
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "a", None, 2),
        ]
        out = collect_intervals(idf(spark, rows).make_disjoint())
        assert out == [("a", "2020-01-01 00:00:00", "2020-01-01 00:01:00", 1, 2)]

    def test_equivalent_metrics_coalesce(self, spark):
        # overlapping intervals with identical metrics merge into one span
        rows = [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:02:00"), "a", 1, 2),
            (ts("2020-01-01 00:01:00"), ts("2020-01-01 00:03:00"), "a", 1, 2),
        ]
        out = collect_intervals(idf(spark, rows).make_disjoint())
        assert out == [("a", "2020-01-01 00:00:00", "2020-01-01 00:03:00", 1, 2)]

    def test_series_isolated(self, spark):
        rows = [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:02:00"), "a", 1, None),
            (ts("2020-01-01 00:01:00"), ts("2020-01-01 00:03:00"), "b", 2, None),
        ]
        out = collect_intervals(idf(spark, rows).make_disjoint())
        assert out == [
            ("a", "2020-01-01 00:00:00", "2020-01-01 00:02:00", 1, None),
            ("b", "2020-01-01 00:01:00", "2020-01-01 00:03:00", 2, None),
        ]

    def test_shared_start(self, spark):
        rows = [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:02:00"), "a", 1, None),
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:03:00"), "a", None, 7),
        ]
        out = collect_intervals(idf(spark, rows).make_disjoint())
        assert out == [
            ("a", "2020-01-01 00:00:00", "2020-01-01 00:02:00", 1, 7),
            ("a", "2020-01-01 00:02:00", "2020-01-01 00:03:00", None, 7),
        ]

    def test_issue_268_shape(self, spark):
        # regression shape from the reference's issue-268 test: 4 metrics with
        # staggered overlaps must not lose values
        # (reference: python/tests/intervals_tests.py:404-414)
        schema = ("start_timestamp timestamp, end_timestamp timestamp, id string, "
                  "s1 int, s2 int, s3 int, s4 int")
        rows = [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:10:00"), "x", 1, None, None, None),
            (ts("2020-01-01 00:02:00"), ts("2020-01-01 00:08:00"), "x", None, 2, None, None),
            (ts("2020-01-01 00:04:00"), ts("2020-01-01 00:06:00"), "x", None, None, 3, None),
            (ts("2020-01-01 00:05:00"), ts("2020-01-01 00:12:00"), "x", None, None, None, 4),
        ]
        i = IntervalsDF(spark.createDataFrame(rows, schema), "start_timestamp", "end_timestamp", ["id"])
        out = i.make_disjoint()
        rows_out = sorted(
            (str(r.start_timestamp), str(r.end_timestamp), r.s1, r.s2, r.s3, r.s4)
            for r in out.df.collect()
        )
        # disjointness + full coverage
        for i_, (s, e, *_rest) in enumerate(rows_out[:-1]):
            assert e <= rows_out[i_ + 1][0]
        assert rows_out[0][0] == "2020-01-01 00:00:00"
        assert rows_out[-1][1] == "2020-01-01 00:12:00"
        seg = [r for r in rows_out if r[0] == "2020-01-01 00:05:00"][0]
        assert seg[2:] == (1, 2, 3, 4)


class TestBoundaryDtypes:
    def test_string_boundaries_raise_clearly(self, spark):
        # pre-r8 these hit an opaque ANSI CAST_INVALID_INPUT deep in the
        # merge aggregate; now rejected up front with the column named
        i = idf(
            spark,
            [("2020-01-01", "2020-01-02", "a", 1, 2)],
            schema="start_ts string, end_ts string, series_1 string, metric_1 int, metric_2 int",
        )
        with pytest.raises(TypeError, match="start_ts.*string"):
            i.make_disjoint()

    def test_date_boundaries_work(self, spark):
        d = dt.date
        i = idf(
            spark,
            [
                (d(2020, 1, 1), d(2020, 1, 10), "a", 1, None),
                (d(2020, 1, 5), d(2020, 1, 15), "a", None, 2),
            ],
            schema="start_ts date, end_ts date, series_1 string, metric_1 int, metric_2 int",
        )
        got = sorted(
            (str(r.start_ts), str(r.end_ts), r.metric_1, r.metric_2)
            for r in i.make_disjoint().df.collect()
        )
        assert got == [
            ("2020-01-01", "2020-01-05", 1, None),
            ("2020-01-05", "2020-01-10", 1, 2),
            ("2020-01-10", "2020-01-15", None, 2),
        ]


class TestMakeDisjointNoPayload:
    def test_coverage_only_intervals(self, spark):
        # no observational columns at all: make_disjoint degrades to a
        # coverage merge (used to crash on an empty agg() list)
        rows = [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:02:00"), "a"),
            (ts("2020-01-01 00:01:00"), ts("2020-01-01 00:03:00"), "a"),
            (ts("2020-01-01 00:05:00"), ts("2020-01-01 00:06:00"), "a"),
        ]
        out = IntervalsDF(
            spark.createDataFrame(
                rows, "start_ts timestamp, end_ts timestamp, series_1 string"
            ),
            "start_ts", "end_ts", ["series_1"],
        ).make_disjoint()
        got = sorted((r.series_1, str(r.start_ts), str(r.end_ts)) for r in out.df.collect())
        assert got == [
            ("a", "2020-01-01 00:00:00", "2020-01-01 00:03:00"),
            ("a", "2020-01-01 00:05:00", "2020-01-01 00:06:00"),
        ]


class TestStackedRoundtrip:
    def test_from_stacked(self, spark):
        rows = [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "a", "m1", 5),
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "a", "m2", 6),
        ]
        df = spark.createDataFrame(
            rows,
            "start_ts timestamp, end_ts timestamp, series_1 string, metric_name string, metric_value int",
        )
        i = IntervalsDF.fromStackedMetrics(
            df, "start_ts", "end_ts", ["series_1"], "metric_name", "metric_value",
            metric_names=["m1", "m2"],
        )
        row = i.df.collect()[0]
        assert row.m1 == 5 and row.m2 == 6

    def test_to_stacked(self, spark):
        i = idf(spark, [(ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "a", 1, None)])
        out = i.toDF(stack=True).collect()
        # null metric dropped
        assert len(out) == 1
        assert out[0].metric_name == "metric_1" and out[0].metric_value == 1

    def test_to_stacked_quoted_metric_names(self, spark):
        """Metric names are pasted into the STACK expression as both a
        string literal and an identifier: quotes and backticks must be
        escaped in each."""
        i = idf(spark, [(ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "a", 1, 2)])
        odd = ["it's", "m`2"]
        renamed = IntervalsDF(
            i.df.toDF("start_ts", "end_ts", "series_1", *odd),
            "start_ts", "end_ts", ["series_1"],
        )
        out = renamed.toDF(stack=True).collect()
        assert sorted((r.metric_name, r.metric_value) for r in out) == [
            ("it's", 1), ("m`2", 2)
        ]

    def test_union(self, spark):
        a = idf(spark, [(ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "a", 1, 2)])
        b = idf(spark, [(ts("2020-01-01 00:02:00"), ts("2020-01-01 00:03:00"), "b", 3, 4)])
        assert a.union(b).df.count() == 2
        assert a.unionByName(b).df.count() == 2

    def test_make_disjoint_exchange_count(self, spark):
        # 4 stage-local exchanges — a leading series repartition halves
        # the count but measured ~60% SLOWER (the boundary side
        # broadcasts and the merge agg map-side-combines, so the "saved"
        # shuffles were cheap; see the negative-result note in
        # make_disjoint). This pin exists so a future "optimization"
        # re-measures before changing the shape.
        from tempo_spark.plans.inspect import count_exchanges

        rows = [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:02:00"), "a", 1, None),
            (ts("2020-01-01 00:01:00"), ts("2020-01-01 00:03:00"), "a", None, 5),
        ]
        out = idf(spark, rows).make_disjoint(bin_seconds=None)
        # 3 on this tiny fixture (the pairing join BROADCASTS the boundary
        # side; an SMJ-sized input adds its join exchange for 4)
        assert count_exchanges(out.df) == 3

    def test_union_rejects_non_idf(self, spark):
        # reference parity (python/tests/intervals_tests.py
        # test_union_other_df / _other_list_dicts / unionByName variants):
        # plain DataFrames and row dicts raise TypeError
        a = idf(spark, [(ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "a", 1, 2)])
        for bad in (a.df, [{"start_ts": "x"}]):
            with pytest.raises(TypeError):
                a.union(bad)
            with pytest.raises(TypeError):
                a.unionByName(bad)

    def test_union_by_name_extra_column_raises(self, spark):
        # reference parity: schema mismatch surfaces as Spark's
        # AnalysisException in BOTH directions
        from pyspark.errors import AnalysisException

        a = idf(spark, [(ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "a", 1, 2)])
        extra = IntervalsDF(
            a.df.withColumn("metric_3", F.lit(9)),
            "start_ts", "end_ts", ["series_1"],
        )
        with pytest.raises(AnalysisException):
            a.unionByName(extra).df.collect()
        with pytest.raises(AnalysisException):
            extra.unionByName(a).df.collect()


class TestIntervalTsdfJoin:
    def test_point_join(self, spark):
        from tempo_spark import TSDF

        iv = idf(spark, [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:10:00"), "a", 1, None),
            (ts("2020-01-01 00:10:00"), ts("2020-01-01 00:20:00"), "a", 2, None),
        ])
        events = spark.createDataFrame(
            [("a", ts("2020-01-01 00:05:00"), 1.0),
             ("a", ts("2020-01-01 00:10:00"), 2.0),   # boundary → second interval
             ("a", ts("2020-01-01 00:25:00"), 3.0)],  # no interval
            "series_1 string, event_ts timestamp, v double",
        )
        t = TSDF(events, ts_col="event_ts", series_ids=["series_1"])
        out = iv.join_tsdf(t).df.collect()
        got = {str(r.event_ts): r.interval_metric_1 for r in out}
        assert got == {"2020-01-01 00:05:00": 1, "2020-01-01 00:10:00": 2}

        left = iv.join_tsdf(t, how="left").df.collect()
        assert len(left) == 3
        nulls = [r for r in left if r.interval_start_ts is None]
        assert len(nulls) == 1 and str(nulls[0].event_ts) == "2020-01-01 00:25:00"

    def test_mismatched_series_raises(self, spark):
        from tempo_spark import TSDF

        iv = idf(spark, [(ts("2020-01-01 00:00:00"), ts("2020-01-01 00:10:00"), "a", 1, None)])
        events = spark.createDataFrame(
            [("a", ts("2020-01-01 00:05:00"))], "other string, event_ts timestamp"
        )
        with pytest.raises(ValueError, match="series ids"):
            iv.join_tsdf(TSDF(events, ts_col="event_ts", series_ids=["other"]))


class TestMakeDisjointBinned:
    def test_binned_equals_unbinned(self, spark):
        import random

        from tempo_spark import IntervalsDF

        random.seed(42)
        rows = []
        # pathological shape: one series, many overlapping intervals
        # including a giant one spanning everything
        for i in range(80):
            start = random.randint(0, 5000)
            rows.append(
                ("S", float(start), float(start + random.randint(1, 400)),
                 float(i % 7) if i % 3 else None)
            )
        rows.append(("S", 0.0, 6000.0, 99.0))
        df = spark.createDataFrame(
            rows, "k string, start_ts double, end_ts double, m double"
        )
        idf = IntervalsDF(df, start_ts="start_ts", end_ts="end_ts", series_ids=["k"])
        plain = {tuple(r) for r in idf.make_disjoint().df.collect()}
        binned = {tuple(r) for r in idf.make_disjoint(bin_seconds=300).df.collect()}
        assert plain == binned and len(plain) > 50


class TestAutoBinning:
    """bin_seconds="auto" (the default) probes the data once and bins the
    range join iff rows-per-series crosses AUTO_BIN_ROWS_PER_SERIES — the
    un-binned plan is quadratic per series (--ivljoin probe: killed at 9 min
    for 500k rows × 8 series vs 1.9 s binned)."""

    def _skewed(self, spark):
        from tempo_spark import IntervalsDF

        rows = [("S", float(i * 3), float(i * 3 + 10), float(i)) for i in range(60)]
        df = spark.createDataFrame(
            rows, "k string, start_ts double, end_ts double, m double"
        )
        return IntervalsDF(df, "start_ts", "end_ts", ["k"])

    def test_auto_bins_past_threshold(self, spark, monkeypatch):
        import tempo_spark.intervals as iv
        from tempo_spark.plans.inspect import formatted_plan

        monkeypatch.setattr(iv, "AUTO_BIN_ROWS_PER_SERIES", 10)
        i = self._skewed(spark)
        auto = i.make_disjoint()
        assert "__bin" in formatted_plan(auto.df)  # binned equi key fired
        plain = i.make_disjoint(bin_seconds=None)
        assert "__bin" not in formatted_plan(plain.df)
        key = lambda r: tuple(str(v) for v in r)
        assert sorted(map(key, auto.df.collect())) == sorted(
            map(key, plain.df.collect())
        )

    def test_auto_stays_plain_below_threshold(self, spark):
        from tempo_spark.plans.inspect import formatted_plan

        # 60 rows on one series << default 8000 threshold → plain range join
        out = self._skewed(spark).make_disjoint()
        assert "__bin" not in formatted_plan(out.df)

    def test_join_intervals_auto(self, spark, monkeypatch):
        import tempo_spark.intervals as iv
        from tempo_spark.plans.inspect import formatted_plan

        monkeypatch.setattr(iv, "AUTO_BIN_ROWS_PER_SERIES", 10)
        i = self._skewed(spark)
        auto = i.join_intervals(i)
        assert "__bin" in formatted_plan(auto.df)
        plain = i.join_intervals(i, bin_seconds=None)
        key = lambda r: tuple(str(v) for v in r)
        assert sorted(map(key, auto.df.collect())) == sorted(
            map(key, plain.df.collect())
        )
        # "auto" under how="left" quietly stays un-binned (binning is
        # inner-only); explicit numeric + left still raises (TestIntervalIntervalJoin)
        left = i.join_intervals(i, how="left")
        assert "__bin" not in formatted_plan(left.df)

    def test_coverage_ops_auto(self, spark, monkeypatch):
        import tempo_spark.intervals as iv

        monkeypatch.setattr(iv, "AUTO_BIN_ROWS_PER_SERIES", 10)
        i = self._skewed(spark)
        key = lambda r: tuple(str(v) for v in r)
        assert sorted(map(key, i.subtract_intervals(i).df.collect())) == []
        assert sorted(map(key, i.intersect_intervals(i).df.collect())) == sorted(
            map(key, i.intersect_intervals(i, bin_seconds=None).df.collect())
        )

    def test_bad_string_raises(self, spark):
        with pytest.raises(ValueError, match="auto"):
            self._skewed(spark).make_disjoint(bin_seconds="always")

    def test_auto_probe_memoized_per_plan(self, spark, monkeypatch):
        """The auto probe's one eager agg runs ONCE per logical plan —
        repeated make_disjoint over the same input (pipelines, retries,
        warm loops) must not re-execute the upstream subtree. The cached
        value is a plan-choice statistic only, so staleness can never
        change results."""
        import tempo_spark.intervals as iv

        i = self._skewed(spark)
        iv._AUTO_BIN_CACHE.clear()
        i.make_disjoint()  # populates the cache
        assert len(iv._AUTO_BIN_CACHE) == 1

        def boom(self):  # any re-probe would have to call .first()
            raise AssertionError("auto probe re-executed for a cached plan")

        # patch the CONCRETE DataFrame class (pyspark 4 routes through
        # pyspark.sql.classic.DataFrame, not the abstract base)
        monkeypatch.setattr(type(i.df), "first", boom)
        out = i.make_disjoint()  # same logical plan → cache hit
        monkeypatch.undo()
        assert out.df.count() > 0
        assert len(iv._AUTO_BIN_CACHE) == 1

    def test_zero_length_intervals_stay_plain(self, spark, monkeypatch):
        # degenerate widths (all intervals zero-length) must not produce a
        # zero/negative bin width — auto falls back to the plain join
        import tempo_spark.intervals as iv
        from tempo_spark import IntervalsDF
        from tempo_spark.plans.inspect import formatted_plan

        monkeypatch.setattr(iv, "AUTO_BIN_ROWS_PER_SERIES", 2)
        rows = [("S", float(i), float(i), float(i)) for i in range(10)]
        df = spark.createDataFrame(
            rows, "k string, start_ts double, end_ts double, m double"
        )
        i = IntervalsDF(df, "start_ts", "end_ts", ["k"])
        assert "__bin" not in formatted_plan(i.make_disjoint().df)


class TestIntervalIntervalJoin:
    def rows(self):
        return [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:02:00"), "a", 1, None),
            (ts("2020-01-01 00:05:00"), ts("2020-01-01 00:06:00"), "a", 2, None),
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:02:00"), "b", 3, None),
        ]

    def right_rows(self):
        return [
            (ts("2020-01-01 00:01:00"), ts("2020-01-01 00:03:00"), "a", 10, None),
            (ts("2020-01-01 00:02:00"), ts("2020-01-01 00:04:00"), "a", 20, None),  # touches, no overlap
            (ts("2020-01-01 00:01:00"), ts("2020-01-01 00:03:00"), "b", 30, None),
        ]

    def test_inner_overlap(self, spark):
        left, right = idf(spark, self.rows()), idf(spark, self.right_rows())
        out = left.join_intervals(right).df.collect()
        got = sorted(
            (r.series_1, r.metric_1, r.right_metric_1, str(r.overlap_start), str(r.overlap_end))
            for r in out
        )
        # half-open: [0,2) vs [2,4) share only the boundary point — NOT a match
        assert got == [
            ("a", 1, 10, "2020-01-01 00:01:00", "2020-01-01 00:02:00"),
            ("b", 3, 30, "2020-01-01 00:01:00", "2020-01-01 00:02:00"),
        ]

    def test_left_keeps_unmatched(self, spark):
        left, right = idf(spark, self.rows()), idf(spark, self.right_rows())
        out = left.join_intervals(right, how="left").df.collect()
        unmatched = [r for r in out if r.right_metric_1 is None]
        assert {(r.series_1, r.metric_1) for r in unmatched} == {("a", 2)}
        assert all(r.overlap_start is None and r.overlap_end is None for r in unmatched)

    def test_binned_equals_plain(self, spark):
        left, right = idf(spark, self.rows()), idf(spark, self.right_rows())
        plain = left.join_intervals(right).df
        binned = left.join_intervals(right, bin_seconds=30.0).df
        key = lambda r: tuple(str(v) for v in r)
        assert sorted(map(key, plain.collect())) == sorted(map(key, binned.collect()))

    def test_binned_exactly_once_wide_overlap(self, spark):
        # intervals spanning MANY bins must still pair exactly once
        left = idf(spark, [(ts("2020-01-01 00:00:00"), ts("2020-01-01 02:00:00"), "a", 1, None)])
        right = idf(spark, [(ts("2020-01-01 00:30:00"), ts("2020-01-01 03:00:00"), "a", 9, None)])
        out = left.join_intervals(right, bin_seconds=60.0).df.collect()
        assert len(out) == 1
        assert str(out[0].overlap_start) == "2020-01-01 00:30:00"
        assert str(out[0].overlap_end) == "2020-01-01 02:00:00"

    def test_self_join_lineage(self, spark):
        i = idf(spark, self.rows())
        out = i.join_intervals(i).df
        # every interval overlaps itself; disjoint 'a' intervals don't cross-match
        assert out.count() == 3

    def test_validation(self, spark):
        left = idf(spark, self.rows())
        other = IntervalsDF(left.df, "start_ts", "end_ts", [])
        with pytest.raises(ValueError):
            left.join_intervals(other)
        with pytest.raises(ValueError):
            left.join_intervals(left, how="outer")
        with pytest.raises(ValueError):
            left.join_intervals(left, how="left", bin_seconds=10.0)
        clash = left._with_df(left.df.withColumn("right_metric_1", left.df.metric_1))
        with pytest.raises(ValueError):
            clash.join_intervals(left)  # prefixed right col collides with left


class TestCoverageAlgebra:
    def setup_frames(self, spark):
        a = idf(spark, [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 01:00:00"), "a", 1, None),
            (ts("2020-01-01 02:00:00"), ts("2020-01-01 03:00:00"), "a", 2, None),
        ])
        b = idf(spark, [
            (ts("2020-01-01 00:30:00"), ts("2020-01-01 00:45:00"), "a", 99, 99),
            (ts("2020-01-01 02:30:00"), ts("2020-01-01 04:00:00"), "a", 99, 99),
        ])
        return a, b

    def test_subtract(self, spark):
        a, b = self.setup_frames(spark)
        out = collect_intervals(a.subtract_intervals(b))
        assert out == [
            ("a", "2020-01-01 00:00:00", "2020-01-01 00:30:00", 1, None),
            ("a", "2020-01-01 00:45:00", "2020-01-01 01:00:00", 1, None),
            ("a", "2020-01-01 02:00:00", "2020-01-01 02:30:00", 2, None),
        ]

    def test_intersect(self, spark):
        a, b = self.setup_frames(spark)
        out = collect_intervals(a.intersect_intervals(b))
        # payload comes from A; B's 99s never leak
        assert out == [
            ("a", "2020-01-01 00:30:00", "2020-01-01 00:45:00", 1, None),
            ("a", "2020-01-01 02:30:00", "2020-01-01 03:00:00", 2, None),
        ]

    def test_binned_matches_plain(self, spark):
        a, b = self.setup_frames(spark)
        for op in ("subtract_intervals", "intersect_intervals"):
            plain = collect_intervals(getattr(a, op)(b))
            binned = collect_intervals(getattr(a, op)(b, bin_seconds=600.0))
            assert plain == binned, op

    def test_intersect_coalesces_across_subtrahend_boundaries(self, spark):
        # round-7 regression: coverage ops use the BLANKET coalesce — two
        # touching B windows inside one A interval must come back as ONE
        # intersect segment (the reference-exact junction guard sees
        # nvec>=2 on every kept segment and would fragment forever)
        a = idf(spark, [
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:10:00"), "a", 1, None),
        ])
        b = idf(spark, [
            (ts("2020-01-01 00:02:00"), ts("2020-01-01 00:04:00"), "a", 9, 9),
            (ts("2020-01-01 00:04:00"), ts("2020-01-01 00:08:00"), "a", 9, 9),
        ])
        assert collect_intervals(a.intersect_intervals(b)) == [
            ("a", "2020-01-01 00:02:00", "2020-01-01 00:08:00", 1, None),
        ]
        # and subtract around them stays exact
        assert collect_intervals(a.subtract_intervals(b)) == [
            ("a", "2020-01-01 00:00:00", "2020-01-01 00:02:00", 1, None),
            ("a", "2020-01-01 00:08:00", "2020-01-01 00:10:00", 1, None),
        ]

    def test_disjoint_sides_and_series_isolation(self, spark):
        a = idf(spark, [(ts("2020-01-01 00:00:00"), ts("2020-01-01 01:00:00"), "a", 1, None)])
        b = idf(spark, [
            (ts("2020-01-01 05:00:00"), ts("2020-01-01 06:00:00"), "a", 9, 9),   # no overlap
            (ts("2020-01-01 00:00:00"), ts("2020-01-01 01:00:00"), "zz", 9, 9),  # other series
        ])
        assert collect_intervals(a.subtract_intervals(b)) == [
            ("a", "2020-01-01 00:00:00", "2020-01-01 01:00:00", 1, None)
        ]
        assert collect_intervals(a.intersect_intervals(b)) == []

    def test_validation(self, spark):
        a, b = self.setup_frames(spark)
        other = IntervalsDF(b.df, "start_ts", "end_ts", [])
        with pytest.raises(ValueError):
            a.subtract_intervals(other)
        clash = IntervalsDF(
            a.df.withColumn("__a_mask", a.df.metric_1), "start_ts", "end_ts", ["series_1"]
        )
        with pytest.raises(ValueError):
            clash.subtract_intervals(b)


class TestCoverageAndGaps:
    def test_coverage_by_bucket_model(self, spark):
        import datetime as dt

        from tempo_spark.intervals import IntervalsDF

        T = dt.datetime
        rows = [
            # [00:10, 00:50) and an OVERLAPPING [00:30, 01:30) -> dissolve
            ("A", T(2024, 1, 1, 0, 10), T(2024, 1, 1, 0, 50), 1.0),
            ("A", T(2024, 1, 1, 0, 30), T(2024, 1, 1, 1, 30), 2.0),
            # zero-width: no coverage
            ("A", T(2024, 1, 1, 3, 0), T(2024, 1, 1, 3, 0), 3.0),
            ("B", T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 15), 4.0),
        ]
        idf = IntervalsDF(
            spark.createDataFrame(
                rows, "sym string, start_ts timestamp, end_ts timestamp, v double"
            ),
            "start_ts", "end_ts", ["sym"],
        )
        got = {
            (r.sym, r.bucket_ts): (r.covered_micros, round(r.coverage_frac, 9))
            for r in idf.coverage_by_bucket("1 hour").collect()
        }
        H = 3_600_000_000
        # dissolved union [00:10, 01:30): 50 covered minutes inside hour 0
        assert got[("A", T(2024, 1, 1, 0, 0))] == (50 * 60_000_000, round(50 * 60e6 / H, 9))
        assert got[("A", T(2024, 1, 1, 1, 0))] == (30 * 60_000_000, 0.5)
        assert got[("B", T(2024, 1, 1, 0, 0))] == (15 * 60_000_000, 0.25)
        assert len(got) == 3  # zero-width emitted nothing

    def test_coverage_multi_bucket_span(self, spark):
        import datetime as dt

        from tempo_spark.intervals import IntervalsDF

        T = dt.datetime
        idf = IntervalsDF(
            spark.createDataFrame(
                [("A", T(2024, 1, 1, 0, 30), T(2024, 1, 1, 3, 15), 1.0)],
                "sym string, start_ts timestamp, end_ts timestamp, v double",
            ),
            "start_ts", "end_ts", ["sym"],
        )
        got = {
            r.bucket_ts.hour: r.coverage_frac
            for r in idf.coverage_by_bucket("1 hour").collect()
        }
        assert got == {0: 0.5, 1: 1.0, 2: 1.0, 3: 0.25}

    def test_gaps_and_coverage_compose(self, spark):
        import datetime as dt

        from tempo_spark import TSDF

        T = dt.datetime
        rows = [
            ("A", T(2024, 1, 1, 0, 0), 1.0),
            ("A", T(2024, 1, 1, 0, 1), 1.0),
            ("A", T(2024, 1, 1, 0, 2), 1.0),
            ("A", T(2024, 1, 1, 2, 2), 1.0),   # 2h silence
            ("A", T(2024, 1, 1, 2, 3), 1.0),
            ("B", T(2024, 1, 1, 0, 0), 1.0),   # single point: no gap rows
        ]
        t = TSDF(
            spark.createDataFrame(rows, "sym string, ts timestamp, v double"),
            ts_col="ts", series_ids=["sym"],
        )
        gaps = t.gaps("5 minutes")
        g = gaps.df.collect()
        assert len(g) == 1
        assert g[0].sym == "A" and g[0].gap_start == T(2024, 1, 1, 0, 2)
        assert g[0].gap_end == T(2024, 1, 1, 2, 2)
        assert g[0].gap_micros == 7_200_000_000
        cov = {
            r.bucket_ts.hour: r.covered_micros
            for r in gaps.coverage_by_bucket("1 hour").collect()
        }
        assert cov == {0: 58 * 60_000_000, 1: 3_600_000_000, 2: 2 * 60_000_000}

    def test_gaps_validation(self, spark):
        import datetime as dt

        import pytest

        from tempo_spark import TSDF

        t = TSDF(
            spark.createDataFrame(
                [("A", dt.datetime(2024, 1, 1), 1.0)],
                "sym string, ts timestamp, v double",
            ),
            ts_col="ts", series_ids=["sym"],
        )
        with pytest.raises(Exception):
            t.gaps("bogus")


class TestCoverageDensify:
    def test_densify_emits_zero_buckets(self, spark):
        import datetime as dt

        from tempo_spark.intervals import IntervalsDF

        T = dt.datetime
        idf = IntervalsDF(
            spark.createDataFrame(
                [
                    ("A", T(2024, 1, 1, 0, 10), T(2024, 1, 1, 0, 20), 1.0),
                    ("A", T(2024, 1, 1, 4, 0), T(2024, 1, 1, 4, 30), 1.0),
                    (None, T(2024, 1, 1, 1, 0), T(2024, 1, 1, 1, 30), 1.0),
                ],
                "sym string, start_ts timestamp, end_ts timestamp, v double",
            ),
            "start_ts", "end_ts", ["sym"],
        )
        # disjoint by construction -> assume_disjoint exercises the
        # null-series path too (make_disjoint drops null-keyed series —
        # reference pandas-groupby parity — so the dissolve path loses it)
        rows = idf.coverage_by_bucket(
            "1 hour", densify=True, assume_disjoint=True
        ).collect()
        a = {r.bucket_ts.hour: (r.covered_micros, r.coverage_frac)
             for r in rows if r.sym == "A"}
        # hours 0..4 all present; 1-3 explicit zeros
        assert sorted(a) == [0, 1, 2, 3, 4]
        assert a[0][0] == 600_000_000 and a[2] == (0, 0.0)
        assert a[4][0] == 1_800_000_000
        # NULL-keyed series survives densify (eqNullSafe spine join)
        n = [r for r in rows if r.sym is None]
        assert len(n) == 1 and n[0].covered_micros == 1_800_000_000

    def test_densify_equals_sparse_on_covered_buckets(self, spark):
        import datetime as dt

        from tempo_spark.intervals import IntervalsDF

        T = dt.datetime
        idf = IntervalsDF(
            spark.createDataFrame(
                [("A", T(2024, 1, 1, 0, 30), T(2024, 1, 1, 2, 15), 1.0)],
                "sym string, start_ts timestamp, end_ts timestamp, v double",
            ),
            "start_ts", "end_ts", ["sym"],
        )
        sparse = {
            (r.sym, r.bucket_ts): (r.covered_micros, r.coverage_frac)
            for r in idf.coverage_by_bucket("1 hour").collect()
        }
        dense = {
            (r.sym, r.bucket_ts): (r.covered_micros, r.coverage_frac)
            for r in idf.coverage_by_bucket("1 hour", densify=True).collect()
        }
        assert sparse == dense  # fully covered span: no zero buckets to add
