"""Smoke coverage for public helpers the gate/tests didn't reference by
name (round 11, driven by tests/test_gatemap.py's no-orphan rule).

Each check is small but REAL — it asserts observable behavior, not just
importability — so the no-orphan rule stays meaningful: a new public
surface needs at least this grade of test to pass it."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from tempo_spark import TSDF


def _one_row(spark):
    return spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 0, 0, 1), 1.5)],
        "sym string, ts timestamp, v double",
    )


class TestTimestampHelpers:
    def test_ts_conversions(self, spark):
        from pyspark.sql.types import DoubleType, StringType, TimestampType

        from tempo_spark.functions.timestamps import (
            double_ts_expr,
            is_time_like,
            ts_double_from,
            ts_to_double,
        )

        assert is_time_like(TimestampType()) and is_time_like(DoubleType())
        assert not is_time_like(StringType())
        df = _one_row(spark)
        got = df.select(
            ts_to_double(F.col("ts"), df.schema["ts"].dataType).alias("a"),
            ts_double_from(df, "ts").alias("b"),
            double_ts_expr(F.lit("2024-01-01 00:00:01.000000123")).alias("c"),
        ).collect()[0]
        want = dt.datetime(2024, 1, 1, 0, 0, 1, tzinfo=dt.timezone.utc).timestamp()
        assert got.a == got.b == want
        # nano digits survive where to_timestamp would truncate
        assert abs(got.c - (want + 1.23e-7)) < 1e-9

    def test_freq_dataclass(self):
        from tempo_spark.functions.freq import Freq, parse_freq

        f = parse_freq("15 minutes")
        assert isinstance(f, Freq) and (f.period, f.unit) == (15, "minute")
        assert parse_freq(f) is f


class TestTsdfSurfaces:
    def test_windows_sequence_and_col_partitions(self, spark):
        t = TSDF(_one_row(spark), ts_col="ts", series_ids=["sym"])
        assert set(t.structural_cols) == {"sym", "ts"}
        assert t.observational_cols == ["v"]
        w = t.range_window(10.0)  # usable spec: rolling count == 1
        r = t.rows_window(-1, 0)
        got = t.df.select(
            F.count("*").over(w).alias("a"), F.count("*").over(r).alias("b")
        ).collect()[0]
        assert (got.a, got.b) == (1, 1)
        t2 = t.withSequenceCol("v")
        assert t2.sequence_col == "v" and t2.observational_cols == []
        from tempo_spark.tsdf import ResampledTSDF

        assert isinstance(t.resample("1 hour", "mean"), ResampledTSDF)

    def test_module_level_operator_twins(self, spark):
        """asof_join/asof_join_many/cross_corr/extract_state_intervals are
        the module functions behind the TSDF methods — same results."""
        from tempo_spark.operators.acf import cross_corr
        from tempo_spark.operators.asof import asof_join, asof_join_many
        from tempo_spark.operators.state import extract_state_intervals

        base = dt.datetime(2024, 1, 1)
        left = TSDF(
            spark.createDataFrame(
                [("a", base + dt.timedelta(seconds=i), float(i)) for i in range(6)],
                "sym string, ts timestamp, v double",
            ),
            ts_col="ts", series_ids=["sym"],
        )
        right = TSDF(
            spark.createDataFrame(
                [("a", base + dt.timedelta(seconds=2), 9.0)],
                "sym string, ts timestamp, q double",
            ),
            ts_col="ts", series_ids=["sym"],
        )
        direct = asof_join(left, right, left_prefix="l", right_prefix="r").df
        method = left.asofJoin(right, left_prefix="l", right_prefix="r").df
        assert sorted(map(tuple, direct.collect())) == sorted(
            map(tuple, method.collect())
        )
        many = asof_join_many(left, {"r": right}).df
        assert many.count() == 6
        cc = cross_corr(left, "v", "v", max_lag=1).collect()
        assert {r.lag for r in cc} == {-1, 0, 1}
        # strictly increasing series: exactly one of the strict
        # comparators holds everywhere (1 interval), the other nowhere
        counts = sorted(
            extract_state_intervals(left, ["v"], op).count()
            for op in ("<", ">")
        )
        assert counts == [0, 1]
        with pytest.raises(ValueError, match="metric"):
            extract_state_intervals(left, [])

    def test_session_configure(self, spark):
        from tempo_spark.session import configure

        before = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            out = configure(spark, shuffle_partitions=7)
            assert out is spark
            assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)


class TestPlanInspectors:
    def test_pushed_filters_and_clustering(self, spark, tmp_path):
        from tempo_spark.plans.inspect import (
            has_pushed_filters,
            plan_size_bytes_cached,
        )

        p = str(tmp_path / "t")
        spark.range(100).selectExpr("id", "id % 5 AS k").write.parquet(p)
        df = spark.read.parquet(p)
        assert has_pushed_filters(df.where(F.col("id") > 50))
        assert not has_pushed_filters(df)
        size = plan_size_bytes_cached(df)
        assert size is None or size > 0


class TestDedupHelpers:
    def test_shingles_signature_bands_verify(self, spark):
        from tempo_spark.pipeline.dedup import (
            band_key_array,
            char_shingles,
            content_digest,
            jaccard_verify,
            minhash_signature,
            word_shingles,
        )

        df = spark.createDataFrame(
            [(0, "the cat sat on the mat"), (1, "the cat sat on the hat"),
             (2, None)],
            "doc_id long, text string",
        )
        row = df.where("doc_id = 0").select(
            char_shingles(F.col("text"), 5).alias("cs"),
            word_shingles(F.col("text"), 3).alias("ws"),
            content_digest(F.col("text")).alias("d"),
        ).collect()[0]
        assert "the c" in row.cs and "the cat sat" in row.ws
        assert row.d and len(row.d) == 32
        nulld = df.where("doc_id = 2").select(
            content_digest(F.col("text")).alias("d")
        ).collect()[0].d
        assert nulld == "__null_text__"  # null-safe sentinel, never NULL
        sig = df.where("text IS NOT NULL").select(
            "doc_id",
            minhash_signature(
                word_shingles(F.col("text"), 3), num_hashes=8
            ).alias("sig"),
        )
        srow = sig.collect()[0]
        assert len(srow.sig) == 8
        bands = sig.select(
            "doc_id", band_key_array("sig", 4).alias("bk")
        ).collect()
        assert all(len(r.bk) == 4 for r in bands)
        cands = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
        verified = jaccard_verify(
            cands, df, "doc_id", shingle_k=3, use_words=True, threshold=0.5
        ).collect()
        assert len(verified) == 1 and verified[0].jaccard > 0.5


class TestSimilarityPqHelpers:
    def test_hyperplane_dot_lut_adc(self, spark):
        from tempo_spark.pipeline.similarity import (
            PQCodec,
            dot,
            hyperplane_bucket,
        )

        df = spark.createDataFrame(
            [(i, [float(i), float(-i)]) for i in range(1, 5)],
            "id long, v array<double>",
        )
        got = sorted(
            df.select(
                "id",
                dot(F.col("v"), F.col("v")).alias("d"),
                hyperplane_bucket("v", [[1.0, 0.0], [0.0, 1.0]]).alias("b"),
            ).collect(),
            key=lambda r: r.id,
        )
        assert got[0].d == 2.0  # 1*1 + (-1)*(-1)
        # positive x, negative y for every row -> same bucket string
        assert len({r.b for r in got}) == 1
        codec = PQCodec.train(df, "id", "v", m=2, ksub=2, init="first")
        enc = codec.encode(df, "v", out="code")
        q = spark.createDataFrame([(0, [1.0, -1.0])], "qid long, v array<double>")
        lutted = codec.with_lut(q, "v", out="lut")
        scored = enc.crossJoin(lutted.select("qid", "lut")).select(
            "id", codec.adc_score(F.col("lut"), F.col("code")).alias("s")
        ).collect()
        assert all(r.s is not None for r in scored)
        # id=1 is the query itself: its ADC distance must be the minimum
        best = min(scored, key=lambda r: r.s)
        assert best.id == 1


class TestTextAndSamplingHelpers:
    def test_boundary_columns_and_split_bucket(self, spark):
        from tempo_spark.pipeline.sampling import split_bucket
        from tempo_spark.pipeline.text import (
            paragraphs_col,
            sentences_col,
            tokens_col,
        )

        df = spark.createDataFrame(
            [(0, "One sentence. Two!\n\nNew para here.")],
            "doc_id long, text string",
        )
        row = df.select(
            tokens_col(F.col("text")).alias("t"),
            sentences_col(F.col("text")).alias("s"),
            paragraphs_col(F.col("text")).alias("p"),
            split_bucket(F.col("doc_id").cast("string")).alias("b"),
        ).collect()[0]
        assert len(row.t) == 6 and len(row.p) == 2 and len(row.s) >= 2
        assert 0 <= row.b < 1_000_000
        empty = df.select(tokens_col(F.lit("")).alias("t")).collect()[0].t
        assert empty == []

    def test_repartition_by_bytes(self, spark):
        from tempo_spark.pipeline.multimodal import repartition_by_bytes

        df = spark.createDataFrame(
            [(i, b"x" * 1000) for i in range(64)], "id long, data binary"
        )
        out = repartition_by_bytes(df, total_bytes=64_000,
                                   target_partition_bytes=8_000)
        assert out.count() == 64
        assert out.rdd.getNumPartitions() == 8


class TestCodecDataclassesAndIntervals:
    def test_decoded_audio_video_roundtrip(self):
        import numpy as np

        from tempo_spark.pipeline.codecs import (
            DecodedAudio,
            DecodedVideo,
            decode_avi,
            decode_wav,
            encode_avi,
            encode_wav_pcm16,
        )

        wav = encode_wav_pcm16(np.array([0, 1000, -1000], dtype=np.int16), 8000)
        a = decode_wav(wav)
        assert isinstance(a, DecodedAudio)
        assert (a.sample_rate, a.n_channels, a.n_frames) == (8000, 1, 3)
        frame = bytes(range(2 * 2 * 3))
        avi = encode_avi([frame], 2, 2, micro_sec_per_frame=50000)
        v = decode_avi(avi)
        assert isinstance(v, DecodedVideo)
        assert (v.width, v.height, v.micro_sec_per_frame) == (2, 2, 50000)
        assert v.frames == [frame]

    def test_is_metric_col_and_observational_columns(self, spark):
        from tempo_spark import IntervalsDF
        from tempo_spark.intervals import is_metric_col

        df = spark.createDataFrame(
            [("a", dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2), 5, "x")],
            "sym string, s timestamp, e timestamp, m long, note string",
        )
        idf = IntervalsDF(df, "s", "e", ["sym"])
        assert set(idf.observational_columns) == {"m", "note"}
        fields = {f.name: f for f in df.schema.fields}
        assert is_metric_col(fields["m"])
        assert not is_metric_col(fields["s"])


class TestBpeStreamingSurfaces:
    def test_segmented_expr_and_streaming_lsh_method(self, spark, tmp_path):
        from tempo_spark.pipeline.bpe import BPEModel
        from tempo_spark.streaming.tsdf import StreamingTSDF

        m = BPEModel([("a", "b")])
        seg = spark.createDataFrame([("ab a",)], "t string").select(
            m.segmented_expr(F.col("t")).alias("s")
        ).collect()[0].s
        assert seg == "\x02ab\x03 \x02a\x03"
        # lsh_dedup delegates to streaming_lsh_dedup on the wrapped stream
        src = str(tmp_path / "in")
        spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1), "alpha beta gamma delta")],
            "doc_id long, ts timestamp, text string",
        ).write.parquet(src)
        stream = spark.readStream.schema(
            "doc_id long, ts timestamp, text string"
        ).parquet(src)
        st = StreamingTSDF(stream, ts_col="ts")
        pairs = st.lsh_dedup("doc_id", "text")
        assert pairs.isStreaming
        assert {"doc_id", "dup_of", "est_jaccard"} <= set(pairs.columns)


class TestR12FunctionalTwins:
    """no-orphan references for the r12 functional surfaces (methods are
    tested elsewhere; these pin module function == TSDF method)."""

    def test_ohlc_indicator_functions(self, spark):
        from tempo_spark.operators.indicators import (
            with_atr,
            with_obv,
            with_stochastic,
            with_williams_r,
        )

        base = dt.datetime(2024, 1, 1)
        rows = [
            ("a", base + dt.timedelta(hours=i),
             10.0 + (i % 5), 8.0 - (i % 3), 9.0 + ((i * 3) % 4), float(i + 1))
            for i in range(20)
        ]
        df = spark.createDataFrame(
            rows,
            "sym string, ts timestamp, hi double, lo double, cl double, vol double",
        )
        t = TSDF(df, ts_col="ts", series_ids=["sym"])
        a = [r.atr for r in
             with_atr(t, "hi", "lo", "cl", 5).orderBy("ts").collect()]
        b = [r.atr for r in
             t.withATR("hi", "lo", "cl", 5).df.orderBy("ts").collect()]
        assert a == b and any(x is not None for x in a)
        k1 = [r.stoch_k for r in
              with_stochastic(t, "hi", "lo", "cl", 5, 3).orderBy("ts").collect()]
        k2 = [r.stoch_k for r in
              t.withStochastic("hi", "lo", "cl", 5, 3).df.orderBy("ts").collect()]
        assert k1 == k2
        w1 = [r.williams_r for r in
              with_williams_r(t, "hi", "lo", "cl", 5).orderBy("ts").collect()]
        w2 = [r.williams_r for r in
              t.withWilliamsR("hi", "lo", "cl", 5).df.orderBy("ts").collect()]
        assert w1 == w2 and any(x is not None for x in w1)
        o1 = [r.obv for r in with_obv(t, "cl", "vol").orderBy("ts").collect()]
        o2 = [r.obv for r in t.withOBV("cl", "vol").df.orderBy("ts").collect()]
        assert o1 == o2 and o1[-1] != 0.0

    def test_ets_wsum_sql_shape(self, spark):
        """ets_wsum_sql emits the left-associated literal sum the oracle
        replays — pin the shape and a 2-weight evaluation."""
        from tempo_spark.operators.forecast import ets_wsum_sql

        sql = ets_wsum_sql([0.25, 0.5], tail_col="__fc_tail")
        assert "0.25" in sql and "0.5" in sql
        got = spark.sql(
            "SELECT " + sql.replace(
                "__fc_tail",
                "array(named_struct('us', 1L, 'y', 2.0d), "
                "named_struct('us', 2L, 'y', 4.0d))",
            ) + " AS s"
        ).collect()[0].s
        assert got == 0.25 * 2.0 + 0.5 * 4.0

    def test_observe_input_passthrough(self, spark):
        """observe_input is a zero-cost passthrough on batch frames too
        (the observation node is usable on any Dataset)."""
        from tempo_spark.streaming.metrics import observe_input

        df = _one_row(spark)
        out = observe_input(df, "ts", "smoke_obs")
        assert out.columns == df.columns and out.count() == 1

    def test_with_cusum_function_twin(self, spark):
        from tempo_spark.operators.indicators import with_cusum

        df = spark.createDataFrame(
            [("a", dt.datetime(2024, 1, 1, 0, m), 5.0 + m) for m in range(6)],
            "sym string, ts timestamp, v double",
        )
        t = TSDF(df, ts_col="ts", series_ids=["sym"])
        a = [r.cusum_pos for r in
             with_cusum(t, "v", target=5.0).orderBy("ts").collect()]
        b = [r.cusum_pos for r in
             t.withCusum("v", target=5.0).df.orderBy("ts").collect()]
        assert a == b and a[-1] == 15.0  # sum of 0..5

    def test_rolling_quantile_hampel_function_twins(self, spark):
        from tempo_spark.operators.robust import (
            with_hampel,
            with_rolling_quantile,
        )

        df = spark.createDataFrame(
            [("a", dt.datetime(2024, 1, 1, 0, m), float(m % 4)) for m in range(12)],
            "sym string, ts timestamp, v double",
        )
        t = TSDF(df, ts_col="ts", series_ids=["sym"])
        a = [r["v_q0_5"] for r in
             with_rolling_quantile(t, "v", 3).orderBy("ts").collect()]
        b = [r["v_q0_5"] for r in
             t.withRollingQuantile("v", 3).df.orderBy("ts").collect()]
        assert a == b and a[-1] is not None
        f1 = [r.is_outlier for r in
              with_hampel(t, "v", 5).orderBy("ts").collect()]
        f2 = [r.is_outlier for r in
              t.withHampel("v", 5).df.orderBy("ts").collect()]
        assert f1 == f2
