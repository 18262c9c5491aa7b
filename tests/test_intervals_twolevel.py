"""make_disjoint(merge_buckets=B) — the r13 depth-bucketed two-level merge
— pinned equal to the default single-level path and to the reference
kernel's recorded branch matrix.

The two-level path is exact by construction (the bucket split partitions
every segment's covering set; every merge statistic is an associative
min/max re-reduced at level 2 — see intervals._two_level_merged), but the
construction is delicate enough that both fences run:

- the full 75-case golden branch matrix replayed through merge_buckets
  (every resolve_overlap branch class, both dtype sweeps, the chains);
- a dense staggered synthetic (the probe shape) with nulls, duplicate
  rows, containment, shared boundaries and a NULL series id, compared
  row-for-row against the default path in both _coalesce modes.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from tests.golden_utils import load_cases


def _norm_rows(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, dt.datetime):
                v = v.strftime("%Y-%m-%d %H:%M:%S")
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


class TestTwoLevelGoldenMatrix:
    cases = {k: v for k, v in load_cases("interval_kernel_tests").items()
             if not k.startswith("_")}

    def test_branch_matrix_two_level(self, spark):
        from tempo_spark import IntervalsDF

        by_schema: dict = {}
        for name, c in self.cases.items():
            by_schema.setdefault(
                c["inputs"]["data"]["schema"], []
            ).append(name)

        diverged = []
        for schema, names in by_schema.items():
            rows = []
            for name in names:
                for r in self.cases[name]["inputs"]["data"]["rows"]:
                    rows.append((name, *r))
            df = spark.createDataFrame(
                rows, "case_id STRING NOT NULL, " + schema
            ).withColumn("start_ts", F.to_timestamp("start_ts")) \
             .withColumn("end_ts", F.to_timestamp("end_ts"))

            idf = IntervalsDF(df, start_ts="start_ts", end_ts="end_ts",
                              series_ids=["case_id", "series_1"])
            got = {}
            for row in idf.make_disjoint(merge_buckets=3).df.collect():
                got.setdefault(row["case_id"], []).append(
                    (row["start_ts"], row["end_ts"], row["series_1"],
                     row["metric_1"], row["metric_2"]))

            for name in names:
                exp = _norm_rows(self.cases[name]["expected"]["rows"])
                act = _norm_rows(got.get(name, []))
                if exp != act:
                    diverged.append(
                        "{}:\n  expected: {}\n  actual  : {}".format(
                            name, exp, act))
        assert not diverged, (
            "{} of {} kernel cases diverge under merge_buckets=3:\n{}"
            .format(len(diverged), len(self.cases), "\n".join(diverged)))


def _dense_frame(spark, n_rows=6000, n_series=40, span_steps=12):
    """The probe's staggered dense shape + the delicate extras: a NULL
    series id, duplicate rows, a fully-contained interval, a shared
    boundary, and per-metric null stripes."""
    step = 60
    df = spark.range(n_rows).select(
        F.when(F.col("id") % 97 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("id") % n_series).alias("k"),
        F.timestamp_seconds(
            (F.col("id") / n_series).cast("long") * step
        ).alias("start_ts"),
        F.timestamp_seconds(
            ((F.col("id") / n_series).cast("long") + span_steps) * step
        ).alias("end_ts"),
        F.when(F.col("id") % 3 == 0, F.col("id") % 997).alias("m1"),
        F.when(F.col("id") % 3 == 1, (F.col("id") % 991).cast("double"))
        .alias("m2"),
    )
    extras = spark.createDataFrame(
        [
            # duplicate pair (same everything)
            (1, "2023-01-01 00:05:00", "2023-01-01 00:20:00", 7, 7.0),
            (1, "2023-01-01 00:05:00", "2023-01-01 00:20:00", 7, 7.0),
            # containment + shared start boundary
            (1, "2023-01-01 00:05:00", "2023-01-01 00:10:00", None, 3.0),
            (2, "2023-01-01 00:00:00", "2023-01-01 01:00:00", 9, None),
            (2, "2023-01-01 00:30:00", "2023-01-01 01:00:00", 4, 4.0),
        ],
        "k LONG, start_ts STRING, end_ts STRING, m1 LONG, m2 DOUBLE",
    ).select(
        "k",
        F.to_timestamp("start_ts").alias("start_ts"),
        F.to_timestamp("end_ts").alias("end_ts"),
        "m1",
        "m2",
    )
    return df.unionByName(extras)


@pytest.mark.parametrize("coalesce_mode", ["reference", "blanket"])
def test_dense_parity_with_default_path(spark, coalesce_mode):
    from tempo_spark import IntervalsDF

    df = _dense_frame(spark)
    idf = IntervalsDF(df, "start_ts", "end_ts", ["k"])
    base = idf.make_disjoint(bin_seconds=None, _coalesce=coalesce_mode)
    two = idf.make_disjoint(
        bin_seconds=None, _coalesce=coalesce_mode, merge_buckets=4
    )
    cols = base.df.columns
    assert two.df.columns == cols
    key = lambda r: tuple(str(r[c]) for c in cols)  # noqa: E731
    b = sorted(base.df.collect(), key=key)
    t = sorted(two.df.collect(), key=key)
    assert len(b) == len(t)
    assert b == t


def test_two_level_bucket_count_insensitive(spark):
    # B only partitions the associative reduce — any B gives the same rows
    from tempo_spark import IntervalsDF

    df = _dense_frame(spark, n_rows=2000, n_series=20, span_steps=8)
    idf = IntervalsDF(df, "start_ts", "end_ts", ["k"])
    outs = []
    for b in (2, 7):
        rows = idf.make_disjoint(
            bin_seconds=None, merge_buckets=b
        ).df.collect()
        outs.append(sorted(rows, key=lambda r: tuple(str(v) for v in r)))
    assert outs[0] == outs[1]


def test_merge_buckets_validation(spark):
    from tempo_spark import IntervalsDF

    df = _dense_frame(spark, n_rows=100, n_series=5, span_steps=3)
    idf = IntervalsDF(df, "start_ts", "end_ts", ["k"])
    with pytest.raises(ValueError, match="merge_buckets"):
        idf.make_disjoint(merge_buckets=1)
    with pytest.raises(ValueError, match="mutually"):
        idf.make_disjoint(bin_seconds=240, merge_buckets=4)
    with pytest.raises(ValueError, match="reserved"):
        IntervalsDF(
            df.withColumn("__mb_bk", F.lit(1)),
            "start_ts", "end_ts", ["k"],
        ).make_disjoint(merge_buckets=4)


def test_bin_seconds_spelling_checked_with_merge_buckets(spark):
    # merge_buckets skips the auto-bin probe, not the argument check
    from tempo_spark import IntervalsDF

    df = _dense_frame(spark, n_rows=100, n_series=5, span_steps=3)
    idf = IntervalsDF(df, "start_ts", "end_ts", ["k"])
    with pytest.raises(ValueError, match="bin_seconds"):
        idf.make_disjoint(bin_seconds="bogus", merge_buckets=4)


@pytest.mark.parametrize("merge_buckets", [None, 4])
@pytest.mark.parametrize("name", ["__i_end", "__i_start_d"])
def test_interval_staging_names_reserved(spark, merge_buckets, name):
    # both pairing paths stage __i_* columns next to the payload
    from tempo_spark import IntervalsDF

    df = _dense_frame(spark, n_rows=100, n_series=5, span_steps=3)
    idf = IntervalsDF(
        df.withColumn(name, F.col("m2")), "start_ts", "end_ts", ["k"]
    )
    with pytest.raises(ValueError, match="reserved"):
        idf.make_disjoint(bin_seconds=None, merge_buckets=merge_buckets)
