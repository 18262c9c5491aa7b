"""Changepoint detection per series (binary segmentation).

The classic offline changepoint primitive (the building block of
PELT-style detectors): for every split position k the between-segment
sum of squares

    score(k) = k·(n−k)/n · (mean_left − mean_right)²

is the likelihood-ratio statistic for a mean shift at k under fixed
variance; the best split is its argmax. ``changepoint`` returns the one
optimal split per series; ``changepoints`` recurses — PARALLEL binary
segmentation: each round every current segment splits at its own best
point when the split passes the ``min_size``/``min_score`` thresholds,
so a series can gain up to 2^rounds − 1 splits (this is the standard
distributed variant; strict one-split-at-a-time greedy differs only in
which splits a ``max`` cap would drop — here depth is the cap).

Spark shape: each round is ONE shuffle on (series, segment) — exact
decimal prefix sums over the 1e-6 value grid (order-independent,
engine-replayable), n and the total from the same window pass, score as
a FIXED IEEE expression over those sums, argmax by (score DESC, ts ASC).
O(n) per series per round; accepted splits broadcast back to re-segment.
Rounds are driver-coordinated (one bounded count() per round) with
per-round persists released as soon as the next round lands.

Determinism contract (the ACF idiom): rows order by exact epoch micros
(+ sequence col, + a value-grid content hash so ties are total over
distinct rows); NULL values are EXCLUDED from the statistic; a segment
shorter than 2 usable rows emits nothing. Segment membership after a
split follows POSITION in that same total order (rows ≤ the reported
n_left go left), so the realized children always match the reported
n_left/means/score, including under duplicate timestamps. ``score``
replays bit-for-bit on an external engine.
"""

from __future__ import annotations

from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from tempo_spark.functions.sql import RUNNING, grid6_sql, ident, over_sql


def _best_splits(tsdf, base: DataFrame, keys, part_cols) -> DataFrame:
    """Best mean-shift split per ``part_cols`` group of ``base`` (which
    carries a non-null ``__cp_y`` grid column): one row per group with
    (part_cols…, split_ts, n_left, n, mean_left, mean_right, score)."""
    # r12 one-parse plan build (the seasonal/acf idiom): the order
    # expressions materialize once as __cp_o/__cp_h (Catalyst projects
    # window order keys below the Window anyway and prunes them after),
    # and every window/score fragment parses in one batch instead of
    # ~1,100 py4j round trips per round. Values pinned by the
    # changepoint suite + the twap cpt/cpt_nl gate tags.
    part = [ident(c) for c in part_cols]
    ob = ["__cp_o ASC"]
    if getattr(tsdf, "sequence_col", None):
        ob.append(ident(tsdf.sequence_col) + " ASC")
    ob.append("__cp_h ASC")
    wov = over_sql(part, ob)
    wfr = over_sql(part, ob, RUNNING)
    wall = over_sql(part)
    staged = base.select(
        "*",
        tsdf._exact_micros_order().alias("__cp_o"),
        F.expr("xxhash64(__cp_y) AS __cp_h"),
    )
    ydec = "cast(__cp_y as decimal(18,6))"
    staged = staged.selectExpr(
        *[ident(c) for c in part_cols],
        ident(tsdf.ts_col),
        f"row_number() {wov} AS __cp_k",
        f"sum({ydec}) {wfr} AS __cp_s",
        f"sum({ydec}) {wall} AS __cp_tot",
        f"count(1) {wall} AS __cp_n",
    )
    k = "cast(__cp_k as double)"
    n = "cast(__cp_n as double)"
    nr = "cast(__cp_n - __cp_k as double)"
    sl = "cast(__cp_s as double)"
    sr = "cast(__cp_tot - __cp_s as double)"
    ml = f"{sl} / {k}"
    mr = f"{sr} / {nr}"
    d = f"({ml} - {mr})"
    score = f"({k} * {nr} / {n}) * ({d} * {d})"
    scored = staged.where("__cp_k < __cp_n").selectExpr(
        *[ident(c) for c in part_cols],
        f"{ident(tsdf.ts_col)} AS split_ts",
        "__cp_k AS n_left",
        "__cp_n AS n",
        f"{ml} AS mean_left",
        f"{mr} AS mean_right",
        f"{score} AS score",
    )
    pick = over_sql(
        part, ["score DESC NULLS LAST", "split_ts ASC", "n_left ASC"]
    )
    return (
        scored.selectExpr("*", f"row_number() {pick} AS __cp_r")
        .where("__cp_r = 1")
        .drop("__cp_r")
    )


def _prepared(tsdf, value_col: str):
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    clash = sorted(c for c in tsdf.df.columns if c.startswith("__cp_"))
    if clash:
        raise ValueError(f"reserved staging columns present: {clash}")
    df = tsdf.df
    keys = list(tsdf.series_ids)
    if not keys:
        df = df.withColumn("__cp_g", F.lit(0))
        keys = ["__cp_g"]
    # one-parse grid (r13): the Column-form grid6 costs ~107 py4j trips
    # per call site; F.expr of its SQL twin builds the same tree in one
    yq = F.expr(grid6_sql(ident(value_col)))
    base = df.withColumn("__cp_y", yq).where(F.col("__cp_y").isNotNull())
    return base, keys


def changepoint(tsdf, value_col: str) -> DataFrame:
    """(series…, split_ts, n_left, n, mean_left, mean_right, score) —
    one row per series holding the best mean-shift split; ``split_ts``
    is the LAST timestamp of the left segment. See module docstring."""
    base, keys = _prepared(tsdf, value_col)
    return _best_splits(tsdf, base, keys, keys).drop("__cp_g")


def changepoints(
    tsdf,
    value_col: str,
    rounds: int = 3,
    min_size: int = 2,
    min_score: Optional[float] = None,
) -> DataFrame:
    """Parallel binary segmentation (see module docstring): every
    accepted split across ``rounds`` recursion rounds, one row each —
    (series…, round, segment_id, split_ts, n_left, n, mean_left,
    mean_right, score). ``segment_id`` is the pre-split segment (root 0,
    children 2·seg+1 left / 2·seg+2 right — a heap layout, so the
    segmentation tree reconstructs from ids alone). A split is accepted
    when both sides have ≥ ``min_size`` rows and (when set) score ≥
    ``min_score``."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if min_size < 1:
        raise ValueError(f"min_size must be >= 1, got {min_size}")
    base, keys = _prepared(tsdf, value_col)
    seg = base.withColumn("__cp_seg", F.lit(0))
    part_cols = keys + ["__cp_seg"]
    out_frames = []
    persisted = []
    try:
        for rnd in range(rounds):
            best = _best_splits(tsdf, seg, keys, part_cols)
            accepted = best.where(
                (F.col("n_left") >= min_size)
                & ((F.col("n") - F.col("n_left")) >= min_size)
                & F.col("score").isNotNull()
            )
            if min_score is not None:
                accepted = accepted.where(F.col("score") >= min_score)
            last_round = rnd == rounds - 1
            if last_round:
                # the loop ends here either way: the emptiness probe only
                # gates a `break`, the re-segmentation below only feeds
                # rounds that won't run, and the persist only pays off for
                # the splits broadcast those rounds would read. Appending a
                # possibly-empty frame to the union is row-identical (and
                # the empty-result fallback below stays reachable only via
                # an EARLIER round's break, where seg is still the frame it
                # was scored on). Measured r13: skipping saves one full
                # upstream job (the isEmpty ran the whole 2-round lineage,
                # 0.15-0.9 s at sf0.1) + ~180 py4j trips of dead plan.
                out_frames.append(
                    accepted.select(
                        *keys,
                        F.lit(rnd).alias("round"),
                        F.col("__cp_seg").alias("segment_id"),
                        "split_ts", "n_left", "n",
                        "mean_left", "mean_right", "score",
                    )
                )
                break
            accepted = accepted.persist()
            persisted.append(accepted)
            # early-exit probe: isEmpty() (a limit-1 job) instead of the
            # former count() — the loop only needs EMPTINESS, and the full
            # materialization the count used to provide happens anyway in
            # this round's splits broadcast (r12: ~0.2 s/call at sf0.1,
            # and strictly less work per round at scale)
            if accepted.isEmpty():
                break
            out_frames.append(
                accepted.select(
                    *keys,
                    F.lit(rnd).alias("round"),
                    F.col("__cp_seg").alias("segment_id"),
                    "split_ts", "n_left", "n",
                    "mean_left", "mean_right", "score",
                )
            )
            # re-segment by POSITION in the same (micros, seq, value-hash)
            # order the split was SCORED on — a timestamp comparison would
            # send tied-ts rows to the wrong child, making the realized
            # segments disagree with the reported n_left/means/score
            # (r11 review: dup-ts series mis-segmented)
            splits = accepted.select(
                *[F.col(c).alias(f"__cp_j{i}") for i, c in enumerate(part_cols)],
                F.col("n_left").alias("__cp_nl"),
            )
            cond = [
                F.col(c).eqNullSafe(F.col(f"__cp_j{i}"))
                for i, c in enumerate(part_cols)
            ]
            order = [tsdf._exact_micros_order()]
            if getattr(tsdf, "sequence_col", None):
                order.append(F.col(tsdf.sequence_col))
            order.append(F.xxhash64(F.col("__cp_y")))
            wpos = Window.partitionBy(
                *[F.col(c) for c in part_cols]
            ).orderBy(*order)
            seg = (
                seg.withColumn("__cp_pos", F.row_number().over(wpos))
                .join(F.broadcast(splits), cond, "left")
                .withColumn(
                    "__cp_seg",
                    F.when(
                        F.col("__cp_nl").isNull(), F.col("__cp_seg")
                    ).otherwise(
                        F.col("__cp_seg") * 2
                        + F.when(
                            F.col("__cp_pos") <= F.col("__cp_nl"), 1
                        ).otherwise(2)
                    ),
                )
                .drop(
                    "__cp_nl", "__cp_pos",
                    *[f"__cp_j{i}" for i in range(len(part_cols))],
                )
            )
            if rnd < rounds - 1:
                seg = seg.persist()
                persisted.append(seg)
        if not out_frames:
            schema_frame = _best_splits(tsdf, seg, keys, part_cols).select(
                *keys,
                F.lit(0).alias("round"),
                F.col("__cp_seg").alias("segment_id"),
                "split_ts", "n_left", "n", "mean_left", "mean_right", "score",
            )
            return schema_frame.where(F.lit(False)).drop("__cp_g")
        from functools import reduce

        result = reduce(lambda a, b: a.unionByName(b), out_frames)
        # materialize before releasing the per-round persists: the union
        # reads the accepted frames, which must survive until collected
        result = result.localCheckpoint(eager=True)
        return result.drop("__cp_g")
    finally:
        for f in persisted:
            f.unpersist()
