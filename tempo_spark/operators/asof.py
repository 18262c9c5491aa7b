"""As-of join — the flagship operator.

For each left (trade) row, attach the most recent right (quote) row with
``right.ts <= left.ts`` within the same series. Capability parity with the
reference's ``asofJoin`` (reference: python/tempo/tsdf.py:752-947),
re-expressed Spark-first. Three physical strategies:

1. **union-window** (default): prefix+pad both sides, ``unionByName``, then
   one ``last(col, ignoreNulls)`` window per right column over
   ``Window.partitionBy(series).orderBy(combined_ts, rec_ind[, seq])``.
   Exactly ONE shuffle (on series_ids) regardless of how many right columns
   are carried — this is the scale-safe default for large×large joins where
   a range join would explode.
2. **range-join** (``use_range_join=True``): compute each right row's
   validity interval ``[ts, lead(ts))`` and equi-join on series ids with a
   ``BETWEEN`` range predicate. With a small right side Catalyst broadcasts
   it, eliminating the shuffle of the (big) left side entirely — the right
   choice when quotes ≪ trades. We hint ``broadcast()`` when the caller
   asks for it via ``broadcast_right=True``.
3. **time-partitioned skew path** (``ts_partition_val``): salt the series
   key with a time bracket ``floor(ts / val) * val`` and duplicate the
   trailing ``fraction`` of each bracket into the next so every bracket's
   window has lookback context. Handles a single monster series that would
   otherwise pin one task (AQE skew handling does not cover window
   functions).

Optional ``tolerance`` (seconds) nulls out right columns older than the
band, matching the reference's post-filter (reference:
python/tempo/tsdf.py:919-945). With ``direction="forward"``/``"nearest"``
the band applies to ``abs(left_ts - right_ts)``.

``direction`` extends beyond the reference (backward-only there) with the
pandas ``merge_asof`` directions: ``"forward"`` attaches the earliest right
row with ``right.ts >= left.ts``; ``"nearest"`` picks whichever of the
backward/forward candidates is closer in time (ties -> backward). Both are
union-window only: one shuffle on series_ids; ``nearest`` adds a second
in-partition Sort (no extra exchange) because the two directions need
opposite tie-orders.
"""

from __future__ import annotations

from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window

from tempo_spark.functions.sql import RUNNING, ident, over_sql
from tempo_spark.functions.timestamps import ts_to_double

#: sql_join_opt size cutoff — a side whose Catalyst-estimated plan size
#: is under this takes the broadcast/range path (reference:
#: python/tempo/tsdf.py:793-795 uses the same 30 MiB figure)
SQL_JOIN_OPT_BROADCAST_BYTES = 30 * 1024 * 1024

_REC_IND = "__tempo_rec_ind"
_CTS = "__tempo_cts"
_TIE = "__tempo_tie"
_TS_PARTITION = "__tempo_ts_partition"
_IS_ORIGINAL = "__tempo_is_original"


def _prefixed(prefix: Optional[str], col: str) -> str:
    return f"{prefix}_{col}" if prefix else col


def _prepare_side(tsdf, prefix: Optional[str]):
    """Rename every non-series column with the side prefix; return
    (df, ts_col, seq_col, renamed_value_cols)."""
    mapping = {c: _prefixed(prefix, c) for c in tsdf.df.columns if c not in tsdf.series_ids}
    df = tsdf.df
    for old, new in mapping.items():
        if old != new:
            df = df.withColumnRenamed(old, new)
    ts = mapping[tsdf.ts_col]
    seq = mapping.get(tsdf.sequence_col) if tsdf.sequence_col else None
    values = [mapping[c] for c in tsdf.df.columns if c not in tsdf.series_ids]
    return df, ts, seq, values


def _ts_kind_of(tsdf) -> str:
    """Timestamp dtype category for join compatibility checks: every
    numeric type is one category (epoch numbers compare fine), otherwise
    the exact type name."""
    from pyspark.sql.types import NumericType

    dt = tsdf.df.schema[tsdf.ts_col].dataType
    return "numeric" if isinstance(dt, NumericType) else dt.typeName()


def _null_outside_tolerance(df, l_ts, l_dtype, r_ts, r_dtype, r_vals, tol):
    """Null one right side's columns where the match is older than ``tol``
    seconds (|left_ts - right_ts| > tol — backward matches are never in
    the future, so abs() preserves backward semantics while covering
    forward/nearest). Value columns first, the right ts LAST: the stale
    predicate reads r_ts, so nulling it first would disarm every later
    column's check."""
    age = ts_to_double(F.col(l_ts), l_dtype) - ts_to_double(F.col(r_ts), r_dtype)
    stale = F.abs(age) > F.lit(float(tol))
    for c in r_vals:
        if c != r_ts:
            df = df.withColumn(c, F.when(stale, F.lit(None)).otherwise(F.col(c)))
    return df.withColumn(r_ts, F.when(stale, F.lit(None)).otherwise(F.col(r_ts)))


def asof_join(
    left,
    right,
    left_prefix: Optional[str] = None,
    right_prefix: str = "right",
    ts_partition_val: Optional[int] = None,
    fraction: float = 0.5,
    skip_nulls: bool = True,
    use_range_join: bool = False,
    tolerance: Optional[float] = None,
    broadcast_right: bool = False,
    direction: str = "backward",
    range_join_bin_seconds: Optional[float] = None,
    allow_exact_matches: bool = True,
):
    from tempo_spark.tsdf import TSDF

    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward/forward/nearest, got {direction!r}"
        )
    if direction != "backward" and (use_range_join or ts_partition_val is not None):
        raise ValueError(
            "forward/nearest as-of joins support only the union-window strategy"
        )

    if left.series_ids != right.series_ids:
        raise ValueError(
            f"as-of join requires matching series ids; "
            f"left={left.series_ids} right={right.series_ids}"
        )
    # ts dtype categories must match, or the union/compare is meaningless
    # (reference: python/tempo/tsdf.py:198-204)
    if _ts_kind_of(left) != _ts_kind_of(right):
        raise ValueError(
            f"as-of join ts dtypes are incompatible: left {_ts_kind_of(left)}, "
            f"right {_ts_kind_of(right)}"
        )
    if range_join_bin_seconds is not None and not use_range_join:
        raise ValueError("range_join_bin_seconds requires use_range_join=True")
    if not skip_nulls and ts_partition_val is not None:
        # same unsupported combination as the reference
        # (reference: python/tempo/tsdf.py:281-285)
        raise ValueError("skip_nulls=False is not supported with ts_partition_val")

    series = list(left.series_ids)
    ldf, l_ts, l_seq, l_vals = _prepare_side(left, left_prefix)
    rdf, r_ts, r_seq, r_vals = _prepare_side(right, right_prefix)
    overlap = set(l_vals) & set(r_vals)
    if overlap:
        raise ValueError(f"prefixes leave colliding columns: {sorted(overlap)}")

    if use_range_join and range_join_bin_seconds is not None:
        # big×big path: the bucketized rewrite is correct at ANY size (the
        # bin becomes the equi key), so the plan-size probe is moot
        joined = _range_join(
            series, ldf, l_ts, rdf, r_ts, r_vals,
            broadcast_right=broadcast_right,
            bin_seconds=range_join_bin_seconds,
            allow_exact_matches=allow_exact_matches,
        )
    elif use_range_join:
        # reference behavior (python/tempo/tsdf.py:783-837): the range-join
        # path is taken only when a side's estimated plan size is under the
        # cutoff (30 MiB there); otherwise the union-window path is safer —
        # a big×big range join can degenerate to a nested-loop explosion.
        from tempo_spark.plans.inspect import plan_size_bytes

        cutoff = 30 * 2**20
        r_size = plan_size_bytes(rdf)
        l_size = plan_size_bytes(ldf)
        known = [s for s in (l_size, r_size) if s is not None]
        # fall back to union-window only when sizes are KNOWN to be big;
        # unknown stats honor the caller's explicit range-join request
        if known and min(known) >= cutoff:
            use_range_join = False
        else:
            joined = _range_join(
                series, ldf, l_ts, rdf, r_ts, r_vals,
                broadcast_right=broadcast_right
                or (r_size is not None and r_size < cutoff),
                allow_exact_matches=allow_exact_matches,
            )
    if not use_range_join:
        joined = _union_window_join(
            series, ldf, l_ts, l_vals, rdf, r_ts, r_seq, r_vals,
            skip_nulls=skip_nulls,
            ts_partition_val=ts_partition_val,
            fraction=fraction,
            direction=direction,
            allow_exact_matches=allow_exact_matches,
        )

    if tolerance is not None:
        # reference post-filter (python/tempo/tsdf.py:919-945), shared with
        # asofJoinMany's per-right tolerances
        joined = _null_outside_tolerance(
            joined, l_ts, joined.schema[l_ts].dataType,
            r_ts, joined.schema[r_ts].dataType, r_vals, tolerance,
        )

    out_cols = series + [c for c in l_vals] + [c for c in r_vals]
    return TSDF(
        joined.select(*out_cols),
        ts_col=l_ts,
        series_ids=series,
        sequence_col=l_seq,
        validate=False,
    )


def _union_window_join(
    series: list[str],
    ldf: DataFrame,
    l_ts: str,
    l_vals: list[str],
    rdf: DataFrame,
    r_ts: str,
    r_seq: Optional[str],
    r_vals: list[str],
    *,
    skip_nulls: bool,
    ts_partition_val: Optional[int],
    fraction: float,
    direction: str = "backward",
    allow_exact_matches: bool = True,
) -> DataFrame:
    # pad each side with the other's value columns as typed nulls, then union
    r_types = dict(rdf.dtypes)
    l_types = dict(ldf.dtypes)
    lpad = ldf.select(
        *series,
        *[F.col(c) for c in l_vals],
        *[F.lit(None).cast(r_types[c]).alias(c) for c in r_vals],
        F.lit(1).alias(_REC_IND),
    )
    rpad = rdf.select(
        *series,
        *[F.lit(None).cast(l_types[c]).alias(c) for c in l_vals],
        *[F.col(c) for c in r_vals],
        F.lit(-1).alias(_REC_IND),
    )
    unioned = lpad.unionByName(rpad)
    combined_ts = F.coalesce(F.col(l_ts), F.col(r_ts))

    part_cols = list(series)
    if ts_partition_val is not None:
        unioned, part_cols = _add_time_partitions(
            unioned, combined_ts, series, ts_partition_val, fraction,
            ts_dtype=unioned.schema[l_ts].dataType,
        )

    # Backward: right rows at an equal timestamp sort BEFORE left rows
    # (rec_ind -1 < 1) so a same-ts quote is visible to the trade — reference
    # semantics (reference: python/tempo/tsdf.py:884-887). Forward mirrors
    # it: rights sort AFTER lefts at ties so the (currentRow, following)
    # frame of a left row still sees a same-ts right row.
    def _window(dirn: str):
        # tie order decides same-timestamp visibility: with exact matches
        # allowed (default, reference semantics) a right row at the left's
        # own timestamp sorts INSIDE the frame; pandas-style
        # allow_exact_matches=False flips the tie order so equal-ts rights
        # fall outside it (strict right.ts < / > left.ts)
        if dirn == "backward":
            r_tie = F.col(_REC_IND).asc() if allow_exact_matches else F.col(_REC_IND).desc()
            order = [combined_ts.asc(), r_tie]
            frame = (Window.unboundedPreceding, Window.currentRow)
        else:
            r_tie = F.col(_REC_IND).desc() if allow_exact_matches else F.col(_REC_IND).asc()
            order = [combined_ts.asc(), r_tie]
            frame = (Window.currentRow, Window.unboundedFollowing)
        if r_seq:
            order.append(F.col(r_seq).asc())
        return Window.partitionBy(*part_cols).orderBy(*order).rowsBetween(*frame)

    def _pick(c: str, dirn: str) -> Column:
        w = _window(dirn)
        agg = F.last if dirn == "backward" else F.first
        if skip_nulls:
            return agg(F.col(c), ignorenulls=True).over(w)
        # struct wrap distinguishes "no right row yet" (null struct) from a
        # genuine null value in the right row
        # (reference: python/tempo/tsdf.py:286-294)
        wrapped = F.when(F.col(_REC_IND) == -1, F.struct(F.col(c).alias("v")))
        return agg(wrapped, ignorenulls=True).over(w).getField("v")

    filled = unioned
    if direction in ("backward", "forward"):
        for c in r_vals:
            filled = filled.withColumn(c, _pick(c, direction))
    else:  # nearest: both candidates, then per-row choose the closer r_ts
        ts_dtype = unioned.schema[l_ts].dataType
        for c in r_vals:
            filled = filled.withColumn(f"__tempo_b_{c}", _pick(c, "backward"))
            filled = filled.withColumn(f"__tempo_f_{c}", _pick(c, "forward"))
        l_d = ts_to_double(combined_ts, ts_dtype)
        b_d = ts_to_double(F.col(f"__tempo_b_{r_ts}"), ts_dtype)
        f_d = ts_to_double(F.col(f"__tempo_f_{r_ts}"), ts_dtype)
        # materialize the choice before overwriting/dropping the r_ts temps
        # it reads (a per-column drop would unresolve later columns)
        filled = filled.withColumn(
            "__tempo_choose_fwd",
            b_d.isNull() | (f_d.isNotNull() & ((l_d - b_d) > (f_d - l_d))),
        )
        for c in r_vals:
            filled = filled.withColumn(
                c,
                F.when(F.col("__tempo_choose_fwd"), F.col(f"__tempo_f_{c}")).otherwise(
                    F.col(f"__tempo_b_{c}")
                ),
            )
        filled = filled.drop(
            "__tempo_choose_fwd",
            *[f"__tempo_{d}_{c}" for c in r_vals for d in ("b", "f")],
        )

    result = filled.where(F.col(_REC_IND) == 1).drop(_REC_IND)
    if ts_partition_val is not None:
        result = result.where(F.col(_IS_ORIGINAL) == 1).drop(_IS_ORIGINAL, _TS_PARTITION)
    return result


def _add_time_partitions(
    unioned: DataFrame,
    combined_ts: Column,
    series: list[str],
    ts_partition_val: int,
    fraction: float,
    ts_dtype=None,
):
    """Salt the series key with time brackets; duplicate the trailing
    ``fraction`` of each bracket into the NEXT bracket (is_original=0) so
    the next bracket's window never starts without lookback context
    (reference: python/tempo/tsdf.py:342-383)."""
    val = float(ts_partition_val)
    dts = ts_to_double(combined_ts, ts_dtype)
    base = F.floor(dts / val) * F.lit(val)
    in_overlap_tail = (dts - base) >= F.lit(val * (1.0 - fraction))
    brackets = F.array(
        base,
        F.when(in_overlap_tail, base + F.lit(val)),
    )
    exploded = (
        unioned.withColumn("__tempo_brackets", brackets)
        .withColumn("__tempo_base", base)
        .withColumn(_TS_PARTITION, F.explode(F.col("__tempo_brackets")))
        .where(F.col(_TS_PARTITION).isNotNull())
        .withColumn(
            _IS_ORIGINAL,
            (F.col(_TS_PARTITION) == F.col("__tempo_base")).cast("int"),
        )
        .drop("__tempo_brackets", "__tempo_base")
    )
    return exploded, series + [_TS_PARTITION]


def _range_join(
    series: list[str],
    ldf: DataFrame,
    l_ts: str,
    rdf: DataFrame,
    r_ts: str,
    r_vals: list[str],
    *,
    broadcast_right: bool,
    bin_seconds: Optional[float] = None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """Equi-join on series ids + range predicate on the right row's validity
    interval ``[r_ts, lead(r_ts))`` (reference: python/tempo/tsdf.py:783-837).
    Left-joins so unmatched left rows survive with null right columns.

    ``bin_seconds`` is the big×big rewrite (SURVEY §4 row 2): on OSS Spark
    a large non-broadcast range join degrades — with no series ids it plans
    a BroadcastNestedLoopJoin outright, and with hot series the sort-merge
    group devolves to |lefts|×|rights| compares within the series. The
    rewrite explodes each right validity interval into the ``bin_seconds``
    time bins it covers and adds the bin to the equi key, so the join
    hash-partitions on (series, bin) and each left row compares only
    against rights valid somewhere in ITS bin. Exactly-once by
    construction: validity intervals partition the timeline, so exactly
    one exploded copy (the one in the left row's bin) can satisfy the
    range predicate. Open-ended last intervals are clamped to the LEFT
    side's per-series max ts (a per-series aggregate, broadcast into the
    right scan) — beyond that no left row exists to match. Pick
    ``bin_seconds`` near the typical right-row spacing: fan-out per right
    row is ~interval_length / bin_seconds."""
    lead_col = "__tempo_r_ts_end"
    w = Window.partitionBy(*series).orderBy(F.col(r_ts))
    r_with_lead = rdf.withColumn(lead_col, F.lead(F.col(r_ts)).over(w))
    if bin_seconds is None:
        if broadcast_right:
            r_with_lead = F.broadcast(r_with_lead)
        cond = F.lit(True)
        for c in series:
            cond = cond & (ldf[c] == r_with_lead[c])
        # strict mode shifts the validity interval from [ts, lead) to
        # (ts, lead]: a left row exactly at a right timestamp matches the
        # PREVIOUS right row instead
        if allow_exact_matches:
            cond = cond & (ldf[l_ts] >= r_with_lead[r_ts])
            cond = cond & (
                r_with_lead[lead_col].isNull() | (ldf[l_ts] < r_with_lead[lead_col])
            )
        else:
            cond = cond & (ldf[l_ts] > r_with_lead[r_ts])
            cond = cond & (
                r_with_lead[lead_col].isNull() | (ldf[l_ts] <= r_with_lead[lead_col])
            )
        joined = ldf.join(r_with_lead, on=cond, how="left")
        # resolve ambiguity: keep left's series columns
        sel = [ldf[c].alias(c) for c in ldf.columns] + [
            r_with_lead[c].alias(c) for c in r_vals
        ]
        return joined.select(*sel)

    width = F.lit(float(bin_seconds))
    l_dtype = ldf.schema[l_ts].dataType
    r_dtype = rdf.schema[r_ts].dataType
    l_max = ldf.groupBy(*series).agg(F.max(l_ts).alias("__tempo_l_max"))
    if series:
        r2 = r_with_lead.join(F.broadcast(l_max), on=series, how="left")
    else:
        r2 = r_with_lead.crossJoin(F.broadcast(l_max))
    start_bin = F.floor(ts_to_double(F.col(r_ts), r_dtype) / width)
    end_ts = F.coalesce(F.col(lead_col), F.col("__tempo_l_max"))
    # a series with no left rows leaves end_ts null for its last interval:
    # emit the start bin only (nothing can match it anyway); greatest()
    # guards rights newer than every left (descending sequence would throw)
    end_bin = F.greatest(
        F.coalesce(F.floor(ts_to_double(end_ts, r_dtype) / width), start_bin),
        start_bin,
    )
    r_binned = r2.withColumn(
        "__tempo_bin", F.explode(F.sequence(start_bin, end_bin))
    ).drop("__tempo_l_max")
    if broadcast_right:
        r_binned = F.broadcast(r_binned)
    l_binned = ldf.withColumn(
        "__tempo_bin_l", F.floor(ts_to_double(F.col(l_ts), l_dtype) / width)
    )
    cond = l_binned["__tempo_bin_l"] == r_binned["__tempo_bin"]
    for c in series:
        cond = cond & (l_binned[c] == r_binned[c])
    if allow_exact_matches:
        cond = cond & (l_binned[l_ts] >= r_binned[r_ts])
        cond = cond & (
            r_binned[lead_col].isNull() | (l_binned[l_ts] < r_binned[lead_col])
        )
    else:
        cond = cond & (l_binned[l_ts] > r_binned[r_ts])
        cond = cond & (
            r_binned[lead_col].isNull() | (l_binned[l_ts] <= r_binned[lead_col])
        )
    joined = l_binned.join(r_binned, on=cond, how="left")
    sel = [l_binned[c].alias(c) for c in ldf.columns] + [
        r_binned[c].alias(c) for c in r_vals
    ]
    return joined.select(*sel)


#: the packed-union many-join wins when the rights are SPARSER than the
#: left (its saving is N-1 fewer full-left shuffles; its cost is one
#: (left + Σrights)-row sort that can spill where the chain's two-side
#: stages fit). Measured break-even band from the 16M-row 4-right probe
#: (--asofmany): rights ≈ left/10 → union wins 14×; rights ≈ left →
#: chain wins ~1.2×. Rule: union iff the AVERAGE right is at most this
#: fraction of the left (by Catalyst's estimated plan bytes — the sort's
#: spill currency — so the probe stays LAZY: EXPLAIN COST is a driver
#: optimizer pass, no job, unlike a count() which would execute the full
#: upstream lineage at plan-build time).
ASOF_MANY_UNION_MAX_AVG_RIGHT_FRACTION = 0.5


def _pick_many_strategy(left, rights: "dict[str, object]") -> str:
    """The ``strategy="auto"`` decision: memoized EXPLAIN-COST size
    estimates (tempo_spark.plans.inspect.plan_size_bytes_cached), union
    iff avg(right bytes) <= FRACTION × left bytes. Frames WITHOUT a
    usable estimate (in-memory relations report Long.Max → None) pick
    union — the operator's native plan; chaining only on evidence that
    the union sort would dominate. No eager action either way.

    Caveat (same as the memoized auto-bin probe): Catalyst post-filter
    size estimates can be off by orders of magnitude, so a stale or
    misestimated size can mispick — a SLOWER plan, never wrong results;
    pass ``strategy=`` explicitly when the shape is known."""
    from tempo_spark.plans.inspect import plan_size_bytes_cached

    left_b = plan_size_bytes_cached(left.df)
    if not left_b:
        return "union"
    right_sizes = [plan_size_bytes_cached(r.df) for r in rights.values()]
    if any(b is None for b in right_sizes):
        return "union"
    avg_right = sum(right_sizes) / len(right_sizes)
    if avg_right <= ASOF_MANY_UNION_MAX_AVG_RIGHT_FRACTION * left_b:
        return "union"
    return "chain"


def asof_join_many(
    left,
    rights: "dict[str, object]",
    skip_nulls: bool = True,
    allow_exact_matches: bool = True,
    tolerances: "Optional[dict[str, float]]" = None,
    strategy: str = "auto",
):
    """N backward as-of joins in ONE shuffle — the multi-source feature
    join ("attach the latest quote AND the latest sentiment AND the latest
    funding rate to every trade"). Chaining ``asofJoin`` N times costs N
    shuffles and N sorts of the (growing) left side; this unions ALL sides
    once, sorts once per series, and computes every right's last-match
    with ``last(col, ignorenulls)`` over the same window — each right's
    columns are null on every other side's rows, so the running last()
    per column naturally tracks that right alone.

    When it pays (measured, SCALE.md): the saving is N-1 fewer full-left
    SHUFFLES — the network-bandwidth term a real cluster prices highest.
    Decision rule from the 16M-row, 4-right probe
    (scripts/scale_probe.py --asofmany): rights at or below ~left/10 —
    the common shape: sparse feature sources vs a dense event stream —
    the many-join wins ~14x (3.8 s vs 54.4 s chained); rights comparable
    in size to the left, the single (N+1)·n-row union sort can spill
    where the chain's two-side stages fit (32.6 s vs 27.7 s chained
    single-node) — on a memory-tight executor, chain huge rights instead,
    or join the few big rights singly and many-join the rest. To keep the sorted
    rows narrow, each side's value columns ride the union packed into ONE
    struct column per side (a null struct costs one fixed-width slot in an
    UnsafeRow; column-padding would cost a slot per column per side), so
    shuffle/sort/spill volume is series + keys + each row's OWN payload.

    ``rights`` maps prefix -> TSDF (all must share the left's series ids
    and ts dtype category). Left columns keep their names; each right's
    non-series columns arrive ``{prefix}_``-renamed. Ties at equal
    timestamps: every right row is visible to a left row at the same ts
    (reference semantics), or strictly earlier only with
    ``allow_exact_matches=False``. ``skip_nulls`` matches ``asofJoin``:
    per-column forward fill by default; ``False`` wraps each right's
    columns in structs so a right row's genuine null overwrites.

    ``tolerances`` maps prefix -> seconds: that right's columns null out
    where the match is older than the band (the same post-filter as the
    single join's ``tolerance``, applied per right).

    Sequence-column tie-breaking within one right side is not supported
    here (sort keys are shared across sides) — use the single
    :func:`asof_join` when a right needs ``sequence_col`` semantics.

    ``strategy``: ``"union"`` — the packed-union single-sort plan above;
    ``"chain"`` — N successive :func:`asof_join` calls (identical results,
    pinned by the chained-equivalence test); ``"auto"`` (default) —
    memoized EXPLAIN-COST size estimates (lazy: an optimizer pass, never
    a job) pick union iff the average right is at most
    :data:`ASOF_MANY_UNION_MAX_AVG_RIGHT_FRACTION` of the left by
    estimated bytes (sparse feature sources → union's N-1 saved
    full-left shuffles dominate; left-sized rights → the (N+1)-side
    union sort spills where the chain's two-side stages fit); frames
    without usable stats pick union.
    """
    from tempo_spark.tsdf import TSDF

    if strategy not in ("auto", "union", "chain"):
        raise ValueError(
            f"strategy must be 'auto', 'union', or 'chain', got {strategy!r}"
        )
    if not rights:
        raise ValueError("rights must be a non-empty {prefix: TSDF} mapping")
    unknown_tol = set(tolerances or {}) - set(rights)
    if unknown_tol:
        raise ValueError(f"tolerances for unknown prefixes: {sorted(unknown_tol)}")

    series = list(left.series_ids)
    for pfx, r in rights.items():
        if list(r.series_ids) != series:
            raise ValueError(
                f"right {pfx!r}: series ids {r.series_ids} != left {series}"
            )
        if _ts_kind_of(r) != _ts_kind_of(left):
            raise ValueError(
                f"right {pfx!r}: ts dtype {_ts_kind_of(r)} != left {_ts_kind_of(left)}"
            )
        if r.sequence_col:
            raise ValueError(
                f"right {pfx!r} has a sequence_col; use asofJoin (single) "
                "for sequence tie-breaking"
            )

    ldf, l_ts, l_seq, l_vals = _prepare_side(left, None)
    sides = []  # (rec_ind, prefix, df, ts_name, value_names)
    taken = set(l_vals)
    for i, (pfx, r) in enumerate(rights.items(), start=1):
        rdf, r_ts, _r_seq, r_vals = _prepare_side(r, pfx)
        clash = taken & set(r_vals)
        if clash:
            raise ValueError(f"prefixes leave colliding columns: {sorted(clash)}")
        taken |= set(r_vals)
        sides.append((i, pfx, rdf, r_ts, r_vals))
    def side_name(i: int) -> str:
        return f"__tempo_side{i}"

    side_names = {side_name(i) for i in range(len(sides) + 1)}
    # staging keys are namespaced like every other internal column; a user
    # column with one of these names would be silently overwritten
    reserved = ({_REC_IND, _CTS, _TIE} | side_names) & (taken | set(series))
    if reserved:
        raise ValueError(f"reserved column names present in input: {sorted(reserved)}")

    # strategy branch AFTER every validation — the API contract (errors,
    # reserved names, colliding prefixes) must not depend on which plan
    # the probe picks
    if strategy == "auto":
        strategy = _pick_many_strategy(left, rights)
    if strategy == "chain":
        out_t = left
        for pfx, r in rights.items():
            out_t = asof_join(
                out_t,
                r,
                right_prefix=pfx,
                skip_nulls=skip_nulls,
                allow_exact_matches=allow_exact_matches,
                tolerance=(tolerances or {}).get(pfx),
            )
        return out_t

    all_value_cols = list(l_vals) + [
        c for _i, _p, _d, _t, vals in sides for c in vals
    ]
    # (index, struct type, own value cols, source df) per side, left = 0
    from pyspark.sql.types import StructType

    side_defs = [(0, StructType([ldf.schema[c] for c in l_vals]), l_vals, ldf)]
    for i, _p, rdf, _ts, vals in sides:
        side_defs.append((i, StructType([rdf.schema[c] for c in vals]), vals, rdf))

    def pack(df, ind: int):
        cols = []
        for j, stype, own, _src in side_defs:
            if j == ind:
                cols.append(F.struct(*[F.col(c) for c in own]).alias(side_name(j)))
            else:
                cols.append(F.lit(None).cast(stype).alias(side_name(j)))
        return df.select(*series, *cols, F.lit(ind).alias(_REC_IND))

    unioned = pack(ldf, 0)
    for i, _p, rdf, _ts, vals in sides:
        unioned = unioned.unionByName(pack(rdf, i))

    # MATERIALIZE the sort keys before any fill: the fills overwrite each
    # right's ts column, and a coalesce-over-columns sort key re-resolved
    # after that would order side N's rows by side N-1's FILLED timestamps
    # (silently wrong matches). Named key columns pin the order; computing
    # every fill in ONE select shares a single Sort + Window node.
    combined_ts = F.coalesce(
        F.col(side_name(0)).getField(l_ts),
        *[F.col(side_name(i)).getField(t) for i, _p, _d, t, _v in sides],
    )
    # rights sort BEFORE the left at equal ts when exact matches are
    # allowed (same-ts rows visible), AFTER it when strict
    is_left = (F.col(_REC_IND) == 0).cast("int")
    keyed = unioned.withColumn(_CTS, combined_ts).withColumn(_TIE, is_left)

    # the fill expressions are PARSED SQL, not Column-API compositions:
    # this operator's target shape is many rights × several columns each,
    # and N windowed Column objects cost ~6 py4j round-trips apiece at
    # plan-build time (the simhash/minhash lesson — audit any operator
    # building >30 Columns in a loop); one parser call per column builds a
    # bit-identical plan. Fields come out of the side structs: a null
    # struct's field is null, so last(..., ignorenulls) sees exactly the
    # rows of that side (plus that side's genuine nulls, which
    # skip_nulls=True is defined to skip).
    over = over_sql(
        [ident(s) for s in series],
        [
            f"{ident(_CTS)} ASC",
            f"{ident(_TIE)} " + ("ASC" if allow_exact_matches else "DESC"),
        ],
        RUNNING,
    )
    sel_for: dict[str, str] = {}
    for c in l_vals:
        sel_for[c] = f"{ident(side_name(0))}.{ident(c)}"
    for i, _p, _rdf, _ts, vals in sides:
        sref = ident(side_name(i))
        for c in vals:
            if skip_nulls:
                sel_for[c] = f"last({sref}.{ident(c)}, true) {over}"
            else:
                sel_for[c] = (
                    f"(last(CASE WHEN {ident(_REC_IND)} = {i} "
                    f"THEN struct({sref}.{ident(c)} AS v) END, true) {over}).v"
                )
    filled = keyed.select(
        *series,
        *[F.expr(sel_for[c]).alias(c) for c in all_value_cols],
        _REC_IND,
    )
    out = filled.where(F.col(_REC_IND) == 0).drop(_REC_IND)
    if tolerances:
        l_dtype = ldf.schema[l_ts].dataType
        for i, pfx, rdf, r_ts, vals in sides:
            tol = tolerances.get(pfx)
            if tol is not None:
                out = _null_outside_tolerance(
                    out, l_ts, l_dtype, r_ts, rdf.schema[r_ts].dataType, vals, tol
                )
    return TSDF(
        out.select(*series, *all_value_cols),
        ts_col=l_ts,
        series_ids=series,
        sequence_col=l_seq,
        validate=False,
    )
