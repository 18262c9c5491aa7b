"""As-of join — the flagship operator.

For each left (trade) row, attach the most recent right (quote) row with
``right.ts <= left.ts`` within the same series. Capability parity with the
reference's ``asofJoin`` (reference: python/tempo/tsdf.py:752-947),
re-expressed Spark-first. One kernel plus a range path:

1. **the union kernel** (:func:`_union_kernel`, default; also
   ``asofJoinMany``): each side's value columns are packed into ONE struct
   column per side, the sides are ``union``-ed, and every right column is
   filled with a running ``last(col, true)`` over
   ``PARTITION BY series ORDER BY (ts, side)``. Exactly ONE shuffle (on
   series_ids) however many rights and right columns are carried — the
   scale-safe default for large×large joins where a range join would
   explode. Built from parsed SQL text: one parse per output column
   instead of one py4j round trip per Column node.
2. **range join** (``use_range_join=True``): compute each right row's
   validity interval ``[ts, lead(ts))`` and equi-join on series ids with a
   ``BETWEEN`` range predicate. With a small right side Catalyst broadcasts
   it, eliminating the shuffle of the (big) left side entirely — the right
   choice when quotes ≪ trades. Taken only when Catalyst's size estimate
   says a side is under :data:`SQL_JOIN_OPT_BROADCAST_BYTES` (or no size
   is known). ``range_join_bin_seconds`` switches it to the **binned**
   big×big rewrite (time bins join the equi key), taken at any size.

The kernel's **time-partitioned skew path** (``ts_partition_val``) salts
the series key with a time bracket ``floor(ts / val) * val`` and
duplicates the trailing ``fraction`` of each bracket into the next so every
bracket's window has lookback context. Handles a single monster series that
would otherwise pin one task (AQE skew handling does not cover window
functions).

Optional ``tolerance`` (seconds) nulls out right columns older than the
band, matching the reference's post-filter (reference:
python/tempo/tsdf.py:919-945). With ``direction="forward"``/``"nearest"``
the band applies to ``abs(left_ts - right_ts)``.

``direction`` extends beyond the reference (backward-only there) with the
pandas ``merge_asof`` directions: ``"forward"`` attaches the earliest right
row with ``right.ts >= left.ts``; ``"nearest"`` picks whichever of the
backward/forward candidates is closer in time (ties -> backward). Both are
kernel-only. Forward reads the same running ``last(col, true)`` over the
DESCENDING time order — never a ``[currentRow, unboundedFollowing]``
frame, which Spark re-aggregates for every row (O(n²) per series).
``nearest`` computes both orders: one shuffle, two in-partition sorts.
"""

from __future__ import annotations

import math
from typing import NamedTuple, Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import Window

from tempo_spark.functions.sql import RUNNING, double_lit, ident, over_sql
from tempo_spark.functions.timestamps import ts_double_sql, ts_to_double

#: sql_join_opt size cutoff — a side whose Catalyst-estimated plan size
#: is under this takes the broadcast/range path (reference:
#: python/tempo/tsdf.py:793-795 uses the same 30 MiB figure)
SQL_JOIN_OPT_BROADCAST_BYTES = 30 * 1024 * 1024

# the kernel's staging columns
_REC_IND = "__tempo_rec_ind"  # 0 for the left, i for the i-th right
_CTS = "__tempo_cts"  # the row's own timestamp
_SEQ = "__tempo_seq"  # the right's sequence_col (single right only)
_TS_PARTITION = "__tempo_ts_partition"
_BRACKET = "__tempo_bracket"  # 0 = the row's own time bracket, 1 = a copy


def _side_col(i: int) -> str:
    return f"__tempo_side{i}"


class _Side(NamedTuple):
    """One join input: the caller's TSDF and the output name of each of
    its non-series columns (``{prefix}_``-renamed when a prefix is set)."""

    tsdf: object
    names: dict

    @property
    def ts(self) -> str:
        return self.names[self.tsdf.ts_col]

    @property
    def seq(self) -> Optional[str]:
        return self.names.get(self.tsdf.sequence_col)

    @property
    def values(self) -> list:
        return list(self.names.values())


def _prepare_side(tsdf, prefix: Optional[str]) -> _Side:
    return _Side(tsdf, {
        c: f"{prefix}_{c}" if prefix else c
        for c in tsdf.df.columns
        if c not in tsdf.series_ids
    })


def _check_names(series: list, sides: Sequence[_Side]) -> None:
    """Prefixed names must not collide, nor shadow a staging column (a
    user column with one of those names would be silently overwritten)."""
    taken = set(series)
    for side in sides:
        clash = taken & set(side.values)
        if clash:
            raise ValueError(f"prefixes leave colliding columns: {sorted(clash)}")
        taken |= set(side.values)
    staging = {_REC_IND, _CTS, _SEQ, _TS_PARTITION, _BRACKET}
    reserved = (staging | {_side_col(i) for i in range(len(sides))}) & taken
    if reserved:
        raise ValueError(f"reserved column names present in input: {sorted(reserved)}")


def _tolerance(tol: Optional[float]) -> Optional[float]:
    """A tolerance in seconds; ``+inf`` means no band (None). NaN and
    ``-inf`` have no meaning as a band and are rejected."""
    if tol is None or tol == float("inf"):
        return None
    if not math.isfinite(tol):
        raise ValueError(f"tolerance must be a finite number or +inf, got {tol!r}")
    return tol


def _ts_kind_of(tsdf) -> str:
    """Timestamp dtype category for join compatibility checks: every
    numeric type is one category (epoch numbers compare fine), otherwise
    the exact type name."""
    from pyspark.sql.types import NumericType

    dt = tsdf.df.schema[tsdf.ts_col].dataType
    return "numeric" if isinstance(dt, NumericType) else dt.typeName()


def _output_sql(
    series: list,
    left: _Side,
    rights: Sequence[_Side],
    tolerances: Sequence[Optional[float]],
    ts_dtype,
    pick=ident,
) -> list:
    """The output projection: series, left columns, then each right's
    columns as ``pick(name)`` — nulled where the match is more than that
    right's tolerance (seconds) away from the left row, |left_ts -
    right_ts| > tol (backward matches are never in the future, so abs()
    preserves backward semantics while covering forward/nearest). This is
    the reference's post-filter (python/tempo/tsdf.py:919-945)."""
    out = [ident(c) for c in series + left.values]
    l_d = ts_double_sql(ident(left.ts), ts_dtype)
    for side, tol in zip(rights, tolerances):
        stale = None
        if tol is not None:
            r_d = ts_double_sql(pick(side.ts), ts_dtype)
            stale = f"abs({l_d} - {r_d}) > {double_lit(tol)}"
        for c in side.values:
            v = pick(c)
            if stale is not None:
                v = f"CASE WHEN {stale} THEN NULL ELSE {v} END"
            out.append(f"{v} AS {ident(c)}")
    return out


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
    tolerance = _tolerance(tolerance)
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
    lside = _prepare_side(left, left_prefix)
    rside = _prepare_side(right, right_prefix)
    _check_names(series, [lside, rside])
    ts_dtype = left.df.schema[left.ts_col].dataType

    if use_range_join and range_join_bin_seconds is None:
        # reference behavior (python/tempo/tsdf.py:783-837): the range join
        # only when a side's estimated plan size is under the cutoff, else
        # the union kernel — a big×big range join can degenerate to a
        # nested-loop explosion. Unknown sizes (in-memory relations report
        # Long.Max) keep the caller's explicit request. The estimate is
        # memoized by semanticHash: a stale entry picks a slower plan,
        # never a wrong answer. The binned rewrite skips the probe: it is
        # correct at any size.
        from tempo_spark.plans.inspect import plan_size_bytes_cached

        cutoff = SQL_JOIN_OPT_BROADCAST_BYTES
        l_size = plan_size_bytes_cached(left.df)
        r_size = plan_size_bytes_cached(right.df)
        known = [s for s in (l_size, r_size) if s is not None]
        use_range_join = not known or min(known) < cutoff
        broadcast_right = broadcast_right or (r_size is not None and r_size < cutoff)
    if use_range_join:
        joined = _range_join(
            series,
            left.df.withColumnsRenamed(lside.names),
            lside.ts,
            right.df.withColumnsRenamed(rside.names),
            rside.ts,
            rside.values,
            broadcast_right=broadcast_right,
            bin_seconds=range_join_bin_seconds,
            allow_exact_matches=allow_exact_matches,
        )
        out = joined.selectExpr(
            *_output_sql(series, lside, [rside], [tolerance], ts_dtype)
        )
    else:
        out = _union_kernel(
            series, lside, [rside], [tolerance], ts_dtype,
            skip_nulls=skip_nulls,
            allow_exact_matches=allow_exact_matches,
            direction=direction,
            ts_partition_val=ts_partition_val,
            fraction=fraction,
        )
    return TSDF(
        out,
        ts_col=lside.ts,
        series_ids=series,
        sequence_col=lside.seq,
        validate=False,
    )


def _union_kernel(
    series: list,
    left: _Side,
    rights: Sequence[_Side],
    tolerances: Sequence[Optional[float]],
    ts_dtype,
    *,
    skip_nulls: bool,
    allow_exact_matches: bool,
    direction: str = "backward",
    ts_partition_val: Optional[float] = None,
    fraction: float = 0.5,
) -> DataFrame:
    """The as-of union kernel: ``series + left + rights`` columns, one row
    per left row.

    Packing: each side's value columns ride the union in ONE struct column
    per side, so no side pads per column: the ``union`` widens the other
    sides' NULL struct columns to the struct type. (Catalyst's nested
    column pruning may still flatten the structs into padded columns
    below the union; it does on the ticks_asof shape.) Every side carries
    its own timestamp as the sort key ``_CTS``.

    Fills: a null struct's field is null, so ``last(side_i.c, true)`` over
    the running frame sees exactly the rows of side i (plus that side's
    genuine nulls, which ``skip_nulls=True`` is defined to skip);
    ``skip_nulls=False`` wraps the value in a struct so a genuine null
    overwrites (reference: python/tempo/tsdf.py:286-294). Backward runs
    over ascending time, forward over DESCENDING time — the same growing
    frame, never a per-row rescan. At equal timestamps the rights sort
    before the left (rec_ind DESC) so a same-ts right row is visible
    (reference: python/tempo/tsdf.py:884-887), after it when
    ``allow_exact_matches=False``. A right's ``sequence_col`` breaks
    equal-ts ties: the highest wins backward, the lowest forward."""
    ts_part = ts_partition_val is not None
    seq = next((r.seq for r in rights if r.seq), None)
    sides = [left, *rights]

    def pack(i: int, side: _Side) -> DataFrame:
        cols = [ident(c) for c in series]
        for j in range(len(sides)):
            if j == i:
                fields = ", ".join(
                    f"{ident(c)} AS {ident(n)}" for c, n in side.names.items()
                )
                cols.append(f"struct({fields}) AS {ident(_side_col(j))}")
            else:
                cols.append(f"NULL AS {ident(_side_col(j))}")
        t = side.tsdf
        cols += [f"{i} AS {ident(_REC_IND)}", f"{ident(t.ts_col)} AS {ident(_CTS)}"]
        if seq:
            # only the right's seq: a left seq would widen against it in the
            # union (timestamp vs bigint fails, string vs bigint sorts as text)
            src = ident(t.sequence_col) if i > 0 and t.sequence_col else "NULL"
            cols.append(f"{src} AS {ident(_SEQ)}")
        return t.df.selectExpr(*cols)

    unioned = pack(0, left)
    for i, side in enumerate(rights, start=1):
        unioned = unioned.union(pack(i, side))

    partition = [ident(c) for c in series]
    if ts_part:
        # salt the series key with time brackets; the trailing `fraction`
        # of each bracket is copied into the NEXT bracket (_BRACKET = 1) so
        # its window never starts without lookback context (reference:
        # python/tempo/tsdf.py:342-383)
        d = ts_double_sql(ident(_CTS), ts_dtype)
        val = double_lit(float(ts_partition_val))
        base = f"floor({d} / {val}) * {val}"
        tail = double_lit(float(ts_partition_val) * (1.0 - fraction))
        unioned = unioned.selectExpr(
            "*",
            f"posexplode(array({base}, CASE WHEN {d} - {base} >= {tail} "
            f"THEN {base} + {val} END)) AS ({ident(_BRACKET)}, {ident(_TS_PARTITION)})",
        ).where(f"{ident(_TS_PARTITION)} IS NOT NULL")
        partition.append(ident(_TS_PARTITION))

    tie = "DESC" if allow_exact_matches else "ASC"

    def over(dirn: str) -> str:
        time_order = "ASC" if dirn == "backward" else "DESC"
        order = [f"{ident(_CTS)} {time_order}", f"{ident(_REC_IND)} {tie}"]
        if seq:
            order.append(f"{ident(_SEQ)} {time_order}")
        return over_sql(partition, order, RUNNING)

    def fill(i: int, c: str, dirn: str) -> str:
        field = f"{ident(_side_col(i))}.{ident(c)}"
        if skip_nulls:
            return f"last({field}, true) {over(dirn)}"
        return (
            f"(last(CASE WHEN {ident(_REC_IND)} = {i} "
            f"THEN struct({field} AS v) END, true) {over(dirn)}).v"
        )

    filled = [ident(c) for c in series]
    filled += [f"{ident(_side_col(0))}.{ident(c)} AS {ident(c)}" for c in left.values]
    for i, side in enumerate(rights, start=1):
        for c in side.values:
            if direction == "nearest":
                v = (
                    f"named_struct('b', {fill(i, c, 'backward')}, "
                    f"'f', {fill(i, c, 'forward')})"
                )
            else:
                v = fill(i, c, direction)
            filled.append(f"{v} AS {ident(c)}")
    keep = f"{ident(_REC_IND)} = 0"
    if ts_part:
        filled.append(ident(_BRACKET))
        keep += f" AND {ident(_BRACKET)} = 0"
    matched = unioned.selectExpr(*filled, ident(_REC_IND)).where(keep)

    pick = ident
    if direction == "nearest":
        # per right, the forward candidate wins only when strictly closer
        # (ties -> backward); each candidate's own ts decides
        l_d = ts_double_sql(ident(left.ts), ts_dtype)
        fwd_of = {}
        for side in rights:
            b = ts_double_sql(f"{ident(side.ts)}.b", ts_dtype)
            f = ts_double_sql(f"{ident(side.ts)}.f", ts_dtype)
            fwd = f"{b} IS NULL OR ({f} IS NOT NULL AND {l_d} - {b} > {f} - {l_d})"
            fwd_of.update((c, fwd) for c in side.values)

        def pick(c: str) -> str:
            return f"(CASE WHEN {fwd_of[c]} THEN {ident(c)}.f ELSE {ident(c)}.b END)"

    return matched.selectExpr(
        *_output_sql(series, left, rights, tolerances, ts_dtype, pick)
    )


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
    shuffles and N sorts of the (growing) left side; this runs the union
    kernel (:func:`_union_kernel`) over ALL sides at once: one union, one
    sort per series, every right's last-match over the same window.

    When it pays (measured, SCALE.md): the saving is N-1 fewer full-left
    SHUFFLES — the network-bandwidth term a real cluster prices highest.
    Decision rule from the 16M-row, 4-right probe
    (scripts/scale_probe.py --asofmany): rights at or below ~left/10 —
    the common shape: sparse feature sources vs a dense event stream —
    the many-join wins ~14x (3.8 s vs 54.4 s chained); rights comparable
    in size to the left, the single (N+1)·n-row union sort can spill
    where the chain's two-side stages fit (32.6 s vs 27.7 s chained
    single-node) — on a memory-tight executor, chain huge rights instead,
    or join the few big rights singly and many-join the rest.

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

    ``strategy``: ``"union"`` — the single-sort kernel plan above;
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
    tolerances = tolerances or {}
    unknown_tol = set(tolerances) - set(rights)
    if unknown_tol:
        raise ValueError(f"tolerances for unknown prefixes: {sorted(unknown_tol)}")
    tolerances = {pfx: _tolerance(t) for pfx, t in tolerances.items()}

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

    lside = _prepare_side(left, None)
    rsides = [_prepare_side(r, pfx) for pfx, r in rights.items()]
    _check_names(series, [lside, *rsides])

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
                tolerance=tolerances.get(pfx),
            )
        return out_t

    out = _union_kernel(
        series, lside, rsides, [tolerances.get(pfx) for pfx in rights],
        left.df.schema[left.ts_col].dataType,
        skip_nulls=skip_nulls,
        allow_exact_matches=allow_exact_matches,
    )
    return TSDF(
        out,
        ts_col=lside.ts,
        series_ids=series,
        sequence_col=lside.seq,
        validate=False,
    )
