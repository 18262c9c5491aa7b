"""SAX — Symbolic Aggregate approXimation (Lin, Keogh et al. 2003).

The classic time-series-mining representation: z-normalize a series,
average it into ``n_segments`` equal-COUNT segments (PAA — piecewise
aggregate approximation), and map each segment mean to a letter by the
standard-normal equiprobable breakpoints. The symbol strings feed motif
discovery, novelty detection, and similarity search at a fraction of the
raw-series cost — and the MINDIST lower bound makes SAX-space pruning
admissible for exact search.

Spark shape: ONE shuffle on series_ids. Per series: row_number → segment
id (``(rn−1)·S div n`` — equal-count segments, remainder spread over the
leading segments exactly like numpy array_split), exact decimal segment
sums, one full-frame window for the series mean/std (the Bollinger
sufficient-sums idiom), then fixed IEEE z-normalization and a constant
CASE over the breakpoint literals. Everything replays cross-engine: the
breakpoints are hard literals (the published Gaussian quantile table, the
same numbers every SAX implementation embeds), and the z-score is a fixed
expression over exact sums.

Reference scope note: databrickslabs/tempo has no symbolic representation
— this is beyond-reference breadth for the mining/retrieval pipelines
this engine serves.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from tempo_spark.functions.sql import grid6_sql, ident


# Equiprobable standard-normal breakpoints for alphabet sizes 2..10 —
# the published SAX table (Φ⁻¹(i/a)); identical literals in the oracle.
SAX_BREAKPOINTS = {
    2: [0.0],
    3: [-0.4307272992954576, 0.4307272992954576],
    4: [-0.6744897501960817, 0.0, 0.6744897501960817],
    5: [-0.8416212335729142, -0.2533471031357997, 0.2533471031357997,
        0.8416212335729142],
    6: [-0.9674215661017014, -0.4307272992954576, 0.0, 0.4307272992954576,
        0.9674215661017014],
    7: [-1.0675705238942672, -0.5659488219378828, -0.1800123695064978,
        0.1800123695064978, 0.5659488219378828, 1.0675705238942672],
    8: [-1.1503493803760079, -0.6744897501960817, -0.31863936396437514,
        0.0, 0.31863936396437514, 0.6744897501960817, 1.1503493803760079],
    9: [-1.2206403488186423, -0.7647096737863868, -0.4307272992954576,
        -0.13971029614542816, 0.13971029614542816, 0.4307272992954576,
        0.7647096737863868, 1.2206403488186423],
    10: [-1.2815515655446004, -0.8416212335729142, -0.5244005127080407,
         -0.2533471031357997, 0.0, 0.2533471031357997, 0.5244005127080407,
         0.8416212335729142, 1.2815515655446004],
}


def sax_transform(
    tsdf, value_col: str, n_segments: int, alphabet: int = 4,
    znormalize: bool = True,
) -> DataFrame:
    """(series…, segment, n_in_segment, paa, symbol) — one row per PAA
    segment per series, ``symbol`` the 0-based alphabet index.

    - segments are equal-COUNT over each series' NON-NULL quantized
      values in (ts [, sequence]) order; series shorter than
      ``n_segments`` emit one segment per available row;
    - ``paa`` = exact-decimal segment mean of the grid-quantized values
      (one IEEE division per segment);
    - ``znormalize=True`` (the SAX convention) z-scores the paa against
      the SERIES mean/std (population ddof=0, the canonical SAX form)
      before the breakpoint lookup; a zero-variance series maps every
      segment to the middle symbol (z treated as 0 — the standard
      degenerate-case choice);
    - ``symbol`` = count of breakpoints ≤ z (ties go UP — the numpy
      ``digitize(right=False)`` convention the published implementations
      use; an exact 0.0 on an even alphabet's middle breakpoint maps to
      the upper symbol).
    """
    if n_segments < 1:
        raise ValueError(f"n_segments must be >= 1, got {n_segments}")
    if alphabet not in SAX_BREAKPOINTS:
        raise ValueError(
            f"alphabet must be in {sorted(SAX_BREAKPOINTS)}, got {alphabet}"
        )
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    if any(c.startswith("__sx_") for c in tsdf.df.columns):
        raise ValueError("reserved staging columns __sx_* present in input")
    series = [F.col(c) for c in tsdf.series_ids]
    yq = F.expr(grid6_sql(ident(value_col)))  # one-parse grid (r13)
    base = tsdf.df.where(yq.isNotNull()).select(
        *tsdf.series_ids, *(
            [tsdf.ts_col] + ([tsdf.sequence_col] if tsdf.sequence_col else [])
        ), yq.alias("__sx_y"),
    )
    # content-hash tiebreak: duplicate timestamps must order the same
    # way every run or segment membership/PAA become nondeterministic
    # (the r10 lagged-corr / r11 changepoints class)
    base = base.withColumn(
        "__sx_tb", F.xxhash64(F.struct(*[F.col(c) for c in base.columns]))
    )
    order = [F.col(tsdf.ts_col)]
    if tsdf.sequence_col:
        order.append(F.col(tsdf.sequence_col))
    order.append(F.col("__sx_tb"))
    w = Window.partitionBy(*series).orderBy(*order)
    ydec = F.col("__sx_y").cast("decimal(18,6)")
    staged = base.withColumn("__sx_rn", F.row_number().over(w))
    # rn is 32-bit: the product must go through bigint or ANSI aborts
    # past 2^31/n_segments rows; __sx_n comes below from the segment
    # sums (no O(rows) full-frame window pass)
    cnt_w = Window.partitionBy(*series)
    staged = staged.withColumn(
        "__sx_n", F.count(F.lit(1)).over(
            cnt_w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
    )
    seg = F.expr(
        f"(cast(__sx_rn as bigint) - 1) * {int(n_segments)} div __sx_n"
    )
    per_seg = (
        staged.withColumn("__sx_seg", seg)
        .groupBy(*tsdf.series_ids, "__sx_seg")
        .agg(
            F.count(F.lit(1)).alias("n_in_segment"),
            F.sum(ydec).alias("__sx_ssum"),
            F.sum(ydec * ydec).alias("__sx_sq"),
        )
    )
    # series totals from the <= n_segments per-series segment rows (the
    # dsir_logratio idiom): one tiny window instead of carrying three
    # O(rows) full-frame aggregates through the shuffle
    wser = Window.partitionBy(*series).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per_seg = (
        per_seg.withColumn(
            "__sx_n", F.sum("n_in_segment").over(wser)
        )
        .withColumn("__sx_s", F.sum("__sx_ssum").over(wser).cast("double"))
        .withColumn("__sx_q", F.sum("__sx_sq").over(wser).cast("double"))
    )
    paa = F.col("__sx_ssum").cast("double") / F.col("n_in_segment").cast(
        "double"
    )
    per_seg = per_seg.withColumn("__sx_paa", paa)
    if znormalize:
        n = F.col("__sx_n").cast("double")
        mean = F.col("__sx_s") / n
        # population variance from exact sums: (n·q − s²)/n², clamped
        var = (n * F.col("__sx_q") - F.col("__sx_s") * F.col("__sx_s")) / (
            n * n
        )
        sd = F.sqrt(F.greatest(var, F.lit(0.0)))
        z = F.when(sd > 0, (F.col("__sx_paa") - mean) / sd).otherwise(
            F.lit(0.0)
        )
    else:
        z = F.col("__sx_paa")
    bps = SAX_BREAKPOINTS[alphabet]
    sym = F.lit(0)
    for bp in bps:
        sym = sym + F.when(z >= F.lit(bp), F.lit(1)).otherwise(F.lit(0))
    return per_seg.select(
        *tsdf.series_ids,
        F.col("__sx_seg").cast("int").alias("segment"),
        "n_in_segment",
        F.col("__sx_paa").alias("paa"),
        sym.cast("int").alias("symbol"),
    )


def sax_strings(
    tsdf, value_col: str, n_segments: int, alphabet: int = 4,
    znormalize: bool = True, out: str = "sax",
) -> DataFrame:
    """(series…, ``out``) — one row per series, the SAX word as a string
    of letters 'a'+symbol in segment order (the motif-mining key)."""
    segs = sax_transform(tsdf, value_col, n_segments, alphabet, znormalize)
    letter = F.char(F.col("symbol") + F.lit(97))
    return (
        segs.withColumn("__sx_l", letter)
        .groupBy(*tsdf.series_ids)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("segment"), F.col("__sx_l"))
                        )
                    ),
                    lambda s: s["__sx_l"],
                ),
                "",
            ).alias(out)
        )
    )


def _mindist_table_int(alphabet: int, scale: int = 10**12) -> list:
    """Flattened a×a integer-quantized squared-cell-distance table:
    entry[r·a + c] = round(dist(r, c)² · scale) with the paper's cell
    distance (0 when |r−c| ≤ 1, else β_{max−1} − β_{min}). Integer
    entries make the per-pair sum ORDER-INDEPENDENT and exact — the
    engines then agree bit-for-bit on the single sqrt tail."""
    bps = SAX_BREAKPOINTS[alphabet]
    out = []
    for r in range(alphabet):
        for c in range(alphabet):
            if abs(r - c) <= 1:
                out.append(0)
            else:
                d = bps[max(r, c) - 1] - bps[min(r, c)]
                out.append(round(d * d * scale))
    return out


def sax_mindist_topk(
    words: DataFrame,
    query_words: DataFrame,
    n_segments: int,
    alphabet: int = 4,
    k: int = 5,
    n_raw: int = None,
    id_col: str = None,
    query_id_col: str = None,
    word_col: str = "sax",
) -> DataFrame:
    """(query id, id, mindist, rank) — top-k corpus series per query by
    the SAX MINDIST lower bound (Lin/Keogh): candidates for exact
    refinement, never false dismissals at the PAA level.

    ``MINDIST = sqrt(n/w · Σᵢ dist(q̂ᵢ, ĉᵢ)²)`` over the w letters;
    ``n_raw`` is the nominal raw-series length behind the words (the
    paper's scale factor — defaults to ``n_segments``, i.e. scale 1,
    appropriate when series lengths vary). The squared cell distances
    are integer-quantized literals (1e12 grid), so the pair sum is an
    exact order-independent integer and the whole measure is ONE IEEE
    multiply + divide + sqrt — engine-replayable.

    Shape: broadcast the (small) query side, one pass over the corpus
    words; ties rank by id. ``id_col``/``query_id_col`` default to the
    first non-word column of each frame."""
    if alphabet not in SAX_BREAKPOINTS:
        raise ValueError(
            f"alphabet must be in {sorted(SAX_BREAKPOINTS)}, got {alphabet}"
        )
    if n_segments < 1:
        raise ValueError(f"n_segments must be >= 1, got {n_segments}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_raw is None:
        n_raw = n_segments
    if id_col is None:
        rest = [c for c in words.columns if c != word_col]
        if not rest:
            raise ValueError(
                f"words has no id column besides {word_col!r} — pass id_col"
            )
        id_col = rest[0]
    if query_id_col is None:
        rest = [c for c in query_words.columns if c != word_col]
        if not rest:
            raise ValueError(
                f"query_words has no id column besides {word_col!r} — "
                "pass query_id_col"
            )
        query_id_col = rest[0]
    for c, fr, nm in ((id_col, words, "words"),
                      (word_col, words, "words"),
                      (query_id_col, query_words, "query_words"),
                      (word_col, query_words, "query_words")):
        if c not in fr.columns:
            raise ValueError(f"column {c!r} not in {nm}")
    # identical id/query-id names would emit two same-named output
    # columns (AMBIGUOUS_REFERENCE downstream) — disambiguate the query
    out_qcol = (
        f"query_{query_id_col}" if query_id_col == id_col else query_id_col
    )
    table = _mindist_table_int(alphabet)
    arr = "array(" + ", ".join(f"{x}L" for x in table) + ")"
    a = int(alphabet)
    w = int(n_segments)
    scale = float(n_raw) / float(n_segments)
    # MINDIST is defined between equal-length words: short words (a
    # series with fewer non-null rows than n_segments) and NULL words
    # are EXCLUDED from both sides — indexing past a short word would
    # ANSI-abort on the distance table (ascii('') = 0), and a NULL word
    # would rank first as a NULL distance (the r9 null-query-LUT class)
    full = F.length(F.col(word_col)) == w
    c_side = words.where(full).select(
        F.col(id_col).alias("__sm_id"), F.col(word_col).alias("__sm_cw")
    )
    q_side = query_words.where(full).select(
        F.col(query_id_col).alias("__sm_qid"),
        F.col(word_col).alias("__sm_qw"),
    )
    pairs = c_side.crossJoin(F.broadcast(q_side))
    # exact integer letter sum (order-free). w is a plan-time constant:
    # an unrolled element_at chain stays in codegen (the ADC lesson —
    # interpreted HOF folds measured ~2x slower); fold only past the
    # literal budget
    term = (
        lambda i: f"element_at({arr}, "
        f"(ascii(substring(__sm_qw, {i}, 1)) - 97) * {a} "
        f"+ (ascii(substring(__sm_cw, {i}, 1)) - 97) + 1)"
    )
    if w <= 128:
        ssum = F.expr(" + ".join(term(i) for i in range(1, w + 1)))
    else:
        ssum = F.expr(
            "aggregate(transform(sequence(1, "
            f"{w}), i -> element_at({arr}, "
            f"(ascii(substring(__sm_qw, i, 1)) - 97) * {a} "
            "+ (ascii(substring(__sm_cw, i, 1)) - 97) + 1)), "
            "cast(0 as bigint), (acc, x) -> acc + x)"
        )
    md = F.sqrt(
        F.lit(scale) * (F.col("__sm_s").cast("double") / F.lit(1e12))
    )
    ranked = (
        pairs.withColumn("__sm_s", ssum)
        .withColumn("__sm_d", md)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("__sm_qid").orderBy(
                    F.col("__sm_d").asc_nulls_last(),
                    F.col("__sm_id").asc_nulls_last(),
                )
            ),
        )
        .where(F.col("rank") <= k)
    )
    return ranked.select(
        F.col("__sm_qid").alias(out_qcol),
        F.col("__sm_id").alias(id_col),
        F.col("__sm_d").alias("mindist"),
        "rank",
    )
