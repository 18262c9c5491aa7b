"""Deterministic sampling / splitting operators for corpus-scale pipelines.

A 100 TB training corpus is never split with ``rand()``: re-runs must land
every document in the SAME split (reproducibility, no train/test leakage
across pipeline versions), and adding new documents must not move old ones.
Both operators here are pure functions of a key hash:

- ``with_split``: per-row expression, zero shuffle — scales with input
  splits.
- ``sample_per_key``: one shuffle on the key columns (the same invariant as
  every per-series operator in this repo), then a per-key window over the
  hash ordering. Deterministic "reservoir" semantics without a stateful
  reservoir: the n kept rows per key are those with the n smallest hashes,
  so the sample is stable under row reordering and incremental appends only
  displace rows when a genuinely smaller hash arrives.

Both default to ``xxhash64`` (JVM-side, no materialized strings in the
shuffle); ``hash_family="md5_32"`` (tempo_spark.pipeline.dedup.md5_32)
yields bit-identical assignments in any engine with md5() — that variant is
what the DuckDB correctness oracle replays.
"""

from __future__ import annotations

from typing import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from tempo_spark.functions.sql import ident, str_lit
from tempo_spark.pipeline.dedup import md5_32

#: modulus for split bucketing: weights resolve to integer bucket ranges so
#: the assignment is exact rational arithmetic, not float-boundary-dependent
SPLIT_BUCKETS = 1_000_000


def _group_lit_sql(k) -> str:
    """SQL literal for a mixture-group key (r12 one-parse plan build).
    Returns None for types without a safe literal rendering — the caller
    falls back to the Column chain for those."""
    if isinstance(k, bool):
        return "TRUE" if k else "FALSE"
    if isinstance(k, str):
        return str_lit(k)
    if isinstance(k, int):
        return str(k) + ("L" if not (-(2**31) <= k < 2**31) else "")
    if isinstance(k, float):
        v = float(k)
        if v != v or abs(v) == float("inf"):
            return None
        return repr(v) + "D"
    return None


def _key_hash(key: Column, salt: str, hash_family: str) -> Column:
    # null keys hash as a sentinel so BOTH families agree (xxhash64 of a
    # NULL concat degrades to the seed constant while md5_32 yields NULL,
    # which would silently dump every null key into the last split label)
    salted = F.concat(
        F.lit(f"{salt}:"), F.coalesce(key.cast("string"), F.lit("\x00null"))
    )
    if hash_family == "md5_32":
        return md5_32(salted)
    if hash_family == "xxhash64":
        return F.xxhash64(salted)
    raise ValueError(f"unknown hash_family {hash_family!r}")


def split_bucket(key: Column, salt: str = "split", hash_family: str = "xxhash64") -> Column:
    """Uniform bucket in [0, SPLIT_BUCKETS) from a salted key hash."""
    return F.pmod(_key_hash(key, salt, hash_family), F.lit(SPLIT_BUCKETS))


def with_split(
    df: DataFrame,
    key_col: str,
    weights: Mapping[str, float] | None = None,
    out: str = "split",
    salt: str = "split",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Assign each row a deterministic train/val/test split label.

    ``weights`` maps label -> fraction (must sum to ~1); labels are applied
    in the given order as cumulative bucket ranges over a salted key hash,
    so the assignment is a pure per-row expression — no shuffle, no rand(),
    stable across runs and engines (with ``hash_family="md5_32"``).
    Changing ``salt`` yields an independent re-split (e.g. for k-fold
    ablations) without touching the data.
    """
    weights = dict({"train": 0.98, "val": 0.01, "test": 0.01} if weights is None else weights)
    if not weights:
        raise ValueError("weights must be non-empty")
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    bucket = split_bucket(F.col(key_col), salt, hash_family)
    # integer cumulative thresholds; the last label absorbs rounding remainder
    labels = list(weights)
    cum, bounds = 0.0, []
    for lbl in labels[:-1]:
        cum += weights[lbl] / total
        bounds.append(int(round(cum * SPLIT_BUCKETS)))
    expr = F.lit(labels[-1])
    for lbl, ub in zip(reversed(labels[:-1]), reversed(bounds)):
        expr = F.when(bucket < ub, F.lit(lbl)).otherwise(expr)
    return df.withColumn(out, expr)


def assign_packs(
    df: DataFrame,
    token_col: str,
    max_tokens: int,
    key_cols: Sequence[str],
    id_col: str,
    salt: str = "pack",
    hash_family: str = "xxhash64",
    out: str = "pack_id",
) -> DataFrame:
    """Assign each document to a fixed-token-budget training pack
    (sequence packing — the step that turns a filtered corpus into
    ~max_tokens concatenation groups for pretraining).

    Greedy contiguous fill in deterministic order: within each ``key_cols``
    group (shard/split — REQUIRED, it is what bounds the window so packing
    scales out), docs are ordered by a salted hash of ``id_col`` and the
    running token total is cut every ``max_tokens``: a doc joins the pack
    where its cumulative start falls, so each pack holds < max_tokens +
    one doc's tokens (downstream truncation/rollover is the consumer's
    policy, as in standard packing pipelines). Deterministic, append-shift
    only within the group, and ONE shuffle on ``key_cols``.

    Emits ``out`` as the 0-based pack index within the key group.
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    if not key_cols:
        raise ValueError(
            "key_cols is required: packing runs per shard/split group — a "
            "global ordering would funnel the corpus through one partition"
        )
    from pyspark.sql import Window

    h = _key_hash(F.col(id_col), salt, hash_family)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(h.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(F.col(token_col).cast("long")).over(w)
    start = running - F.col(token_col).cast("long")
    # integral `div`, not floor(double /): past 2^53 cumulative tokens the
    # double quotient silently loses exactness (same rule as the bloom
    # word index); both operands are longs and non-negative here
    return df.withColumn(out, start).withColumn(
        out, F.expr(f"{ident(out)} div {int(max_tokens)}")
    )


def mix_rates(
    df: DataFrame,
    group_col: str,
    target_shares: Mapping[object, float],
    token_col: str | None = None,
) -> DataFrame:
    """The per-group keep rates ``mix_by_group`` applies: one row per
    LISTED group, columns ``(group_col, mix_rate)`` with
    ``mix_rate = least(1, share × bottleneck_ratio / available)``.
    Capture (and persist) this once per ingest epoch and pass it back via
    ``mix_by_group(..., rates_df=...)`` to pin membership bit-stably
    across corpus growth, or to apply the mixture to a STREAMING frame."""
    if not target_shares:
        raise ValueError("target_shares must be non-empty")
    total = float(sum(target_shares.values()))
    if total <= 0:
        raise ValueError("target_shares must sum to a positive value")

    # r12 one-parse plan build: the per-group CASE chain, the sizes agg
    # and the waterfilling select parse in single batches (same trees as
    # the former Column chain; values pinned by the mixture suite + the
    # token_count mix gate tags). Keys without a safe SQL literal
    # rendering fall back to the Column chain.
    lits = {k: _group_lit_sql(k) for k in target_shares if k is not None}
    one_parse = all(s is not None for s in lits.values())
    share = None
    share_sql = "cast(null as double)"
    for k, v in target_shares.items():
        if float(v) < 0:
            raise ValueError(f"negative share for group {k!r}")
        if one_parse:
            cond = (
                "__mix_g IS NULL" if k is None
                else f"__mix_g <=> {lits[k]}"
            )
            share_sql = (
                f"CASE WHEN {cond} THEN {float(v) / total!r}D"
                f" ELSE {share_sql} END"
            )
        else:
            if share is None:
                share = F.lit(None).cast("double")
            cond = (
                F.col("__mix_g").isNull() if k is None
                else F.col("__mix_g").eqNullSafe(F.lit(k))
            )
            share = F.when(cond, F.lit(float(v) / total)).otherwise(share)

    amount = f"cast({ident(token_col)} as double)" if token_col else "1.0D"
    sizes = (
        df.groupBy(F.col(group_col).alias("__mix_g"))
        .agg(F.expr(f"sum({amount}) AS __avail"))
    )
    if one_parse:
        sizes = sizes.selectExpr("*", f"{share_sql} AS __share")
    else:
        sizes = sizes.withColumn("__share", share)
    sizes = sizes.where(
        "__share IS NOT NULL AND __share > 0 AND __avail > 0"
    )
    # bottleneck ratio via a GLOBAL window over the group-cardinality sizes
    # frame (SinglePartition of a handful of rows) — a separate agg() +
    # cross join is not CSE'd with the sizes subtree and would re-scan the
    # corpus a third time
    return sizes.selectExpr(
        f"__mix_g AS {ident(group_col)}",
        "least(1.0D, __share * min(__avail / __share) OVER () / __avail)"
        " AS mix_rate",
    )


def temperature_rates(
    df: DataFrame,
    group_col: str,
    temperature: float,
    token_col: str | None = None,
) -> DataFrame:
    """Keep rates for a TEMPERATURE-scaled mixture: target share_g ∝
    available_g^τ — the multilingual/multi-source LM sampling recipe
    (XLM-R, mT5): τ=1 keeps natural proportions, τ→0 flattens toward
    uniform, upweighting low-resource groups without upsampling anything
    (the bottleneck group is kept whole, waterfilling like
    :func:`mix_rates`, whose ``(group_col, mix_rate)`` schema and plan
    shape — one map-side-combined sizes agg + a global window over
    group-cardinality rows — this shares). Unlike ``mix_rates`` the
    shares come FROM the availability, so every non-null-share group is
    automatically listed. Capture once and pass via
    ``mix_by_group(rates_df=...)`` for append-stable membership."""
    if not (temperature > 0):
        raise ValueError(f"temperature must be > 0, got {temperature}")
    # r12 one-parse plan build (the mix_rates idiom)
    amount = f"cast({ident(token_col)} as double)" if token_col else "1.0D"
    sized = (
        df.groupBy(F.col(group_col).alias("__mix_g"))
        .agg(F.expr(f"sum({amount}) AS __avail"))
        .where("__avail > 0")
        .selectExpr(
            "*", f"pow(__avail, {float(temperature)!r}D) AS __pw"
        )
        .selectExpr("*", "__pw / sum(__pw) OVER () AS __share")
    )
    return sized.selectExpr(
        f"__mix_g AS {ident(group_col)}",
        "least(1.0D, __share * min(__avail / __share) OVER () / __avail)"
        " AS mix_rate",
    )


def mix_by_temperature(
    df: DataFrame,
    key_col: str,
    group_col: str,
    temperature: float,
    token_col: str | None = None,
    salt: str = "mix",
    hash_family: str = "xxhash64",
    mode: str = "drop",
) -> DataFrame:
    """:func:`mix_by_group` with :func:`temperature_rates` — downsample to
    the τ-scaled mixture in one call (same determinism, same two-scan
    zero-shuffle plan; the rates frame broadcasts)."""
    return mix_by_group(
        df,
        key_col,
        group_col,
        None,
        token_col=token_col,
        salt=salt,
        hash_family=hash_family,
        mode=mode,
        rates_df=temperature_rates(df, group_col, temperature, token_col),
    )


def mix_by_group(
    df: DataFrame,
    key_col: str,
    group_col: str,
    target_shares: Mapping[object, float] | None,
    token_col: str | None = None,
    salt: str = "mix",
    hash_family: str = "xxhash64",
    mode: str = "drop",
    rates_df: DataFrame | None = None,
) -> DataFrame:
    """Downsample groups to a target mixture (curriculum / source mixing —
    the step that turns "we crawled 80% web, 5% code, 15% books" into the
    "50% web, 25% code, 25% books" a training run actually wants).

    Waterfilling semantics: the bottleneck group (smallest
    ``available/share`` ratio) is kept WHOLE and every other listed group
    downsamples deterministically to match the target proportions — the
    largest output satisfying the mixture without upsampling. With
    ``token_col``, availability is measured in tokens (shares target token
    mass; decisions stay whole-document, so the match is in expectation
    over documents). Groups absent from ``target_shares`` are not part of
    the mixture: dropped (``mode="drop"``) or flagged false
    (``mode="flag"``, adds a ``mix_keep`` boolean instead of filtering).

    Deterministic and append-stable like every sampler here: the keep
    decision is ``salted_hash_bucket(key) < rate × SPLIT_BUCKETS``; re-runs
    keep identical rows, new documents never move old decisions (the RATES
    shift as availability grows — pin them by capturing
    ``mix_rates(df, …)`` once and passing the frozen frame back via
    ``rates_df=``; bit-stable membership across ingests, and the apply
    side becomes a pure per-row broadcast-join + filter that composes with
    STREAMING frames, where the sizes aggregation cannot run).

    Plan shape: one narrow group-size aggregation (map-side combined — a
    group spanning the whole corpus still contributes one row per task)
    joined back via **broadcast** (group-cardinality rows); the keep filter
    is then a pure per-row expression. The corpus is scanned twice (sizes +
    filter), never shuffled. NULL groups are groups like any other
    (null-safe join; list them with a ``None`` key)."""
    if mode not in ("drop", "flag"):
        raise ValueError(f"unknown mode {mode!r}")
    if rates_df is None:
        rates_df = mix_rates(df, group_col, target_shares, token_col)
    rates = rates_df.select(
        F.col(group_col).alias("__mix_g"), F.col("mix_rate").alias("__rate")
    )
    bucket = split_bucket(F.col(key_col), salt, hash_family)
    joined = df.join(
        F.broadcast(rates), F.col(group_col).eqNullSafe(F.col("__mix_g")), "left"
    )
    keep = F.col("__rate").isNotNull() & (bucket < F.col("__rate") * SPLIT_BUCKETS)
    if mode == "flag":
        return joined.withColumn("mix_keep", keep).drop("__mix_g", "__rate")
    return joined.where(keep).drop("__mix_g", "__rate")


def sample_by_weight(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    salt: str = "wsample",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Keep each row with probability equal to its ``weight_col`` value in
    [0, 1] — deterministically (CCNet-style quality-weighted downsampling:
    high-quality documents survive at higher rates, and re-runs keep
    EXACTLY the same rows). A row is kept iff its salted key hash bucket
    falls below ``weight × SPLIT_BUCKETS``, so the decision is a pure
    per-row expression: zero shuffle, stable under appends, independent
    re-draws via ``salt``. Null/negative weights drop the row; weights
    ≥ 1 always keep it."""
    w = F.col(weight_col).cast("double")
    bucket = split_bucket(F.col(key_col), salt, hash_family)
    return df.where(bucket < F.coalesce(w, F.lit(0.0)) * SPLIT_BUCKETS)


def upsample_by_weight(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    salt: str = "upsample",
    hash_family: str = "xxhash64",
    out_epoch: str = "epoch",
) -> DataFrame:
    """Emit each row ~``weight`` times in EXPECTATION, deterministically —
    the upweighting half of data mixing (``sample_by_weight`` /
    ``mix_by_*`` only ever downsample; DoReMi-style domain reweighting
    also needs "repeat this low-resource domain 2.3×"): ``floor(weight)``
    guaranteed copies plus one more iff the salted key bucket falls below
    the fractional part, so weight 2.3 → 2 copies always + a 3rd for a
    stable 30% of keys. ``out_epoch`` numbers the copies 0..n−1 (training
    loaders interleave epochs; shard/shuffle AFTER upsampling so copies
    don't sit adjacent). Null/negative weights drop the row; weights in
    (0, 1) degrade to exactly ``sample_by_weight`` semantics.

    A pure per-row ``explode_outer(sequence(...))`` + post-Generate
    filter — zero shuffle, append-stable, re-draws via ``salt``. Spark's
    ``sequence(a, b)`` COUNTS DOWN when a > b, so the zero-copy case must
    short-circuit to a NULL rather than emit phantom negative epochs;
    ``explode_outer`` (not ``explode``) per the repo's pushdown gotcha —
    a plain explode's implied ``size > 0`` filter would rebuild the
    n-element sequence a second time per row just to size-check it."""
    if out_epoch in df.columns:
        raise ValueError(
            f"output column {out_epoch!r} already exists; pass out_epoch="
        )
    w = F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0))
    # NaN weights must DROP like null/negative ones: NaN compares greater
    # than every double (bucket < NaN*SB would be true) and floor(NaN)
    # casts to 0, which would silently emit one copy
    w = F.when(F.isnan(w), F.lit(0.0)).otherwise(w)
    bucket = split_bucket(F.col(key_col), salt, hash_family)
    extra = (bucket < (w - F.floor(w)) * SPLIT_BUCKETS).cast("int")
    n = (F.floor(w).cast("int") + extra).alias("__n")
    copies = F.when(n >= 1, F.sequence(F.lit(0), n - 1))
    return df.withColumn(out_epoch, F.explode_outer(copies)).where(
        F.col(out_epoch).isNotNull()
    )


def with_shard(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    salt: str = "shard",
    hash_family: str = "xxhash64",
    out_shard: str = "shard_id",
    out_pos: str | None = None,
) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the export step
    that turns a filtered corpus into N pseudo-randomly-ordered training
    shards. ``out_shard`` = salted key hash mod ``n_shards`` (a pure
    per-row expression, zero shuffle); ``out_pos`` optionally adds the
    0-based position within the shard under the hash ordering — the global
    shuffle order — at the cost of one shuffle on ``out_shard`` (Spark
    computes rank via a per-shard window; shards are the parallelism unit,
    so pick n_shards >> executor count).

    Reproducible where ``df.orderBy(rand())`` is not: re-runs and engine
    changes (``hash_family="md5_32"``) land every row in the same shard at
    the same position, and appended rows never move earlier rows to a
    different shard (positions within a shard can shift — a total order
    must admit insertions).
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    h = _key_hash(F.col(id_col), salt, hash_family)
    out = df.withColumn(out_shard, F.pmod(h, F.lit(n_shards)))
    if out_pos is None:
        return out
    from pyspark.sql import Window

    w = Window.partitionBy(out_shard).orderBy(h.asc(), F.col(id_col).asc())
    return out.withColumn(out_pos, F.row_number().over(w) - 1)


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    salt: str = "shard",
    hash_family: str = "xxhash64",
    format: str = "parquet",
) -> None:
    """Write ``df`` as ``n_shards`` hash-shuffled shard directories
    (``shard_id=K/``), each file sorted in the deterministic shuffle order
    (salted hash asc) so a sequential reader consumes a reproducible
    pseudo-random permutation. ONE shuffle: rows repartition by shard (each
    shard lands wholly in one task → one sorted file per shard), sort
    within partitions, and write through ``partitionBy`` so readers prune
    by shard directory."""
    sharded = with_shard(df, id_col, n_shards, salt, hash_family)
    h = _key_hash(F.col(id_col), salt, hash_family)
    (
        sharded.repartition(n_shards, F.col("shard_id"))
        # shard_id leads the sort: several shards can hash into one write
        # task, and the partitioned-file writer re-sorts by partition cols
        # (NON-stably, destroying the hash order) unless the incoming
        # ordering already starts with them
        .sortWithinPartitions(F.col("shard_id"), h.asc(), F.col(id_col).asc())
        .write.partitionBy("shard_id")
        .format(format)
        .mode("overwrite")
        .save(path)
    )


def sample_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    n: int,
    id_col: str,
    salt: str = "sample",
    hash_family: str = "xxhash64",
    out_rank: str | None = None,
) -> DataFrame:
    """Keep a deterministic sample of at most ``n`` rows per key group.

    Rows are ranked inside each key by a salted hash of ``id_col`` (which
    must be unique per row — it is the tiebreak that makes the sample
    exact); the ``n`` smallest hashes win. Equivalent in distribution to a
    uniform reservoir sample but reproducible and incremental. One shuffle
    on ``key_cols`` — and Spark rewrites the ``row_number() <= n`` filter
    into ``WindowGroupLimit`` with a PARTIAL phase before the exchange, so
    each map task ships at most n rows per key: the shuffle carries
    O(keys · n), not the corpus (tests pin this plan shape).

    ``out_rank`` optionally exposes the 1-based rank column.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    from pyspark.sql import Window

    h = _key_hash(F.col(id_col), salt, hash_family)
    w = Window.partitionBy(*key_cols).orderBy(h.asc(), F.col(id_col).asc())
    rank = F.row_number().over(w)
    ranked = df.withColumn("__rank", rank).where(F.col("__rank") <= n)
    if out_rank:
        return ranked.withColumnRenamed("__rank", out_rank)
    return ranked.drop("__rank")


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_tokens: int = 512,
    overlap: int = 0,
    out_text: str = "chunk",
    out_idx: str = "chunk_idx",
    out_n: str = "n_chunks",
    boundary: str = "token",
    sentence_fallback: int = 10_000,
) -> DataFrame:
    """Explode each document into fixed-size token windows for a model
    context length: chunk ``i`` covers tokens
    ``[i·(max_tokens−overlap), i·(max_tokens−overlap)+max_tokens)`` (the
    standard stride-with-overlap recipe, so no sequence boundary splits
    content without the next chunk re-seeing ``overlap`` tokens of it).
    The last chunk is whatever remains; a document at or under
    ``max_tokens`` yields exactly one chunk of itself
    (whitespace-normalized). Null-text rows keep one all-null chunk row —
    the document stays visible.

    Everything is per-row JVM work (split → sequence-explode → slice):
    zero shuffles, streams unchanged, fanout ≈ n_tokens/stride per doc.
    Chain ``assign_packs`` on the chunk frame to pack the chunks into
    training sequences.

    ``boundary="sentence"`` packs whole sentences greedily instead: a chunk
    takes consecutive sentences while their token total stays within
    ``max_tokens`` (a sentence longer than ``max_tokens`` is first
    hard-split at token grain, so every chunk respects the budget). RAG and
    eval pipelines want this grain — a mid-sentence cut destroys the very
    context the chunk exists to carry. Requires ``overlap=0`` (sentence
    packing has no fixed stride). Same per-row-only cost shape; the greedy
    fold is one parsed-SQL ``aggregate`` over the sentence array. The
    fold is quadratic in sentence count per row, so rows with more than
    ``sentence_fallback`` sentences (default 10⁴ — book length) fall back
    to token-grain chunks (see :func:`_chunk_documents_by_sentence`)."""
    if max_tokens < 1 or not (0 <= overlap < max_tokens):
        raise ValueError(
            "chunk_documents needs max_tokens >= 1 and 0 <= overlap < max_tokens"
        )
    if boundary not in ("token", "sentence"):
        raise ValueError(f"boundary must be 'token' or 'sentence', got {boundary!r}")
    for c in (out_text, out_idx, out_n, "__tempo_ctoks", "__tempo_chunks",
              "__tempo_sz", "__tempo_ft", "__tempo_fb"):
        if c in df.columns:
            raise ValueError(f"output column {c!r} already present in input")
    if boundary == "sentence":
        if overlap:
            raise ValueError("boundary='sentence' requires overlap=0")
        if sentence_fallback < 1:
            raise ValueError("sentence_fallback must be >= 1")
        return _chunk_documents_by_sentence(
            df, text_col, max_tokens, out_text, out_idx, out_n,
            max_sentences=sentence_fallback,
        )
    from tempo_spark.pipeline.text import tokens_col

    step = max_tokens - overlap
    toks_c = "__tempo_ctoks"
    # ceil((n - overlap) / step) via integral `div` (repo convention — `/`
    # is double division); ≥1 so short and empty docs still yield their
    # single (possibly empty) chunk
    n_chunks = F.greatest(
        F.lit(1).cast("long"),
        F.expr(
            f"(size({toks_c}) - {overlap} + {step - 1}) div {step}"
        ).cast("long"),
    )
    staged = (
        df.withColumn(toks_c, tokens_col(F.col(text_col)))
        .withColumn(out_n, F.when(F.col(toks_c).isNotNull(), n_chunks))
        .withColumn(
            out_idx,
            F.explode_outer(F.sequence(F.lit(0), F.col(out_n) - F.lit(1))),
        )
    )
    chunk = F.concat_ws(
        " ",
        F.slice(
            F.col(toks_c),
            (F.col(out_idx) * F.lit(step) + F.lit(1)).cast("int"),
            max_tokens,
        ),
    )
    return staged.withColumn(
        out_text, F.when(F.col(out_idx).isNotNull(), chunk)
    ).drop(toks_c)


def _chunk_documents_by_sentence(
    df: DataFrame,
    text_col: str,
    max_tokens: int,
    out_text: str,
    out_idx: str,
    out_n: str,
    max_sentences: int = 10_000,
) -> DataFrame:
    """Greedy sentence packing for ``chunk_documents(boundary="sentence")``.

    Per row, all in JVM HOF expressions: sentence-split, hard-split any
    over-budget sentence at token grain, then ONE ``aggregate`` fold
    assigns each piece a chunk id (new chunk when the running token total
    would exceed ``max_tokens``), and the chunk texts reassemble from the
    (piece, id) pairs.

    The (piece, id) array is MATERIALIZED into a staging column before
    assembly — lambda bodies are interpreted with no CSE, so referencing
    the fold inline from the per-chunk lambda would re-run it once per
    chunk (measured near-cubic in sentence count before this hoist; the
    with_minhash lesson). Residual per-row cost: the fold's id append is
    O(pieces²) int copies and assembly is O(chunks × pieces) element
    compares — fine through book-length docs (~10⁴ sentences), quadratic
    beyond.

    Rows with more than ``max_sentences`` sentences therefore FALL BACK to
    token-grain chunking (per-row ``when`` — the quadratic fold is never
    evaluated for them): a mid-sentence cut on a pathological
    million-sentence row beats a quadratic stall, and the budget contract
    (every chunk ≤ max_tokens) still holds. Probe: near-linear through
    10⁵-sentence rows (scripts/scale_probe.py --chunk).
    """
    from tempo_spark.pipeline.text import sentences_col, tokens_col

    text = F.col(text_col)
    toks = tokens_col
    sents = sentences_col(text)
    # Under ANSI mode size(NULL array) is NULL, so this flag is NULL for
    # null-text rows; correctness rests on the text.isNull() branch below
    # being evaluated FIRST (their chunks are nulled explicitly there and
    # neither the sentence nor the token path ever runs for them).
    fallback = F.size(sents) > F.lit(int(max_sentences))

    def hard_split(s):
        tk = toks(s)
        # ceil(n / max_tokens) — int sizes can't overflow the double path
        nw = F.floor(
            (F.size(tk) + F.lit(max_tokens - 1)).cast("long") / F.lit(max_tokens)
        ).cast("int")
        return F.transform(
            F.sequence(F.lit(0), nw - 1),
            lambda i: F.array_join(
                F.slice(tk, (i * max_tokens + 1).cast("int"), max_tokens), " "
            ),
        )

    pieces = F.flatten(
        F.transform(
            sents,
            lambda s: F.when(
                F.size(toks(s)) <= max_tokens, F.array(s)
            ).otherwise(hard_split(s)),
        )
    )
    counts = F.transform(pieces, lambda p: F.size(toks(p)))

    acc0 = F.struct(
        F.array().cast("array<int>").alias("ids"),
        F.lit(0).alias("cid"),
        F.lit(0).alias("cur"),
    )

    def step(acc, n):
        new_chunk = (acc["cur"] > 0) & ((acc["cur"] + n) > max_tokens)
        cid = F.when(new_chunk, acc["cid"] + 1).otherwise(acc["cid"])
        cur = F.when(new_chunk, n).otherwise(acc["cur"] + n)
        return F.struct(
            F.concat(acc["ids"], F.array(cid)).alias("ids"),
            cid.alias("cid"),
            cur.alias("cur"),
        )

    ids = F.aggregate(counts, acc0, step, lambda acc: acc["ids"])
    z = F.zip_with(pieces, ids, lambda p, i: F.struct(p.alias("p"), i.alias("i")))
    zc = "__tempo_sz"
    # CaseWhen evaluates branches lazily per row: over-threshold rows never
    # pay the quadratic fold, under-threshold rows never tokenize twice.
    # The flag itself is bound to a column — three inline references would
    # re-run the sentence split regex per reference
    staged = df.withColumn("__tempo_fb", fallback)
    fb = F.col("__tempo_fb")
    staged = staged.withColumn(zc, F.when(~fb, z)).withColumn(
        "__tempo_ft", F.when(fb, toks(text))
    )
    # everything below references the BOUND column, never the z expression
    zcol = F.col(zc)
    n_chunks = F.coalesce(F.try_element_at(zcol, F.lit(-1))["i"] + 1, F.lit(0))
    assembled = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.array_join(
            F.transform(F.filter(zcol, lambda e: e["i"] == k), lambda e: e["p"]), " "
        ),
    )
    # token-grain fallback chunks for over-threshold rows, from the bound
    # token column (same slice recipe as hard_split)
    ftc = F.col("__tempo_ft")
    nw_fb = F.floor(
        (F.size(ftc) + F.lit(max_tokens - 1)).cast("long") / F.lit(max_tokens)
    ).cast("int")
    token_chunks = F.when(
        F.size(ftc) > 0,
        F.transform(
            F.sequence(F.lit(0), nw_fb - 1),
            lambda i: F.array_join(
                F.slice(ftc, (i * max_tokens + 1).cast("int"), max_tokens), " "
            ),
        ),
    ).otherwise(F.array(F.lit("")))
    # empty doc -> one empty chunk; NULL text -> one all-null chunk row
    # (both match the token-mode contract)
    chunks = F.when(text.isNull(), F.lit(None).cast("array<string>")).otherwise(
        F.when(fb, token_chunks).otherwise(
            F.when(n_chunks == 0, F.array(F.lit(""))).otherwise(assembled)
        )
    )
    staged = staged.withColumn("__tempo_chunks", chunks).drop(
        zc, "__tempo_ft", "__tempo_fb"
    )
    staged = staged.withColumn(
        out_n, F.when(text.isNotNull(), F.size(F.col("__tempo_chunks")).cast("long"))
    )
    exploded = staged.select(
        "*", F.posexplode_outer("__tempo_chunks").alias(out_idx, out_text)
    ).drop("__tempo_chunks")
    return exploded.withColumn(out_idx, F.col(out_idx).cast("long"))


def take_token_budget(
    df: DataFrame,
    budget: int,
    id_col: str,
    token_col: str | None = None,
    text_col: str = "text",
    by: Sequence[str] | None = None,
    order_by: str | Column | None = None,
    salt: str = "budget",
    hash_family: str = "xxhash64",
    keep_col: str | None = None,
    n_buckets_bits: int = 12,
) -> DataFrame:
    """Greedy token-budget selection: walk the corpus in a deterministic
    order and keep documents until ``budget`` tokens are taken (per
    ``by`` group if given, else globally). The document that crosses the
    budget line is KEPT (bounded overshoot of < one document), so the
    budget is a floor once enough data exists, never silently under-run
    by an unlucky last doc.

    A row is kept iff the tokens of all rows strictly BEFORE it (in the
    selection order) total < ``budget``. Null token counts consume 0.

    Order: by default, a salted hash of ``id_col`` (deterministic uniform
    sample of the corpus — re-salt for an independent draw). With the
    default hash order the global cumulative sum is computed by HASH-
    BUCKET DECOMPOSITION, not a single-partition window: the top
    ``n_buckets_bits`` bits of the hash are a monotone coarsening of the
    order key, so prefix = (sum of all earlier buckets — a tiny
    buckets-per-group frame, cumsummed and broadcast back) + (the
    within-bucket running sum — a window partitioned by bucket, fully
    parallel). An exact distributed prefix sum: no task ever sees more
    than ~1/2^bits of the corpus, which is what makes a GLOBAL budget
    usable at 100 TB.

    ``order_by=`` replaces the hash with an explicit ranking column (e.g.
    a quality score, descending via ``F.col(...).desc()`` — budget the
    best documents first). Arbitrary keys can't be hash-bucketed, so this
    path windows directly over ``by`` — ALWAYS pass ``by`` with it (a
    global order_by budget funnels the corpus through one task; for
    global quality budgeting, quantize the score into a column and pass
    it as ``by``'s sibling... or accept the single-task window for
    moderate sizes).

    ``keep_col=`` flags instead of filtering. ``token_col=`` uses a
    precomputed count (recommended — otherwise both the detail pass and
    the bucket-totals pass tokenize ``text_col``).
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    groups = list(by or [])
    for c in (id_col, *groups):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in DataFrame")
    from pyspark.sql import Window

    from tempo_spark.pipeline.text import tokens_col

    reserved = {"__tb_h", "__tb_tok", "__tb_b", "__tb_off", "__tb_keep",
                "__tb_ob"} | {f"__tb_g_{c}" for c in groups}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(f"reserved staging columns present: {sorted(clash)}")
    if token_col is not None:
        tok = F.col(token_col)
    else:
        tok = F.size(tokens_col(F.col(text_col)))
    tok = F.coalesce(tok.cast("long"), F.lit(0))

    if order_by is not None:
        order = F.col(order_by) if isinstance(order_by, str) else order_by
        staged = df.withColumn("__tb_tok", tok)
        w_in = (
            Window.partitionBy(*[F.col(c) for c in groups])
            .orderBy(order, F.col(id_col))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prefix = F.coalesce(F.sum("__tb_tok").over(w_in), F.lit(0))
        kept = staged.withColumn(
            "__tb_keep", prefix < F.lit(int(budget))
        )
    else:
        shift = (32 if hash_family == "md5_32" else 64) - n_buckets_bits
        staged = (
            df.withColumn(
                "__tb_h", _key_hash(F.col(id_col), salt, hash_family)
            )
            .withColumn("__tb_tok", tok)
            .withColumn("__tb_b", F.shiftright(F.col("__tb_h"), shift))
        )
        totals = staged.groupBy(
            *[F.col(c) for c in groups], F.col("__tb_b")
        ).agg(F.sum("__tb_tok").alias("__tb_btot"))
        w_b = (
            Window.partitionBy(*[F.col(c) for c in groups])
            .orderBy(F.col("__tb_b"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = totals.select(
            *[F.col(c).alias(f"__tb_g_{c}") for c in groups],
            F.col("__tb_b").alias("__tb_ob"),
            F.coalesce(F.sum("__tb_btot").over(w_b), F.lit(0)).alias(
                "__tb_off"
            ),
        )
        # eqNullSafe on the group keys: a NULL-valued group is a group
        # like any other (renamed keys dodge the ambiguous-self-join check)
        cond = [
            F.col(c).eqNullSafe(F.col(f"__tb_g_{c}")) for c in groups
        ] + [F.col("__tb_b") == F.col("__tb_ob")]
        w_in = (
            Window.partitionBy(*[F.col(c) for c in groups], "__tb_b")
            .orderBy(F.col("__tb_h"), F.col(id_col))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prefix_in = F.coalesce(F.sum("__tb_tok").over(w_in), F.lit(0))
        kept = (
            staged.join(F.broadcast(offsets), cond)
            .withColumn(
                "__tb_keep",
                (F.col("__tb_off") + prefix_in) < F.lit(int(budget)),
            )
        )
    out_cols = list(df.columns)
    if keep_col is not None:
        if keep_col in df.columns:
            raise ValueError(f"keep_col {keep_col!r} already exists")
        return kept.select(
            *out_cols, F.col("__tb_keep").alias(keep_col)
        )
    return kept.where(F.col("__tb_keep")).select(*out_cols)
